"""Approximate nearest neighbours: random-hyperplane LSH and IVF.

Both searches share one fold. One driver job collects the query vector
and one partial-sum row per IVF cell (per partition). From these the
driver forms the hyperplanes (md5-derived, so any SQL engine
reproduces them), the query's sign signature, the cell centroids and
the probed cells. Then one Arrow kernel folds each vector's plane
dots, its dot with the query and its squared norm in array order — the
order of Spark's left-fold ``aggregate``, so every value is bit-identical
to the SQL form. The sign bits, the hamming filter, the 6-dp rounding
and both top-k's stay in Catalyst, as plain arithmetic.
"""

from __future__ import annotations

import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def md5_planes(n_planes: int, dim: int) -> np.ndarray:
    """(n_planes, dim) hyperplane components in [-1, 1): the first 15
    hex digits of md5('{j}_{d}') over 2^59, less 1 — what DuckDB
    computes as ``CAST('0x' || substr(md5(...), 1, 15) AS BIGINT)
    / 2^59 - 1``. int -> double rounds to nearest in both, and the
    power-of-two scale and the -1 are exact."""
    return np.array(
        [
            [
                int(hashlib.md5(f"{j}_{d}".encode()).hexdigest()[:15], 16)
                / float(1 << 59)
                - 1.0
                for d in range(dim)
            ]
            for j in range(n_planes)
        ]
    )


def fold_dots(vecs: np.ndarray, weights: np.ndarray) -> np.ndarray:
    """(n, m) dots of each row of ``vecs`` with each row of ``weights``,
    summed in array order from 0.0: one IEEE multiply and one add per
    element, as Spark's ``aggregate(zip_with(...), 0.0D, acc + v)``
    folds. No ``np.dot``: BLAS reorders the sum."""
    acc = np.zeros((vecs.shape[0], weights.shape[0]))
    for d in range(vecs.shape[1]):
        acc += vecs[:, d, None] * weights[:, d]
    return acc


def spark_round(x: float, scale: int = 6) -> float:
    """Spark's ``round(x, scale)`` on a double: HALF_UP on the decimal
    form of the value (``java.math.BigDecimal.valueOf``), so 2.5e-7
    rounds to 1e-6 at scale 6. Zero comes back unsigned."""
    if math.isnan(x) or math.isinf(x):
        return x
    q = Decimal(repr(x)).quantize(Decimal(1).scaleb(-scale), ROUND_HALF_UP)
    return float(q) + 0.0


def _vectors(pdf: pd.DataFrame) -> np.ndarray:
    return np.stack(pdf["embedding"].to_numpy()).astype(np.float64)


def _cell_sums(query_vec_id: int):
    """mapInPandas kernel: per batch, one (label, n, sum) row per cell
    present, and the query's own row (``query`` true) if the batch
    holds it."""

    def cell_sums(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            vecs = _vectors(pdf)
            labels = pdf["label"].to_numpy()
            order = np.argsort(labels, kind="stable")
            cells, starts, counts = np.unique(
                labels[order], return_index=True, return_counts=True
            )
            sums = np.add.reduceat(vecs[order], starts)
            out = pd.DataFrame(
                {"query": False, "label": cells, "n": counts, "vec": list(sums)}
            )
            hit = np.flatnonzero(pdf["vec_id"].to_numpy() == query_vec_id)
            if len(hit):
                i = hit[0]
                q = pd.DataFrame(
                    {"query": [True], "label": [labels[i]], "n": [1], "vec": [vecs[i]]}
                )
                out = pd.concat([out, q], ignore_index=True)
            yield out

    return cell_sums


class AnnQuery(NamedTuple):
    """The driver's side of one search: the query vector, its norm and
    sign signature, and the probed cells, best first."""

    vector: np.ndarray
    norm: float
    signature: int
    probe: list


def ann_query(
    embeddings: DataFrame,
    query_vec_id: int,
    n_planes: int = 16,
    n_probe_cells: int = 3,
) -> AnnQuery | None:
    """One Spark job: the query vector and the per-cell partial sums,
    collected. None when no row has ``query_vec_id``.

    A cell's centroid is its sum over its count. Cells rank by
    ``round(cos(centroid, query), 6)`` descending, then label — the
    rounding absorbs the last-ulp spread of summation order between
    engines, so the probed set is the same in DuckDB."""
    label_type = embeddings.schema["label"].dataType
    schema = T.StructType(
        [
            T.StructField("query", T.BooleanType()),
            T.StructField("label", label_type),
            T.StructField("n", T.LongType()),
            T.StructField("vec", T.ArrayType(T.DoubleType())),
        ]
    )
    rows = (
        embeddings.select("vec_id", "label", "embedding")
        .mapInPandas(_cell_sums(query_vec_id), schema)
        .collect()
    )
    q = next((np.array(r["vec"]) for r in rows if r["query"]), None)
    if q is None:
        return None
    cells: dict = {}
    for r in rows:
        if not r["query"]:
            n, s = cells.get(r["label"], (0, 0.0))
            cells[r["label"]] = (n + r["n"], s + np.array(r["vec"]))
    qn = math.sqrt(fold_dots(q[None, :], q[None, :])[0, 0])
    csim = {}
    for label, (n, s) in cells.items():
        c = (s / n)[None, :]
        dot = fold_dots(c, q[None, :])[0, 0]
        csim[label] = spark_round(dot / (math.sqrt(fold_dots(c, c)[0, 0]) * qn))
    probe = sorted(csim, key=lambda lab: (-csim[lab], lab))[:n_probe_cells]
    dots = fold_dots(q[None, :], md5_planes(n_planes, len(q)))[0]
    signature = sum(1 << j for j, v in enumerate(dots) if spark_round(v) >= 0)
    return AnnQuery(q, qn, signature, probe)


def _norm2(vecs: np.ndarray) -> np.ndarray:
    """Each row's squared norm, folded in array order."""
    acc = np.zeros(vecs.shape[0])
    for d in range(vecs.shape[1]):
        acc += vecs[:, d] * vecs[:, d]
    return acc


def _plane_cols(n_planes: int) -> list[str]:
    return [f"p{j}" for j in range(n_planes)]


def ann_fold(embeddings: DataFrame, query: np.ndarray, n_planes: int = 16) -> DataFrame:
    """(vec_id, label, p0..p{n-1}, qdot, norm2): each vector's dots with
    the md5 planes and with ``query``, and its squared norm, folded in
    array order by one mapInPandas kernel."""
    weights = np.vstack([md5_planes(n_planes, len(query)), query])
    names = _plane_cols(n_planes) + ["qdot"]

    def plane_dots(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            vecs = _vectors(pdf)
            out = pd.DataFrame(fold_dots(vecs, weights), columns=names)
            out["norm2"] = _norm2(vecs)
            out.insert(0, "label", pdf["label"].to_numpy())
            out.insert(0, "vec_id", pdf["vec_id"].to_numpy())
            yield out

    fields = embeddings.schema
    schema = T.StructType(
        [fields["vec_id"], fields["label"]]
        + [T.StructField(c, T.DoubleType(), False) for c in names + ["norm2"]]
    )
    return embeddings.select("vec_id", "label", "embedding").mapInPandas(
        plane_dots, schema
    )


def ann_search(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_planes: int = 16,
    max_hamming: int = 4,
    n_probe_cells: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """(lsh, ivf) top-k frames over one fold: ``lsh`` is (vec_id,
    score, hamming), the vectors whose sign signature lies within
    ``max_hamming`` bits of the query's; ``ivf`` is (vec_id, label,
    score), the members of the ``n_probe_cells`` cells nearest the
    query. Both exclude the query, rank by ``round(cosine, 6)``
    descending then vec_id, and scan the corpus once each with no
    shuffle of it."""
    q = ann_query(embeddings, query_vec_id, n_planes, n_probe_cells)
    if q is None:
        # no query vector: both searches are empty
        q = AnnQuery(np.zeros(1), 1.0, 0, [])
        embeddings = embeddings.filter(F.lit(False))
    scored = ann_fold(embeddings, q.vector, n_planes).filter(
        F.col("vec_id") != query_vec_id
    )
    score = F.round(F.col("qdot") / (F.sqrt("norm2") * F.lit(q.norm)), 6)
    bits = " | ".join(
        f"shiftleft(CASE WHEN round({p}, 6) >= 0 THEN 1L ELSE 0L END, {j})"
        for j, p in enumerate(_plane_cols(n_planes))
    )
    lsh = (
        scored.select(
            "vec_id",
            score.alias("score"),
            F.expr(f"bit_count(({bits}) ^ {q.signature}L)").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .orderBy(F.col("score").desc(), "vec_id")
        .limit(k)
    )
    ivf = (
        scored.filter(F.col("label").isin(q.probe))
        .select("vec_id", "label", score.alias("score"))
        .orderBy(F.col("score").desc(), "vec_id")
        .limit(k)
    )
    return lsh, ivf


def lsh_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_planes: int = 16,
    max_hamming: int = 4,
) -> DataFrame:
    """Top-k by cosine among LSH candidates (multi-probe by hamming):
    (vec_id, score, hamming). See :func:`ann_search`."""
    return ann_search(embeddings, query_vec_id, k, n_planes, max_hamming)[0]


def ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_probe_cells: int = 3,
) -> DataFrame:
    """IVF-style ANN: coarse cells (the ``label`` column; a full build
    would k-means it) -> probe the cells nearest the query -> exact
    re-score of their members only: (vec_id, label, score). At scale
    only nprobe/ncells of the corpus passes the filter — the classic
    IVF recall/cost dial. See :func:`ann_search`."""
    return ann_search(embeddings, query_vec_id, k, n_probe_cells=n_probe_cells)[1]
