"""MinHash-LSH and SimHash near-duplicate operators.

MinHash runs as two Arrow kernels around Catalyst exchanges. The
signature kernel splits each document's text into word 3-grams,
takes a 28-bit md5 id per shingle (the id any SQL engine reproduces,
see :func:`portable_hex_id`) and min-reduces the (a*x + b) mod p
permutations in NumPy int64. The signature frame is exchanged once by
doc id; its band rows are exchanged by band key into a second kernel
that streams each bucket and emits the candidate id pairs, and the
pairs are scored by joining the signature frame back. SimHash stays
in Catalyst expressions (bit sums and shifts).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# 2^31-1: with ids x < 2^31, a*x + b < 2^62, so the int64 math is exact
# (and, in the DuckDB oracles' bigint math, cannot overflow).
_MERSENNE_P = (1 << 31) - 1


def _perm_params(n_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    # Deterministic LCG-derived (a, b) pairs — stable across runs/nodes.
    params = []
    state = seed
    for _ in range(n_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (_MERSENNE_P - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _MERSENNE_P
        params.append((a, b))
    return params


def portable_hex_id(col: str, ndigits: int) -> "F.Column":
    """Engine-neutral integer id from the first ``ndigits`` hex digits
    of md5 — the same value DuckDB computes as
    ``CAST('0x' || substr(md5(col), 1, n) AS BIGINT)``, which is what
    makes the MinHash/SimHash driver queries oracle-checkable. Stays
    all-Catalyst (md5/substring/conv are JVM built-ins); cap ndigits at
    15 (60 bits) so the bigint never overflows downstream products."""
    if not 1 <= ndigits <= 15:
        raise ValueError("ndigits must be 1..15")
    return F.conv(F.substring(F.md5(col), 1, ndigits), 16, 10).cast("bigint")


def _perm_arrays(n_hashes: int) -> tuple[np.ndarray, np.ndarray]:
    a, b = zip(*_perm_params(n_hashes))
    return np.array(a, np.int64), np.array(b, np.int64)


def _min_reduce(
    x: np.ndarray, starts: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """(groups, n_hashes) minima of (a_j * x + b_j) mod p over the runs
    of ``x`` that begin at ``starts`` (each run non-empty). int64 is
    exact: x < 2^31 and a_j < 2^31 keep a_j * x + b_j below 2^63."""
    out = np.empty((len(starts), len(a)), np.int64)
    for j in range(len(a)):
        out[:, j] = np.minimum.reduceat((x * a[j] + b[j]) % _MERSENNE_P, starts)
    return out


def _shingle_ids(text: str) -> np.ndarray:
    """The 28-bit ids of a text's word 3-grams: split on single spaces
    and joined back with one, as ``queries/dedup.py::_shingles_of``
    forms them in Catalyst, then the first 7 hex digits of md5, the
    same value as ``portable_hex_id(shingle, 7)``."""
    w = text.split(" ")
    head = b"".join(
        hashlib.md5(f"{p} {q} {r}".encode()).digest()[:4]
        for p, q, r in zip(w, w[1:], w[2:])
    )
    return np.frombuffer(head, ">u4").astype(np.int64) >> 4


def _hash_names(n_hashes: int) -> list[str]:
    return [f"h{j}" for j in range(n_hashes)]


def _signature_schema(id_field: T.StructField, n_hashes: int) -> T.StructType:
    # non-nullable: the joins on doc id then infer no isnotnull filter
    # above the kernel, so every consumer reads the same exchange
    return T.StructType(
        [T.StructField(id_field.name, id_field.dataType, False)]
        + [T.StructField(h, T.LongType(), False) for h in _hash_names(n_hashes)]
    )


def _text_signatures(n_hashes: int):
    """mapInPandas kernel: (doc_id, text) rows to (doc_id, h0..h{n-1}),
    one row per document with at least one shingle."""
    a, b = _perm_arrays(n_hashes)
    names = _hash_names(n_hashes)

    def text_signatures(batches):
        for pdf in batches:
            ids, xs = [], []
            for doc, text in zip(pdf["doc_id"], pdf["text"]):
                x = _shingle_ids(text) if isinstance(text, str) else ()
                if len(x):
                    ids.append(doc)
                    xs.append(x)
            if not ids:
                continue
            starts = np.cumsum([0] + [len(x) for x in xs[:-1]])
            sig = _min_reduce(np.concatenate(xs), starts, a, b)
            out = pd.DataFrame(sig, columns=names)
            out.insert(0, "doc_id", np.array(ids, dtype=pdf["doc_id"].dtype))
            yield out

    return text_signatures


def _id_signatures(id_col: str, n_hashes: int):
    """mapInPandas kernel over (id, x) rows sorted by id: one signature
    row per id. A run of ids cut by a batch boundary is carried into
    the next batch, so a task holds one batch and one signature."""
    a, b = _perm_arrays(n_hashes)
    names = _hash_names(n_hashes)

    def id_signatures(batches):
        carry_id, carry = None, None
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy()
            starts = np.flatnonzero(np.r_[True, ids[1:] != ids[:-1]])
            sig = _min_reduce(pdf["x"].to_numpy(np.int64), starts, a, b)
            run_ids = ids[starts]
            if carry_id is not None:
                if run_ids[0] == carry_id:
                    sig[0] = np.minimum(sig[0], carry)
                else:
                    sig = np.vstack([carry, sig])
                    run_ids = np.r_[[carry_id], run_ids].astype(ids.dtype)
            carry_id, carry = run_ids[-1], sig[-1]
            if len(run_ids) > 1:
                out = pd.DataFrame(sig[:-1], columns=names)
                out.insert(0, id_col, run_ids[:-1])
                yield out
        if carry_id is not None:
            out = pd.DataFrame(carry[None, :], columns=names)
            out.insert(0, id_col, np.array([carry_id]))
            yield out

    return id_signatures


def minhash_signatures(
    shingles: DataFrame,
    n_hashes: int = 32,
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """(doc_id, sig: array<bigint>) — min over permuted shingle hashes.

    h_j(x) = ((a_j * x + b_j) mod p) over shingle rows; x =
    xxhash64(shingle) mod p (or, with ``portable=True``, the 28-bit
    md5-derived id any SQL engine reproduces). The ids are computed in
    Catalyst, exchanged by document and sorted, and one kernel
    min-reduces each document's run in NumPy int64 (the same reduction
    :func:`minhash_pairs` runs over texts).
    """
    if portable:
        # 7 hex digits = 28 bits: a * x < 2^59
        x = portable_hex_id("shingle", 7)
    else:
        x = F.pmod(F.xxhash64("shingle"), F.lit(_MERSENNE_P))
    ids = (
        shingles.select(F.col(id_col), x.alias("x"))
        .filter(F.col("x").isNotNull())
        .repartition(id_col)
        .sortWithinPartitions(id_col)
    )
    sig = ids.mapInPandas(
        _id_signatures(id_col, n_hashes),
        _signature_schema(shingles.schema[id_col], n_hashes),
    )
    return sig.select(id_col, F.array(*_hash_names(n_hashes)).alias("sig"))


def _drop_hot_buckets(
    banded: DataFrame, keys: list[str], cap: int
) -> DataFrame:
    """Broadcast anti-join away LSH buckets holding more than ``cap``
    documents — the LSH analog of the n-gram DF cap
    (queries/dedup.py::jaccard_pairs): a bucket that big is
    non-discriminative (its members pair-bomb quadratically), and the
    hot-bucket side is tiny by construction, so the cap adds one
    map-side-combined aggregate and no extra shuffle of the rows.
    Measured need: an adversarially repetitive 500k-doc corpus drove
    the uncapped prefix-band join to 3.7e9 candidate pairs
    (SOAK.md corpus section)."""
    hot = (
        banded.groupBy(*keys)
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > cap)
        .select(*keys)
    )
    return banded.join(F.broadcast(hot), keys, "left_anti")


def _bucket_pairs(keys: list[str], cap: int | None):
    """mapInPandas kernel over (keys..., doc_id) rows sorted by keys
    then doc_id: every pair ``doc_a < doc_b`` sharing a bucket of at
    most ``cap`` documents. It streams the sorted partition and holds
    one open bucket at a time; a bucket over the cap is counted, not
    held, so a task holds one batch plus at most ``cap`` ids."""
    limit = cap if cap is not None else np.iinfo(np.int64).max

    def pairs_of(ids: np.ndarray, out: list) -> None:
        if 2 <= len(ids) <= limit:
            i, j = np.triu_indices(len(ids), 1)
            out.append((ids[i], ids[j]))

    def bucket_pairs(batches):
        key, held, count = None, [], 0
        for pdf in batches:
            if pdf.empty:
                continue
            k = pdf[keys].to_numpy(np.int64)
            ids = pdf["doc_id"].to_numpy()
            cut = np.flatnonzero((k[1:] != k[:-1]).any(axis=1)) + 1
            starts, ends = np.r_[0, cut], np.r_[cut, len(ids)]
            out: list = []
            first = 0
            if key is not None and tuple(k[0]) == key:
                # the batch opens with the rest of the open bucket
                count += ends[0]
                held = held + [ids[: ends[0]]] if count <= limit else []
                if len(starts) == 1:
                    continue
                first = 1
            if key is not None and count <= limit:
                pairs_of(np.concatenate(held), out)
            sizes = ends[first:-1] - starts[first:-1]
            for r in np.flatnonzero((sizes >= 2) & (sizes <= limit)) + first:
                pairs_of(ids[starts[r] : ends[r]], out)
            s = starts[-1]
            key, count = tuple(k[s]), len(ids) - s
            held = [ids[s:]] if count <= limit else []
            if out:
                yield pd.DataFrame(
                    {
                        "doc_a": np.concatenate([p[0] for p in out]),
                        "doc_b": np.concatenate([p[1] for p in out]),
                    }
                )
        if key is not None and count <= limit:
            out = []
            pairs_of(np.concatenate(held), out)
            if out:
                yield pd.DataFrame({"doc_a": out[0][0], "doc_b": out[0][1]})

    return bucket_pairs


def _band_key_sql(hashes: list[int]) -> str:
    """One bigint packing up to two 31-bit hashes losslessly."""
    if len(hashes) == 1:
        return f"h{hashes[0]}"
    return f"shiftleft(h{hashes[0]}, 31) | h{hashes[1]}"


def minhash_pairs(
    docs: DataFrame,
    n_hashes: int = 32,
    bands: int = 8,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs with estimated similarity, from a
    (doc_id, text) corpus whose doc_id is a key.

    rows = n_hashes // bands hashes per band; a pair is a candidate if
    any band matches exactly (classic banding: P[match] = 1-(1-s^r)^b).
    Output: (doc_a, doc_b, est_jaccard = matching hash fraction).
    Shingles are the texts' word 3-grams with md5-derived ids, so the
    DuckDB oracles replay every signature, bucket and estimate.
    ``bucket_cap`` drops band buckets holding more than the cap
    documents before any pair is formed — the production guard
    against pair blowup on repetitive corpora; None preserves
    classic-LSH semantics exactly.

    Plan: the signature kernel maps the texts, its frame is exchanged
    once by doc_id and read by both consumers (the exchange is reused,
    so the kernel runs once): the band rows (band, k0, k1, ..., doc_id)
    — a band's hashes packed two to a bigint — are exchanged by band
    key and sorted into the pair kernel, and the distinct pairs join
    the signature frame back once per side to score the estimate.
    """
    rows = n_hashes // bands
    id_field = docs.schema["doc_id"]
    sig = (
        docs.select("doc_id", "text")
        .mapInPandas(
            _text_signatures(n_hashes), _signature_schema(id_field, n_hashes)
        )
        .repartition("doc_id")
    )
    keys = [f"k{m}" for m in range((rows + 1) // 2)]

    def band_struct(i: int) -> str:
        hs = list(range(i * rows, (i + 1) * rows))
        fields = ", ".join(
            f"'{k}', {_band_key_sql(hs[2 * m : 2 * m + 2])}"
            for m, k in enumerate(keys)
        )
        return f"named_struct('band', {i}, {fields})"

    # the band exchange carries only (band, keys, doc_id), never the
    # signature: its rows are bands x docs, the join-backs' are docs
    banded = sig.select(
        "doc_id",
        F.expr(f"inline(array({', '.join(band_struct(i) for i in range(bands))}))"),
    )
    pair_type = id_field.dataType.simpleString()
    pairs = (
        banded.repartition("band", *keys)
        .sortWithinPartitions("band", *keys, "doc_id")
        .mapInPandas(
            _bucket_pairs(["band", *keys], bucket_cap),
            f"doc_a {pair_type} not null, doc_b {pair_type} not null",
        )
        .distinct()
    )

    def side(s: str) -> DataFrame:
        return sig.select(
            F.col("doc_id").alias(f"doc_{s}"),
            *[F.col(f"h{j}").alias(f"{s}{j}") for j in range(n_hashes)],
        )

    # a flat sum of the n_hashes equality bits (codegen), not a
    # higher-order function over arrays
    matches = " + ".join(f"CAST(a{j} = b{j} AS INT)" for j in range(n_hashes))
    est = F.expr(f"({matches}) / {float(n_hashes)!r}D")
    return (
        pairs.join(side("a"), "doc_a")
        .join(side("b"), "doc_b")
        .select("doc_a", "doc_b", est.alias("est_jaccard"))
    )


def simhash_signatures(tokens: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """SimHash per document from token-hash bit majorities over 60-bit
    md5-derived token ids (``portable_hex_id``), so the SQL oracle
    reproduces every signature and ``>>`` is sign-free in both engines.

    Occurrences are pre-grouped to (doc, hash, count) so the 64
    bit-sum aggregates scan distinct hashes, not raw tokens, weighted
    by count — identical ±1-per-occurrence math. Measured ~5% at
    sf0.1 (fixture docs have few repeated tokens), but the reshaping
    is what matters at 100 TB: the wide 64-buffer aggregate's input
    becomes bounded by vocabulary x docs instead of raw token count,
    and the extra exchange is map-side-combined."""
    th = (
        tokens.select(F.col(id_col), portable_hex_id("token", 15).alias("_h"))
        .groupBy(id_col, "_h")
        .agg(F.count("*").alias("_c"))
    )
    # parsed SQL strings: the 64 bit-sum aggregates plus the 64-term
    # OR reduction cost ~1s of driver-side py4j round-trips as Column
    # chains — the dominant share of the whole query's wall time.
    # shiftrightunsigned / bigint literals keep the math identical.
    bit_sums = [
        F.expr(
            f"sum(CASE WHEN shiftrightunsigned(_h, {b}) & 1L = 1L"
            f" THEN _c ELSE -_c END)"
        ).alias(f"b{b}")
        for b in range(64)
    ]
    agg = th.groupBy(id_col).agg(*bit_sums)
    # bitwise OR, not +: distinct bits anyway, and OR can never trip
    # ANSI overflow on the sign bit
    sim = " | ".join(
        f"(shiftleft(CASE WHEN b{b} > 0 THEN 1L ELSE 0L END, {b}))"
        for b in range(64)
    )
    return agg.select(id_col, F.expr(sim).alias("simhash"))


def simhash_pairs(
    tokens: DataFrame,
    max_hamming: int = 12,
    bucket_cap: int | None = None,
    per_doc_budget: int | None = None,
) -> DataFrame:
    """Candidate pairs via 16-bit prefix band + exact hamming filter.

    The signature frame is exchanged once by ``band``: the hot-band
    count and both join sides read that one exchange (the join needs
    no other), so the token aggregation runs once and nothing is
    cached. Set-semantics output — no trailing global sort.
    ``bucket_cap`` drops prefix bands larger than the cap (see
    _drop_hot_buckets); None = classic semantics (oracle mode).

    ``per_doc_budget`` bounds the candidate OUTPUT volume — the
    round-13 watch item: the bucket cap bounds the join's input, but
    ham<=max_hamming on short repetitive docs is a loose metric and
    the pair OUTPUT itself blew up to 272x the planted structure at
    the 500k-doc soak. With a budget B, each doc_a keeps only its B
    best candidates (ascending (hamming, doc_b) — deterministic), so
    output <= B * n_docs by construction. Cost shape: a doc's pairs
    all live in its own prefix band, and the band join's output is
    already hash-partitioned on `band`, so the groupBy(band, doc_a)
    that enforces the budget satisfies its clustering from the join's
    partitioning — the full pair stream is ranked and cut WITHOUT
    ever being exchanged (plan-asserted in tests/test_plans.py)."""
    sig = (
        simhash_signatures(tokens)
        .withColumn("band", F.shiftrightunsigned("simhash", 48))
        .repartition("band")
    )
    if bucket_cap is not None:
        sig = _drop_hot_buckets(sig, ["band"], bucket_cap)
    a = sig.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"), "band"
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"), "band"
    )
    hamming = F.bit_count(F.expr("sim_a ^ sim_b"))
    pairs = (
        a.join(b, "band")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("band", "doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
    if per_doc_budget is None:
        return pairs.drop("band")
    # keep `band` in the grouping key: it adds nothing semantically
    # (a doc has exactly one band) but lets EnsureRequirements prove
    # hashpartitioning(band) satisfies the clustering — no exchange
    top = (
        pairs.groupBy("band", "doc_a")
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("hamming", "doc_b"))),
                1,
                per_doc_budget,
            ).alias("_top")
        )
        .select("doc_a", F.explode("_top").alias("_t"))
        .select(
            "doc_a",
            F.col("_t.doc_b").alias("doc_b"),
            F.col("_t.hamming").alias("hamming"),
        )
    )
    return top
