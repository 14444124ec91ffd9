"""§2.K3 — similarity search over embeddings.

Exact brute-force cosine top-k is the oracle-checked baseline; the
scale path is LSH bucketing (random hyperplane signs) that prunes the
candidate set before exact re-scoring. Dot products are evaluated as
deterministic left-fold aggregates in double precision; scores are
rounded to 6 dp before ranking so a last-ulp difference between
engines can't flip the order (values carry ~1e-15 relative error,
10 orders of magnitude below the rounding grain).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hortacloud_importer_spark.catalog import spread, table
from hortacloud_importer_spark.registry import register

_QUERY_VEC_ID = 0
_TOP_K = 10


def _dot(a: str | Column, b: str | Column) -> Column:
    """Deterministic double dot product of two float arrays."""
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: str | Column) -> Column:
    return F.sqrt(_dot(a, a))


# DuckDB mirror: per-dimension products summed per vec (sum order differs
# from the left fold, hence the shared ROUND(.., 6)).
_DOT_SQL = """
SELECT e.vec_id,
       SUM(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
           * CAST(q.qv[CAST(i AS INT)] AS DOUBLE)) AS dot,
       SUM(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
           * CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)) AS norm2
FROM embeddings e,
     (SELECT embedding AS qv FROM embeddings WHERE vec_id = {qid}) q,
     UNNEST(range(1, len(e.embedding) + 1)) AS t(i)
GROUP BY 1
"""

# Shared ANN oracle fragments: `sim_ann` (lsh UNION ivf) and
# `sim_ann_ivf` interpolate the SAME CTE text, so a change to the
# centroid/probe arithmetic cannot desync the consolidated query from
# the standalone one (the q_dataset_build shared-fragment discipline).
_ANN_BASE_CTES = f"""vecpos AS (
  SELECT vec_id, label, t.i - 1 AS d,
         CAST(embedding[CAST(t.i AS INT)] AS DOUBLE) AS v
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
),
dots AS ({_DOT_SQL.format(qid=_QUERY_VEC_ID)}),
qn AS (SELECT SQRT(norm2) AS qnorm FROM dots WHERE vec_id = {_QUERY_VEC_ID})"""

_IVF_CTES = f"""cent AS (SELECT label, d, AVG(v) AS cv FROM vecpos GROUP BY 1, 2),
qpos AS (SELECT d, v FROM vecpos WHERE vec_id = {_QUERY_VEC_ID}),
probe AS (
  SELECT label FROM (
    SELECT c.label,
           ROUND(SUM(c.cv * q.v)
                 / (SQRT(SUM(c.cv * c.cv))
                    * (SELECT SQRT(SUM(v * v)) FROM qpos)), 6) AS csim
    FROM cent c JOIN qpos q ON q.d = c.d
    GROUP BY c.label
  ) ORDER BY csim DESC, label LIMIT 3
),
ivf_ranked AS (
  SELECT e.vec_id, e.label,
         ROUND(d.dot / (SQRT(d.norm2) * qn.qnorm), 6) AS score,
         ROW_NUMBER() OVER (
           ORDER BY ROUND(d.dot / (SQRT(d.norm2) * qn.qnorm), 6) DESC,
                    e.vec_id) AS rn
  FROM embeddings e
  JOIN probe USING (label)
  JOIN dots d ON d.vec_id = e.vec_id, qn
  WHERE e.vec_id <> {_QUERY_VEC_ID}
)"""

_SIM_ANN_IVF_SQL = f"""
WITH {_ANN_BASE_CTES},
{_IVF_CTES}
SELECT vec_id, label, score FROM ivf_ranked WHERE rn <= {_TOP_K}
"""


@register(
    "sim_topk",
    "K3",
    oracle=f"""
WITH dots AS ({_DOT_SQL.format(qid=_QUERY_VEC_ID)}),
qn AS (SELECT SQRT(norm2) AS qnorm FROM dots WHERE vec_id = {_QUERY_VEC_ID})
SELECT vec_id, score FROM (
  SELECT vec_id,
         ROUND(dot / (SQRT(norm2) * qnorm), 6) AS score,
         ROW_NUMBER() OVER (ORDER BY ROUND(dot / (SQRT(norm2) * qnorm), 6) DESC,
                            vec_id) AS rn
  FROM dots, qn
  WHERE vec_id <> {_QUERY_VEC_ID}
) WHERE rn <= {_TOP_K}
""",
)
def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k (K3 baseline): brute force against a fixed
    query vector (vec_id=0). The query row is broadcast — never a
    shuffle of the corpus; the top-k is a TakeOrdered-style global
    limit. At 100 TB this is the exact re-score stage of the ANN
    pipeline below. NOT spread (round-15 re-adjudication): round 14's
    catalog.spread here read 0.98 in its own toggle, the driver's
    PERF_r14 regressed sim_topk 0.77x, and this round's clean
    interleaved toggle confirmed spread losing ~1.3x control-adjusted
    — the round-robin exchange of the embedding table costs more than
    the fold parallelism it buys in a plan whose only other data
    movement is a broadcast and a TakeOrdered merge."""
    e = table(spark, sf_dir, "embeddings")
    # qnorm folds once in the broadcast 1-row side, not once per corpus
    # row (same fold order -> bit-identical score)
    q = e.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("embedding").alias("qv"), _norm("embedding").alias("qnorm")
    )
    scored = (
        e.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                _dot("embedding", "qv") / (_norm("embedding") * F.col("qnorm")), 6
            ).alias("score"),
        )
    )
    # global top-k as TakeOrderedAndProject (per-partition heaps + one
    # k-row merge on the driver) — NOT a row_number window, which would
    # funnel the whole corpus into a single partition
    return (
        scored.orderBy(F.col("score").desc(), "vec_id")
        .limit(_TOP_K)
        .select("vec_id", "score")
    )


@register("sim_ann_lsh", "K3", oracle=None, driver=False)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH (K3 scale path), rows-only:
    16-bit sign signature per vector from the md5-derived hyperplanes
    (operators/ann.py::md5_planes); candidates lie within hamming ≤ 4
    of the query's signature (multi-probe), then exact cosine
    re-scoring of the pruned set. The same search as `sim_ann`'s
    `lsh` branch, on its own. Validated in tests for exact scores."""
    from hortacloud_importer_spark.operators.ann import lsh_topk

    e = table(spark, sf_dir, "embeddings")
    return lsh_topk(e, query_vec_id=_QUERY_VEC_ID, k=_TOP_K)


@register("sim_ann_ivf", "K3", oracle=_SIM_ANN_IVF_SQL, driver=False)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via inverted-file coarse quantization (K3 scale path),
    oracle-exact: per-cell centroids -> probe the query's nearest
    cells -> exact cosine over cell members only. Complements
    sim_ann_lsh: IVF prunes by data-learned cells, LSH by random
    hyperplanes. Unlike the LSH path, IVF has no hash family at all —
    centroid averages and cosine scores are plain arithmetic rounded
    to 6 dp before every ranking decision, so the DuckDB mirror
    (shared CTE fragments with `sim_ann`'s ivf branch) replays the
    probed cell set and the candidate ranking value-for-value."""
    from hortacloud_importer_spark.operators.ann import ivf_topk

    e = table(spark, sf_dir, "embeddings")
    return ivf_topk(e, query_vec_id=_QUERY_VEC_ID, k=_TOP_K)


@register(
    "sim_pairs_cosine",
    "K3+K2",
    oracle=f"""
WITH norms AS (
  SELECT vec_id, label, embedding,
         SQRT((SELECT SUM(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                          * CAST(embedding[CAST(i AS INT)] AS DOUBLE))
               FROM UNNEST(range(1, len(embedding) + 1)) AS t(i))) AS nrm
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         (SELECT SUM(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
                     * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE))
          FROM UNNEST(range(1, len(a.embedding) + 1)) AS t(i)) AS dot,
         a.nrm AS na, b.nrm AS nb
  FROM norms a JOIN norms b
    ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, ROUND(dot / (na * nb), 6) AS cosine
FROM pairs
WHERE ROUND(dot / (na * nb), 6) >= 0.25
""",
)
def sim_pairs_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (K2/K3): cosine ≥ 0.25 among
    vectors sharing a label — the label plays the role of the coarse
    IVF/cluster assignment, so the quadratic comparison happens only
    inside cells, never across the corpus. Spread per guide §2.5
    (no-op at scale) so the per-vector norm folds run wide."""
    e = spread(table(spark, sf_dir, "embeddings"))
    # norms are per-VECTOR, so compute them before the pair join —
    # inside the pair select they'd be re-folded per PAIR, tripling the
    # higher-order-function work (measured 34s -> ~1/3 at sf0.01). The
    # fold order is unchanged, so the doubles (and the 6-dp rounded
    # hash) are bit-identical to the oracle's per-vector norms.
    a = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("label").alias("lbl"),
        F.col("embedding").alias("emb_a"),
        _norm("embedding").alias("norm_a"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("lbl"),
        F.col("embedding").alias("emb_b"),
        _norm("embedding").alias("norm_b"),
    )
    cos = F.round(
        _dot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b")), 6
    )
    return (
        a.join(b, "lbl")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.25)
    )


_SIM_ANN_SQL = f"""
WITH {_ANN_BASE_CTES},
planes AS (
  SELECT j.range AS j, d.range AS d,
         CAST('0x' || substr(md5(CAST(j.range AS VARCHAR) || '_'
                                 || CAST(d.range AS VARCHAR)), 1, 15)
              AS BIGINT) / 576460752303423488.0 - 1.0 AS w
  FROM range(16) j CROSS JOIN range(64) d
),
sigs AS (
  SELECT vec_id, SUM(bit) AS sig FROM (
    SELECT vp.vec_id, p.j,
           CASE WHEN ROUND(SUM(vp.v * p.w), 6) >= 0
                THEN CAST(1 AS BIGINT) << p.j ELSE 0 END AS bit
    FROM vecpos vp JOIN planes p ON p.d = vp.d
    GROUP BY vp.vec_id, p.j
  ) GROUP BY 1
),
lsh_cand AS (
  SELECT s.vec_id,
         bit_count(xor(s.sig, (SELECT sig FROM sigs
                               WHERE vec_id = {_QUERY_VEC_ID}))) AS hamming
  FROM sigs s WHERE s.vec_id <> {_QUERY_VEC_ID}
),
lsh AS (
  SELECT 'lsh' AS method, vec_id, score, CAST(hamming AS BIGINT) AS extra
  FROM (
    SELECT c.vec_id, c.hamming,
           ROUND(d.dot / (SQRT(d.norm2) * qn.qnorm), 6) AS score,
           ROW_NUMBER() OVER (
             ORDER BY ROUND(d.dot / (SQRT(d.norm2) * qn.qnorm), 6) DESC,
                      c.vec_id) AS rn
    FROM lsh_cand c JOIN dots d ON d.vec_id = c.vec_id, qn
    WHERE c.hamming <= 4
  ) WHERE rn <= {_TOP_K}
),
{_IVF_CTES},
ivf AS (
  SELECT 'ivf' AS method, vec_id, score, CAST(label AS BIGINT) AS extra
  FROM ivf_ranked WHERE rn <= {_TOP_K}
)
SELECT * FROM lsh UNION ALL SELECT * FROM ivf
"""


@register("sim_ann", "K3", oracle=_SIM_ANN_SQL)
def sim_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated ANN driver query (K3), oracle-exact,
    union-with-tag: `lsh` = random-hyperplane signature bucketing +
    multi-probe + exact re-score; `ivf` = learned-centroid inverted
    file + probed-cell filter + exact re-score. Both prune the corpus
    to a bounded candidate set — the two standard 100 TB ANN shapes —
    and share one fold (operators/ann.py::ann_search): one driver job
    for the query vector and the cell sums, one kernel for the plane
    dots, query dot and norm of every vector. The planes are
    md5-derived (bit-identical in DuckDB); IVF centroid similarity is
    rounded to 6 dp before cell ranking so cross-engine
    float-summation ulps can't change the probed set."""
    from hortacloud_importer_spark.operators.ann import ann_search

    lsh, ivf = ann_search(
        table(spark, sf_dir, "embeddings"), query_vec_id=_QUERY_VEC_ID, k=_TOP_K
    )
    return lsh.select(
        F.lit("lsh").alias("method"),
        "vec_id",
        "score",
        F.col("hamming").cast("bigint").alias("extra"),
    ).unionByName(
        ivf.select(
            F.lit("ivf").alias("method"),
            "vec_id",
            "score",
            F.col("label").cast("bigint").alias("extra"),
        )
    )


@register(
    "dedup_embedding",
    "K2+K3",
    driver=False,  # the external driver set is frozen at 50
    oracle="""
WITH RECURSIVE
norms AS (
  SELECT vec_id, label, embedding,
         SQRT((SELECT SUM(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                          * CAST(embedding[CAST(i AS INT)] AS DOUBLE))
               FROM UNNEST(range(1, len(embedding) + 1)) AS t(i))) AS nrm
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM norms a JOIN norms b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE ROUND(
          (SELECT SUM(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
                      * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE))
           FROM UNNEST(range(1, len(a.embedding) + 1)) AS t(i))
          / (a.nrm * b.nrm), 6) >= 0.25
),
edges AS (
  SELECT vec_a AS a, vec_b AS b FROM pairs
  UNION
  SELECT vec_b AS a, vec_a AS b FROM pairs
),
reach(node, label) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b
)
SELECT node, MIN(label) AS component,
       (node = MIN(label)) AS keep
FROM reach GROUP BY 1
""",
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup DEDUP (K2+K3), oracle-exact: the
    cosine candidate pairs of ``sim_pairs_cosine`` (>= 0.25 within a
    label cell — the coarse-cluster prefilter that keeps the pair
    join off the full corpus at 100 TB) feed the same iterative
    min-label connected-components kernel the shingle dedup uses, so
    each near-dup cluster keeps exactly its minimum-id member. The
    DuckDB mirror recomputes the pairs and the component fixpoint as
    a recursive CTE — label choice, cosine rounding, or propagation
    bugs all break the hash."""
    from hortacloud_importer_spark.operators.components import (
        dedup_keep_list,
    )

    pairs = sim_pairs_cosine(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return dedup_keep_list(pairs)
