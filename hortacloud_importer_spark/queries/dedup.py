"""§2.K1/K2 — deduplication (exact + near-duplicate).

100 TB posture: exact dedup is one hash-groupBy on a content
fingerprint (md5/sha2 — standardized, so the DuckDB oracle matches
exactly); near-dup avoids the O(n²) pair space by only joining
documents that share a shingle (inverted-index join), and the
MinHash-LSH variant replaces the shingle join with banded minhash
buckets so the candidate set stays bounded under skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hortacloud_importer_spark.catalog import spread, table
from hortacloud_importer_spark.operators.textnorm import NORM_WORDS_SQL
from hortacloud_importer_spark.registry import register

# normalized tokenization for leak checks and the *_norm dedup/text
# variants: lowercase, strip punctuation to spaces, collapse
# whitespace — byte-identical between Spark (Java regex) and DuckDB
# (RE2) for this ASCII class; ONE definition (operators/textnorm.py)
# shared with the DuckDB mirror
_NORM_SQL = NORM_WORDS_SQL

# A corpus with actual duplicates: every 5th document re-appears under
# a shifted doc_id (simulating a re-crawl).
_DUP_CORPUS_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
"""


def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    dup = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return d.select("doc_id", "text").unionByName(dup)


@register(
    "dedup_exact",
    "K1",
    oracle=f"""
SELECT MD5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM ({_DUP_CORPUS_SQL})
GROUP BY 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (K1): content fingerprint (md5) -> keep the lowest
    doc_id. One hash aggregate; the fingerprint (16 bytes) is the only
    thing shuffled, never the payload — at 100 TB this is the
    difference between shuffling hashes and shuffling documents."""
    corpus = _dup_corpus(spark, sf_dir)
    return corpus.groupBy(F.md5("text").alias("fp")).agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies")
    )


@register(
    "dedup_exact_norm",
    "K1",
    driver=False,
    oracle=f"""
SELECT MD5(array_to_string({NORM_WORDS_SQL}, ' ')) AS fp,
       MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM ({_DUP_CORPUS_SQL})
GROUP BY 1
""",
)
def dedup_exact_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NORMALIZED exact dedup (K1, round-13): fingerprint the SHARED
    normalizer's token stream (operators/textnorm.py) instead of raw
    bytes, so re-crawls that differ only in casing, punctuation, or
    whitespace collapse onto one fingerprint — the 'fuzzy-exact' first
    pass most production pipelines run before any near-dup stage.
    Same 100 TB posture as dedup_exact: normalization is a map-side
    regexp, and only the 16-byte fingerprint ever shuffles."""
    corpus = _dup_corpus(spark, sf_dir)
    from hortacloud_importer_spark.operators.textnorm import norm_words

    return corpus.groupBy(
        F.md5(F.concat_ws(" ", norm_words())).alias("fp")
    ).agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies")
    )


_SHINGLES_SQL = """
SELECT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
FROM (SELECT doc_id, str_split(text, ' ') AS words FROM documents)
     , UNNEST(range(1, len(words) - 1)) AS t(i)
"""


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word 3-gram shingles of the documents table (see _shingles_of)."""
    return _shingles_of(table(spark, sf_dir, "documents"))


def _shingles_of(d: DataFrame) -> DataFrame:
    """Word 3-gram shingles, one row per (doc, position), from any
    (doc_id, text) corpus.

    Formulated as arrays_zip(words, words[1:], words[2:]) -> explode,
    NOT per-index element_at lambdas: element_at inside a transform
    re-evaluates split(text) per access, which is O(words^2) per
    document (measured 6x slower at sf0.1).

    The input is spread (catalog.spread) before the explode: the
    shingle fan-out and downstream md5/xxhash work is the CPU cost of
    every near-dup query, and a single-row-group fixture file
    otherwise runs it on one core (guide §2.5; no-op at scale)."""
    d = spread(d)
    words = F.split("text", " ")
    z = F.arrays_zip(
        words,
        F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))),
        F.slice(words, 3, F.greatest(F.size(words) - 2, F.lit(0))),
    )
    t = F.col("t")
    return (
        d.select("doc_id", F.explode(z).alias("t"))
        .filter(t["2"].isNotNull())
        .select(
            "doc_id",
            F.concat_ws(" ", t["0"], t["1"], t["2"]).alias("shingle"),
        )
    )


# Document-frequency cap on shingles: a "stop-shingle" appearing in m
# documents contributes m² candidate pairs to the self-join — one
# boilerplate phrase makes the join quadratic at 100 TB. Shingles with
# df > cap carry ~zero near-dup signal (they're corpus-common, not
# document-identifying), so both the representation and the join drop
# them; the Jaccard is then exact over the capped shingle space. The
# same pruning spirit as the reference's skip-empty work units
# (tiff2octree.py:312). Bounded-pair-count regression test:
# tests/test_neardup.py::test_df_cap_bounds_pairs.
_DF_CAP = 64


@register(
    "dedup_ngram_jaccard",
    "K2",
    oracle=f"""
WITH sh0 AS (SELECT DISTINCT doc_id, shingle FROM ({_SHINGLES_SQL})),
hot AS (SELECT shingle FROM sh0 GROUP BY 1 HAVING COUNT(*) > {_DF_CAP}),
sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
       CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.08
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup by n-gram Jaccard (K2): inverted-index join — documents
    are compared ONLY if they share a shingle, so the pair space is the
    posting-list join, not n²; shingles over the document-frequency cap
    (_DF_CAP) are dropped first, so no posting list exceeds the cap and
    the worst-case pair count is bounded by cap × n_shingles. Jaccard =
    |A∩B| / (|A|+|B|-|A∩B|) from exact integer counts over the capped
    shingle space (candidate generation and measure use the same
    representation, so the oracle mirrors it exactly)."""
    return jaccard_pairs(_shingles(spark, sf_dir), df_cap=_DF_CAP)


def jaccard_pairs(
    shingles: DataFrame, df_cap: int | None = _DF_CAP, threshold: float = 0.08
) -> DataFrame:
    """Capped inverted-index Jaccard join over (doc_id, shingle) rows.

    `df_cap=None` disables the document-frequency cap (test/compare
    path only — unbounded posting lists are quadratic under skew).

    Measured alternatives at sf0.1 (kept for the record, both lose):
    carrying n_sh via a doc_id-partitioned window to skip the two
    sizes joins trades them for a doc_id shuffle (wash, ~same time);
    replacing the self-join with collect_list-per-shingle + in-array
    pair expansion (safe once lists are capped <= df_cap) is ~40%
    SLOWER — the nested transform/slice expression costs more than
    the sort-merge join it removes.
    """
    # xxhash64 the shingle before the self-join: the join/distinct keys
    # become 8-byte longs instead of ~20-char strings, so the 2.8M-row
    # pair shuffle moves a fraction of the bytes (collision odds at this
    # vocabulary are ~1e-11 — far below the float tolerance elsewhere).
    # localCheckpoint (round-14, guide §3.3/§5): the deduped posting
    # list feeds FOUR consumers (hot filter, sizes, both self-join
    # sides); without truncation each broadcast subtree re-derived the
    # whole scan->explode->distinct chain (6 recomputes in the
    # round-14 plan) and the 100+-operator plan itself cost real
    # driver time per run. The checkpoint materializes exactly the
    # post-distinct rows (disk-backed — the same bytes the distinct
    # exchange already wrote), so consumers re-read instead of
    # re-deriving; measured ~20% on the bench query with identical
    # output. An earlier round measured plain .persist() 2x SLOWER —
    # persist keeps the full plan (no truncation) and caches BEFORE
    # the distinct; the checkpoint cuts both.
    sh = (
        shingles.select("doc_id", F.xxhash64("shingle").alias("shingle"))
        .distinct()
        .localCheckpoint()
    )
    if df_cap is not None:
        # hot-shingle side is tiny by construction (only df>cap
        # survivors) -> broadcast anti-join, no extra shuffle of the
        # posting lists.
        # Measured alternative: count(*) OVER (PARTITION BY shingle)
        # then filter is ~25% faster at sf0.1 (the window reuses the
        # shingle exchange the join needs) but scale-UNSAFE: windows
        # have no map-side combine, so a stop-shingle's whole posting
        # list lands on one window task before the filter — the exact
        # straggler the cap exists to prevent. The aggregate keeps
        # map-side partials, so hot keys collapse before the shuffle.
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > df_cap)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    pairs = (
        a.join(b, ["shingle"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", "n_common", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# Production bucket caps (see operators/minhash.py::_drop_hot_buckets
# and the SOAK.md corpus section for the adversarial blowup that
# motivated them). Shared with the DuckDB oracle mirrors below so the
# cap path itself is oracle-checked, not just the classic-LSH path
# that dedup_approx covers.
_MINHASH_BUCKET_CAP = 1024
_SIMHASH_BUCKET_CAP = 4096

def _minhash_perm_values() -> str:
    """The (j, a, b) permutation constants as a SQL VALUES list —
    the same deterministic _perm_params(32) table the Spark side uses."""
    from hortacloud_importer_spark.operators.minhash import _perm_params

    return ", ".join(
        f"({j}, {a}, {b})" for j, (a, b) in enumerate(_perm_params(32))
    )


# Capped banded-MinHash mirror (round-13: flipped from rows-only to
# oracle-exact — the portable md5-derived shingle ids + deterministic
# LCG permutation table make every signature, bucket, hot-bucket drop,
# pair, and estimate replayable in any SQL engine).
_DEDUP_MINHASH_SQL = f"""
WITH ids AS (
  SELECT DISTINCT doc_id,
         CAST('0x' || substr(md5(shingle), 1, 7) AS BIGINT) AS x
  FROM ({_SHINGLES_SQL})
),
perms(j, a, b) AS (VALUES {{perms}}),
hx AS (
  SELECT doc_id, j, MIN((a * x + b) % 2147483647) AS h
  FROM ids CROSS JOIN perms GROUP BY 1, 2
),
bandsig AS (
  SELECT doc_id, j // 4 AS band,
         string_agg(CAST(h AS VARCHAR), '_' ORDER BY j) AS bucket
  FROM hx GROUP BY 1, 2
),
hot AS (
  SELECT band, bucket FROM bandsig
  GROUP BY 1, 2 HAVING COUNT(*) > {{cap}}
),
kept AS (
  SELECT bs.* FROM bandsig bs
  LEFT JOIN hot ON hot.band = bs.band AND hot.bucket = bs.bucket
  WHERE hot.band IS NULL
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM kept a
  JOIN kept b ON a.band = b.band AND a.bucket = b.bucket
            AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       SUM(CASE WHEN ha.h = hb.h THEN 1 ELSE 0 END) / 32.0 AS est_jaccard
FROM cand c
JOIN hx ha ON ha.doc_id = c.doc_a
JOIN hx hb ON hb.doc_id = c.doc_b AND hb.j = ha.j
GROUP BY 1, 2
"""


@register(
    "dedup_minhash",
    "K2",
    oracle=_DEDUP_MINHASH_SQL.format(
        perms=_minhash_perm_values(), cap=_MINHASH_BUCKET_CAP
    ),
    driver=False,
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-dup (K2), oracle-exact since round 13: 32
    permutation hashes h_j(x) = (a_j * x + b_j) mod p over portable
    md5-derived shingle ids, banded 4-per-band into 8 LSH buckets;
    candidate pairs agree on at least one band. This replaces K2's
    shingle self-join with a bounded bucket pass — the 100 TB scale
    path (bucket cardinality is controlled by band width, not document
    frequency). Unlike dedup_approx (classic uncapped LSH), this runs
    the PRODUCTION guard: buckets holding more than
    _MINHASH_BUCKET_CAP documents form no pairs, and the DuckDB oracle
    replays that drop too. Signatures and bucket pairs are NumPy
    kernels over the texts (operators/minhash.py::minhash_pairs);
    recall is validated in tests/test_neardup.py."""
    from hortacloud_importer_spark.operators.minhash import minhash_pairs

    return minhash_pairs(
        table(spark, sf_dir, "documents"),
        n_hashes=32,
        bands=8,
        bucket_cap=_MINHASH_BUCKET_CAP,
    )


# Capped prefix-band SimHash mirror (round-13 rows-only -> oracle flip;
# 60-bit portable signatures so >> is sign-free in both engines).
_DEDUP_SIMHASH_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents
),
th AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) AS h
  FROM tok
),
bits AS (
  SELECT doc_id, t.range AS b,
         SUM(CASE WHEN (h >> t.range) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM th CROSS JOIN range(60) t GROUP BY 1, 2
),
simsig AS (
  SELECT doc_id,
         SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
           AS simhash
  FROM bits GROUP BY 1
),
banded AS (SELECT doc_id, simhash, simhash >> 48 AS band FROM simsig),
hot AS (
  SELECT band FROM banded GROUP BY 1 HAVING COUNT(*) > {_SIMHASH_BUCKET_CAP}
),
kept AS (
  SELECT bd.* FROM banded bd
  LEFT JOIN hot ON hot.band = bd.band
  WHERE hot.band IS NULL
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM kept a
JOIN kept b ON a.band = b.band AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 12
"""


@register("dedup_simhash", "K2", oracle=_DEDUP_SIMHASH_SQL, driver=False)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup (K2), oracle-exact since round 13: 60-bit
    portable (md5-derived) token-hash majority signature per document;
    candidates = equal 12-bit prefix band; emitted with hamming
    distance ≤ 12. All bit math stays in Catalyst expressions (no
    UDF). Runs the PRODUCTION _SIMHASH_BUCKET_CAP prefix-band guard
    (near-uniform corpora would otherwise funnel the corpus into one
    band — SOAK.md corpus section), and the DuckDB oracle replays the
    guard."""
    from hortacloud_importer_spark.operators.minhash import simhash_pairs

    d = spread(table(spark, sf_dir, "documents"))
    tokens = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    return simhash_pairs(
        tokens,
        max_hamming=12,
        bucket_cap=_SIMHASH_BUCKET_CAP,
    )


_SIMHASH_PAIR_BUDGET = 16  # max candidates a doc may emit (round-13
#                            ask #1: bound the pair OUTPUT, not just
#                            the join input the bucket cap bounds)

def _simhash_budget_sql(budget: int) -> str:
    """DuckDB mirror of the per-doc candidate budget: the base capped
    pair SQL, cut to each doc_a's `budget` best candidates by the same
    deterministic (hamming, doc_b) order the Spark side sorts on —
    parameterized so tests can fire the budget at tiny values."""
    return f"""
SELECT doc_a, doc_b, hamming FROM ({_DEDUP_SIMHASH_SQL})
QUALIFY row_number() OVER (
  PARTITION BY doc_a ORDER BY hamming, doc_b
) <= {budget}
"""


@register("dedup_simhash_budget", "K2",
          oracle=_simhash_budget_sql(_SIMHASH_PAIR_BUDGET), driver=False)
def dedup_simhash_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup with a PER-DOC CANDIDATE BUDGET — the
    round-13 ask #1 contract on candidate OUTPUT volume. The capped
    :func:`dedup_simhash` bounds the band join's input (no bucket
    holds more than _SIMHASH_BUCKET_CAP docs), but ham<=12 over
    60-bit signatures of short docs is a loose metric: the 500k-doc
    soak still emitted 27.2M pairs — 272x the planted structure.
    This variant keeps, per doc_a, only its _SIMHASH_PAIR_BUDGET best
    candidates by ascending (hamming, doc_b) — a deterministic total
    order, so the DuckDB oracle replays the cut exactly (row_number
    QUALIFY). Output <= budget * n_docs BY CONSTRUCTION; true
    near-dups (small hamming) always rank ahead of band noise, so
    planted-pair recall is unaffected (soak-verified: SOAK.md).

    100 TB posture: the budget costs NO new exchange — a doc's pairs
    all live in its own prefix band, the band join's output is
    already hash-partitioned on `band`, and the budget groupBy keys
    on (band, doc_a) so EnsureRequirements reuses that partitioning
    (plan-asserted in tests/test_plans.py). The pair stream is ranked
    and cut where it is produced; only the budgeted survivors ever
    move."""
    from hortacloud_importer_spark.operators.minhash import simhash_pairs

    d = spread(table(spark, sf_dir, "documents"))
    tokens = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    return simhash_pairs(
        tokens,
        max_hamming=12,
        bucket_cap=_SIMHASH_BUCKET_CAP,
        per_doc_budget=_SIMHASH_PAIR_BUDGET,
    )


_DEDUP_APPROX_SQL = f"""
WITH ids AS (
  SELECT DISTINCT doc_id,
         CAST('0x' || substr(md5(shingle), 1, 7) AS BIGINT) AS x
  FROM ({_SHINGLES_SQL})
),
perms(j, a, b) AS (VALUES {{perms}}),
hx AS (
  SELECT doc_id, j, MIN((a * x + b) % 2147483647) AS h
  FROM ids CROSS JOIN perms GROUP BY 1, 2
),
bandsig AS (
  SELECT doc_id, j // 4 AS band,
         string_agg(CAST(h AS VARCHAR), '_' ORDER BY j) AS bucket
  FROM hx GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bandsig a
  JOIN bandsig b ON a.band = b.band AND a.bucket = b.bucket
               AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.doc_a, c.doc_b,
         SUM(CASE WHEN ha.h = hb.h THEN 1 ELSE 0 END) / 32.0 AS metric
  FROM cand c
  JOIN hx ha ON ha.doc_id = c.doc_a
  JOIN hx hb ON hb.doc_id = c.doc_b AND hb.j = ha.j
  GROUP BY 1, 2
),
tok AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents
),
th AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) AS h
  FROM tok
),
bits AS (
  SELECT doc_id, t.range AS b,
         SUM(CASE WHEN (h >> t.range) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM th CROSS JOIN range(60) t GROUP BY 1, 2
),
simsig AS (
  SELECT doc_id,
         SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
           AS simhash
  FROM bits GROUP BY 1
),
simpairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM simsig a
  JOIN simsig b ON (a.simhash >> 48) = (b.simhash >> 48)
              AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 12
)
SELECT 'minhash' AS method, doc_a, doc_b, metric FROM est
UNION ALL
SELECT 'simhash' AS method, doc_a, doc_b,
       CAST(hamming AS DOUBLE) AS metric
FROM simpairs
"""


@register(
    "dedup_approx",
    "K2",
    oracle=_DEDUP_APPROX_SQL.format(perms=_minhash_perm_values()),
)
def dedup_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated approximate near-dup driver query (K2),
    oracle-exact, union-with-tag: `minhash` = banded MinHash-LSH
    candidate pairs with estimated Jaccard (bucket join — candidate
    set bounded by band width, not document frequency: the 100 TB
    scale path); `simhash` = 64-bit SimHash prefix-band pairs with
    hamming distance. Both hash md5-derived shingle/token ids
    (operators/minhash.py::portable_hex_id), so the DuckDB oracle
    reproduces every signature, bucket, pair, and metric bit-for-bit;
    recall vs exact Jaccard is separately validated in
    tests/test_neardup.py."""
    from hortacloud_importer_spark.operators.minhash import (
        minhash_pairs,
        simhash_pairs,
    )

    d = table(spark, sf_dir, "documents")
    mh = minhash_pairs(d, n_hashes=32, bands=8).select(
        F.lit("minhash").alias("method"),
        "doc_a",
        "doc_b",
        F.col("est_jaccard").cast("double").alias("metric"),
    )
    tokens = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    sh = simhash_pairs(tokens, max_hamming=12).select(
        F.lit("simhash").alias("method"),
        "doc_a",
        "doc_b",
        F.col("hamming").cast("double").alias("metric"),
    )
    return mh.unionByName(sh)


@register(
    "q_corpus_curation",
    "K1+K5+B",
    oracle="""
WITH corpus AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, lang, text FROM documents WHERE doc_id % 5 = 0
),
quality AS (
  SELECT doc_id, lang, text,
         LEN(str_split(text, ' ')) AS n_words,
         CAST(LEN(list_filter(str_split(text, ' '),
                              w -> w IN ('the','a','of','and','to','in','is','for','on','with'))) AS DOUBLE)
           / LEN(str_split(text, ' ')) AS stop_ratio
  FROM corpus
),
kept AS (
  SELECT * FROM quality
  WHERE n_words >= 5 AND n_words <= 2000 AND stop_ratio >= 0.01
),
deduped AS (
  SELECT MIN(doc_id) AS keep_id, MIN(lang) AS lang,
         MIN(n_words) AS n_words, COUNT(*) AS n_copies
  FROM kept GROUP BY MD5(text)
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS total_words,
       CAST(SUM(n_copies - 1) AS BIGINT) AS dups_removed,
       MIN(keep_id) AS first_doc
FROM deduped GROUP BY 1
""",
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-corpus curation composite (K1+K5+B): the canonical
    training-data pipeline as ONE Catalyst plan — quality signals
    (word count bounds, stopword ratio) filter the raw corpus, exact
    dedup keeps the lowest doc_id per content fingerprint, and the
    surviving corpus reports per-language accounting. Shape at 100 TB:
    the quality filter is scan-local (pushdown-friendly, no shuffle),
    dedup shuffles 16-byte md5 fingerprints with map-side combine —
    never payloads — and the final per-language rollup aggregates the
    already-small dedup output. Duplicate-injected corpus (every 5th
    doc re-crawled) so dups_removed is non-trivially exercised."""
    stopwords = ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")
    d = table(spark, sf_dir, "documents")
    dup = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "lang", "text"
    )
    corpus = d.select("doc_id", "lang", "text").unionByName(dup)
    words = F.split("text", " ")
    n_words = F.size(words).cast("bigint")
    stop_ratio = (
        F.size(F.filter(words, lambda w: w.isin(*stopwords))).cast("double") / n_words
    )
    kept = (
        corpus.withColumn("n_words", n_words)
        .withColumn("stop_ratio", stop_ratio)
        .filter(
            (F.col("n_words") >= 5)
            & (F.col("n_words") <= 2000)
            & (F.col("stop_ratio") >= 0.01)
        )
    )
    # MIN not ANY_VALUE: two distinct docs with identical text could
    # carry different langs, and any_value would be engine-dependent
    deduped = kept.groupBy(F.md5("text").alias("fp")).agg(
        F.min("doc_id").alias("keep_id"),
        F.min("lang").alias("lang"),
        F.min("n_words").alias("n_words"),
        F.count("*").alias("n_copies"),
    )
    return deduped.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        F.sum(F.col("n_copies") - 1).alias("dups_removed"),
        F.min("keep_id").alias("first_doc"),
    )


_CURATION_LM_ORACLE = """
WITH corpus AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, lang, text FROM documents
  WHERE doc_id % 5 = 0
),
w AS (
  SELECT doc_id, lang, text,
         list_filter(str_split(text, ' '), x -> x <> '') AS ws,
         LEN(str_split(text, ' ')) AS n_words,
         CAST(LEN(list_filter(str_split(text, ' '),
              x -> x IN ('the','a','of','and','to','in','is','for',
                         'on','with'))) AS DOUBLE)
           / LEN(str_split(text, ' ')) AS stop_ratio
  FROM corpus
),
bg AS (
  SELECT doc_id,
         unhex(md5(ws[CAST(t.i AS INT)] || ' '
                   || ws[CAST(t.i AS INT) + 1])) AS gh
  FROM w, UNNEST(range(1, len(ws))) AS t(i)
  WHERE len(ws) >= 2
),
cnt AS (SELECT gh, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY gh),
lm AS (
  SELECT bg.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bg,
         CAST(SUM(length(bin(cnt.c))) AS BIGINT) AS bits
  FROM bg JOIN cnt USING (gh) GROUP BY bg.doc_id
),
tot AS (
  SELECT CAST(SUM(n_bg) AS BIGINT) AS tot_bg,
         CAST(SUM(bits) AS BIGINT) AS tot_bits
  FROM lm
),
quality AS (
  SELECT w.*, lm.n_bg, lm.bits,
         lm.bits IS NOT NULL
         AND lm.bits * (SELECT tot_bg FROM tot)
             > lm.n_bg * (SELECT tot_bits FROM tot) AS lm_hot
  FROM w LEFT JOIN lm USING (doc_id)
  WHERE n_words >= 5 AND n_words <= 2000 AND stop_ratio >= 0.01
),
kept AS (SELECT * FROM quality WHERE NOT lm_hot),
deduped AS (
  SELECT MD5(text) AS fp, MIN(doc_id) AS keep_id, MIN(lang) AS lang,
         MIN(n_words) AS n_words, COUNT(*) AS n_copies
  FROM kept GROUP BY 1
)
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(d.n_words) AS BIGINT) AS total_words,
       CAST(SUM(d.n_copies - 1) AS BIGINT) AS dups_removed,
       MIN(d.keep_id) AS first_doc,
       CAST((SELECT COUNT(*) FROM quality q2
             WHERE q2.lm_hot AND q2.lang = d.lang) AS BIGINT)
         AS lm_removed
FROM deduped d
GROUP BY d.lang
"""


@register("q_corpus_curation_lm", "K1+K5+B", driver=False,
          oracle=_CURATION_LM_ORACLE)
def q_corpus_curation_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`q_corpus_curation` with the n-gram LM quality stage
    (text.py::text_ngram_ppx) composed in: documents whose mean
    bigram log2-count exceeds the CORPUS mean are REMOVED as
    boilerplate-suspicious before dedup. The cut is the exact integer
    cross-multiplication ``doc_bits * total_bigrams > doc_bigrams *
    total_bits`` — scale-free (an absolute bits threshold would drift
    with corpus size, since counts grow with it) and bit-exact in any
    engine, which is what keeps a model-based filter oracle-checkable
    (a KenLM-style filter cuts on a quantile of the same score — the
    same relative-to-corpus shape). Docs too short to score (under
    two words) pass the LM stage vacuously.

    Plan: the LM model is one map-side-combined gram-count aggregate
    joined back by gram (see text_ngram_ppx's posture) plus a 1-row
    corpus-total broadcast, the quality filter stays scan-local,
    dedup still shuffles only fingerprints — composing a model-based
    filter does not change the curation pipeline's shuffle
    skeleton."""
    stopwords = ("the", "a", "of", "and", "to", "in", "is", "for",
                 "on", "with")
    d = table(spark, sf_dir, "documents")
    dup = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "lang", "text"
    )
    corpus = d.select("doc_id", "lang", "text").unionByName(dup)
    words = F.split("text", " ")
    n_words = F.size(words).cast("bigint")
    stop_ratio = (
        F.size(F.filter(words, lambda w: w.isin(*stopwords)))
        .cast("double")
        / n_words
    )
    from hortacloud_importer_spark.queries.text import bigram_lm_bits

    lm = bigram_lm_bits(corpus.select("doc_id", "text"))
    tot = lm.agg(
        F.sum("n_bg").cast("bigint").alias("tot_bg"),
        F.sum("bits").cast("bigint").alias("tot_bits"),
    )
    quality = (
        corpus.withColumn("n_words", n_words)
        .withColumn("stop_ratio", stop_ratio)
        .filter(
            (F.col("n_words") >= 5)
            & (F.col("n_words") <= 2000)
            & (F.col("stop_ratio") >= 0.01)
        )
        .join(lm, "doc_id", "left")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "lm_hot",
            F.col("bits").isNotNull()
            & (
                F.col("bits") * F.col("tot_bg")
                > F.col("n_bg") * F.col("tot_bits")
            ),
        )
    )
    kept = quality.filter(~F.col("lm_hot"))
    lm_removed = (
        quality.filter(F.col("lm_hot"))
        .groupBy("lang")
        .agg(F.count("*").cast("bigint").alias("lm_removed"))
    )
    deduped = kept.groupBy(F.md5("text").alias("fp")).agg(
        F.min("doc_id").alias("keep_id"),
        F.min("lang").alias("lang"),
        F.min("n_words").alias("n_words"),
        F.count("*").alias("n_copies"),
    )
    return (
        deduped.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("total_words"),
            F.sum(F.col("n_copies") - 1).cast("bigint").alias(
                "dups_removed"
            ),
            F.min("keep_id").alias("first_doc"),
        )
        .join(lm_removed, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "total_words",
            "dups_removed",
            "first_doc",
            F.coalesce("lm_removed", F.lit(0))
            .cast("bigint")
            .alias("lm_removed"),
        )
    )


@register(
    "dedup_components",
    "K2",
    oracle=f"""
WITH RECURSIVE
sh0 AS (SELECT DISTINCT doc_id, shingle FROM ({_SHINGLES_SQL})),
hot AS (SELECT shingle FROM sh0 GROUP BY 1 HAVING COUNT(*) > {_DF_CAP}),
sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
p0 AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM p0
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.08
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
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
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-cluster formation (K2): near-dup PAIRS -> connected
    components -> canonical keep flag per document — the step that
    turns candidate pairs into an actual deduplicated corpus.
    Spark side: iterative min-label propagation (one join + one
    map-side-combined min per round, operators/components.py); the
    DuckDB mirror computes the same fixpoint as a recursive CTE, so
    the component labels are oracle-exact."""
    from hortacloud_importer_spark.operators.components import dedup_keep_list

    pairs = jaccard_pairs(_shingles(spark, sf_dir), df_cap=_DF_CAP)
    return dedup_keep_list(pairs)


def _shingle_sql(inner: str) -> str:
    """DuckDB word-3-gram shingle SQL over any (doc_id, text) relation."""
    return f"""
SELECT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
FROM (SELECT doc_id, str_split(text, ' ') AS words FROM ({inner}))
     , UNNEST(range(1, len(words) - 1)) AS t(i)
"""


@register(
    "q_curation_pipeline",
    "K1+K2+K5+B",
    driver=False,
    oracle=f"""
WITH RECURSIVE
corpus AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, lang, text FROM documents WHERE doc_id % 5 = 0
),
quality AS (
  SELECT doc_id, lang, text,
         LEN(str_split(text, ' ')) AS n_words,
         CAST(LEN(list_filter(str_split(text, ' '),
                              w -> w IN ('the','a','of','and','to','in','is','for','on','with'))) AS DOUBLE)
           / LEN(str_split(text, ' ')) AS stop_ratio
  FROM corpus
),
kept AS (
  SELECT * FROM quality
  WHERE n_words >= 5 AND n_words <= 2000 AND stop_ratio >= 0.01
),
survivors AS (
  SELECT MIN(doc_id) AS keep_id, MIN(lang) AS lang, MIN(text) AS text,
         MIN(n_words) AS n_words, COUNT(*) AS n_copies
  FROM kept GROUP BY MD5(text)
),
sh0 AS (SELECT DISTINCT doc_id, shingle FROM (
  {_shingle_sql("SELECT keep_id AS doc_id, text FROM survivors")})),
hot AS (SELECT shingle FROM sh0 GROUP BY 1 HAVING COUNT(*) > {_DF_CAP}),
sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
p0 AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM p0
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.08
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(node, label) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b
),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY 1),
flagged AS (
  SELECT s.*, (c.node IS NULL OR s.keep_id = c.component) AS keep_flag
  FROM survivors s LEFT JOIN comp c ON s.keep_id = c.node
)
SELECT lang,
       CAST(SUM(CASE WHEN keep_flag THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN keep_flag THEN n_words ELSE 0 END) AS BIGINT) AS total_words,
       CAST(SUM(n_copies - 1) AS BIGINT) AS exact_dups_removed,
       CAST(SUM(CASE WHEN keep_flag THEN 0 ELSE 1 END) AS BIGINT) AS neardup_removed,
       MIN(CASE WHEN keep_flag THEN keep_id END) AS first_doc
FROM flagged GROUP BY 1
""",
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE LLM-corpus curation pipeline as one Catalyst plan
    (K1+K2+K5): quality signals filter the dup-injected corpus, exact
    dedup collapses byte-identical re-crawls (16-byte md5 shuffle,
    never payloads), the survivors run capped inverted-index Jaccard
    near-dup -> connected components -> canonical-per-cluster keep
    flags, and the final rollup reports per-language kept docs, word
    totals, exact dups removed, and near-dups removed. Every stage is
    the already-verified operator (q_corpus_curation, jaccard_pairs,
    connected_components); the composite pins their composition with
    a single recursive-CTE DuckDB oracle. Scale shape: the only
    full-corpus shuffles are the md5 groupBy and the capped shingle
    join; the component propagation iterates over the (tiny) pair
    graph only."""
    from hortacloud_importer_spark.operators.components import (
        connected_components,
    )

    stopwords = ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")
    d = table(spark, sf_dir, "documents")
    dup = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "lang", "text"
    )
    corpus = d.select("doc_id", "lang", "text").unionByName(dup)
    words = F.split("text", " ")
    n_words = F.size(words).cast("bigint")
    stop_ratio = (
        F.size(F.filter(words, lambda w: w.isin(*stopwords))).cast("double") / n_words
    )
    kept = (
        corpus.withColumn("n_words", n_words)
        .withColumn("stop_ratio", stop_ratio)
        .filter(
            (F.col("n_words") >= 5)
            & (F.col("n_words") <= 2000)
            & (F.col("stop_ratio") >= 0.01)
        )
    )
    survivors = kept.groupBy(F.md5("text").alias("fp")).agg(
        F.min("doc_id").alias("keep_id"),
        F.min("lang").alias("lang"),
        F.min("text").alias("text"),
        F.min("n_words").alias("n_words"),
        F.count("*").alias("n_copies"),
    )
    pairs = jaccard_pairs(
        _shingles_of(survivors.select(F.col("keep_id").alias("doc_id"), "text")),
        df_cap=_DF_CAP,
    )
    comp = connected_components(pairs)
    flagged = survivors.join(
        comp, survivors.keep_id == comp.node, "left"
    ).withColumn(
        "keep_flag",
        F.col("node").isNull() | (F.col("keep_id") == F.col("component")),
    )
    keep_i = F.col("keep_flag").cast("int")
    return flagged.groupBy("lang").agg(
        F.sum(keep_i).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("keep_flag"), F.col("n_words")).otherwise(0))
        .cast("bigint")
        .alias("total_words"),
        F.sum(F.col("n_copies") - 1).cast("bigint").alias("exact_dups_removed"),
        F.sum(1 - keep_i).cast("bigint").alias("neardup_removed"),
        F.min(F.when(F.col("keep_flag"), F.col("keep_id"))).alias("first_doc"),
    )


_SUBSTR_L = 40  # duplicated-span window length (chars)

_SUBSTR_ORACLE = f"""
WITH g AS (
  SELECT doc_id, i AS pos, MD5(substr(text, i, {_SUBSTR_L})) AS h
  FROM ({_DUP_CORPUS_SQL}),
       UNNEST(range(1, length(text) - {_SUBSTR_L} + 2)) AS t(i)
  WHERE length(text) >= {_SUBSTR_L}
),
dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY h) AS c FROM g
  ) WHERE c > 1
),
isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev_max IS NULL OR pos > prev_max
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (
    SELECT doc_id, pos,
           MAX(pos + {_SUBSTR_L}) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS prev_max
    FROM dup
  )
),
spans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + {_SUBSTR_L} AS e
  FROM isl GROUP BY doc_id, island
)
SELECT c.doc_id,
       CAST(COALESCE(COUNT(spans.s), 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(SUM(spans.e - spans.s), 0) AS BIGINT) AS dup_chars,
       CAST(length(c.text) AS BIGINT) AS total_chars
FROM ({_DUP_CORPUS_SQL}) c LEFT JOIN spans ON c.doc_id = spans.doc_id
GROUP BY c.doc_id, c.text
"""


@register("dedup_substring", "K1", oracle=_SUBSTR_ORACLE, driver=False)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact SUBSTRING-level dedup: find every maximal span of text
    whose {L}-char windows all occur >= 2 times corpus-wide — the
    duplicated-passage pass training-data pipelines run AFTER
    doc-level dedup (boilerplate, licenses, quoted reposts survive
    doc-level hashing; this finds them for span REMOVAL, not doc
    removal).

    Plan shape (100 TB posture): the distributed formulation of
    suffix-array substring dedup is a window-hash count — suffix
    arrays beat it on one machine but do not distribute. Nothing but
    hashes, doc_ids and positions ever shuffles, never document text;
    :func:`substring_find` seeds the count with minimizer anchors so
    only candidate positions carry a 16-byte digest. Run it on the
    post-doc-dedup corpus: one degenerate hot key (a corpus that is
    one repeated character) would pin a reducer through the window
    sort, and the doc-level exact dedup that precedes this pass
    removes exactly those repeats.
    """
    return substring_find(_dup_corpus(spark, sf_dir))


_SEED_K = 24  # minimizer k-gram length (chars): long enough that
#               seed-level duplication tracks L-gram-level duplication
#               on real text (short k floods pass 2 with common-phrase
#               candidates)
_SEED_W = 17  # minimizer window (k-gram positions); k + w - 1 <= L
_POS_BITS = 20  # packed-long position field; docs must be < 2^20 chars

if _SEED_K + _SEED_W - 1 > _SUBSTR_L:
    # the entire exactness argument of _substring_spans rests on every
    # L-gram holding at least one FULL minimizer window — fail loud,
    # not subtly
    raise ValueError(
        f"substring dedup needs k + w - 1 <= L (got k={_SEED_K}, "
        f"w={_SEED_W}, L={_SUBSTR_L}): a duplicated L-gram could "
        "otherwise carry no anchor and be silently missed"
    )


def substring_find(corpus: DataFrame) -> DataFrame:
    """Substring-dedup FIND over an arbitrary (doc_id, text) corpus —
    the operator behind :func:`dedup_substring` (which binds it to the
    oracle's duplicated fixture corpus); tools/soak_corpus.py runs it
    directly on the big corpus. Output is per doc (doc_id, n_spans,
    dup_chars, total_chars) over the maximal duplicated spans of
    :func:`_substring_spans`."""
    spans = _substring_spans(corpus)
    # project text down to its LENGTH before the join: the final
    # per-doc regroup must shuffle (doc_id, total_chars) longs, never
    # document text (plan-asserted in tests/test_plans.py)
    return (
        corpus.select(
            "doc_id", F.length("text").cast("bigint").alias("total_chars")
        )
        .join(spans, "doc_id", "left")
        .groupBy("doc_id", "total_chars")
        .agg(
            F.count("s").alias("n_spans"),
            F.coalesce(F.sum(F.col("e") - F.col("s")), F.lit(0))
            .cast("bigint")
            .alias("dup_chars"),
        )
        .select("doc_id", "n_spans", "dup_chars", "total_chars")
    )


def _substring_spans(corpus: DataFrame) -> DataFrame:
    """Maximal duplicated spans (doc_id, s, e), 1-based with ``e``
    exclusive: every position whose L-gram occurs >= 2 times
    corpus-wide, merged per doc by gaps-and-islands. Stride-1
    exactness would shuffle one digest row per corpus character (~28
    B/char); this shuffles only MINIMIZER positions as candidate
    seeds, then verifies exactly.

    Exactness argument (why seeding loses nothing): a (w, k) minimizer
    scheme picks, for every full window of w consecutive k-gram
    positions, the rightmost position of minimal hash. The pick of a
    window is a pure function of the window's k+w-1 characters plus
    the RELATIVE order of its positions. With k + w - 1 <= L, every
    L-gram contains at least one FULL interior window, so every
    occurrence of a duplicated L-gram selects an anchor at the same
    relative offset delta in [0, L-k] — all copies of the gram
    contribute the same k-gram seed hash, which therefore reaches
    count >= 2. Expanding every surviving anchor ``a`` to candidate
    positions [a-(L-k), a] thus covers EVERY duplicated position of
    every copy, and the second pass verifies candidates with exact
    16-byte L-gram digests (count >= 2 over candidates implies
    count >= 2 corpus-wide; all copies are candidates, so no miss).
    Seed-hash collisions only ADD candidates, never drop one.

    The minimizer sweep stays primitive-typed: (hash, position) pairs
    pack into ONE int64 — high 44 bits of xxhash64, low 20 bits
    holding (2^20-1 - pos) so array_min is min-hash with rightmost
    tie-break. Ties on the truncated hash resolve by RELATIVE order
    (positions in a window differ by the same offset in every copy),
    so packing preserves the exactness argument; documents must be
    shorter than 2^20 chars (enforced with raise_error — chunk longer
    docs upstream).

    Plan shape (100 TB posture), three thin shuffles + one broadcast:
    1. anchors (packed seed int64, doc_id, pos) at ~2/(w+1) of
       positions — ~2-3 B/char against stride-1's ~28 B/char;
    2. surviving anchor positions, grouped per doc (rows proportional
       to DUPLICATED content, not corpus size), broadcast back onto
       the corpus scan — candidate digests are then computed map-side,
       never moving text;
    3. candidate digests (~28 B per candidate; candidates are
       proportional to duplicated content + seed-collision noise, so
       the win over stride-1 is ~(2/(w+1))^-1 on mostly-unique
       corpora and degrades toward parity as the duplicated fraction
       approaches 1 — every truly duplicated position must still be
       verified individually; measured tables in SOAK.md).
    If the duplicated-anchor side ever outgrows broadcast, Spark falls
    back to a doc_id shuffle join whose corpus side is raw text
    (~1 B/char) — still ~28x under stride-1. The duplicated positions
    then re-group per doc for the span merge (a much smaller shuffle
    of only the duplicated positions)."""
    from pyspark.sql.window import Window

    L, k, w = _SUBSTR_L, _SEED_K, _SEED_W
    pos_mask = (1 << _POS_BITS) - 1
    eligible = corpus.filter(F.length("text") >= L)

    # --- pass 1 (map-side): packed k-gram hashes, minimizer picks ---
    n = F.length("text")
    guarded = F.when(
        n >= F.lit(1 << _POS_BITS),
        F.raise_error(
            F.concat(
                F.lit(
                    "substring_find: document longer than "
                    f"{(1 << _POS_BITS) - 1} chars (doc_id "
                ),
                F.col("doc_id").cast("string"),
                F.lit("); chunk it upstream"),
            )
        ).cast("string"),
    ).otherwise(F.col("text"))
    # packed = (xxhash64 & ~pos_mask) + (pos_mask - i): low bits are
    # cleared by the AND, so the addition never carries into the hash
    packed = F.transform(
        F.sequence(F.lit(1), n - k + 1),
        lambda i: (
            F.xxhash64(F.col("text").substr(i, F.lit(k))).bitwiseAND(
                F.lit(~pos_mask)
            )
            + (F.lit(pos_mask) - i)
        ),
    )
    # the sweep references _ph TWICE (size + slice): CollapseProject
    # would otherwise inline the O(n) array builder into the
    # per-window lambda — O(n^2) per doc (measured: a 5-minute hang
    # at sf0.001; same pitfall class as _shingles / winnow notes)
    picks = F.transform(
        F.sequence(F.lit(1), F.size("_ph") - w + 1),
        lambda s: F.array_min(F.slice(F.col("_ph"), s, w)),
    )
    # explode_OUTER, not explode: InferFiltersFromGenerate would add a
    # size(...) > 0 predicate for a plain explode, and predicate
    # pushdown substitutes the whole nested-transform chain into that
    # filter — re-evaluating the O(n*w) minimizer sweep per input row.
    # No filter is inferred for outer generates; the cheap isNotNull
    # below runs on the Generate's OUTPUT attribute, which cannot push
    # beneath it. (Docs here always have >= 1 window.)
    anchors = (
        eligible.select("doc_id", guarded.alias("text"))
        .select("doc_id", packed.alias("_ph"))
        .select("doc_id", F.array_distinct(picks).alias("_ap"))
        .select("doc_id", F.explode_outer("_ap").alias("p"))
        .filter(F.col("p").isNotNull())
        .select(
            "doc_id",
            (F.lit(pos_mask) - F.col("p").bitwiseAND(F.lit(pos_mask)))
            .cast("int")
            .alias("apos"),
            F.col("p").bitwiseAND(F.lit(~pos_mask)).alias("kh"),
        )
    )
    survivors = (
        anchors.withColumn(
            "c", F.count("*").over(Window.partitionBy("kh"))
        )
        .filter(F.col("c") > 1)
        .groupBy("doc_id")
        .agg(F.collect_set("apos").alias("aps"))
    )

    # --- pass 2 (map-side after a broadcast): candidate positions
    # [a-(L-k), a] clipped to valid L-gram starts, exact digests ---
    cand = (
        eligible.join(F.broadcast(survivors), "doc_id")
        .select(
            "doc_id",
            "text",
            F.array_distinct(
                F.flatten(
                    F.transform(
                        "aps",
                        lambda a: F.sequence(
                            F.greatest(a - (L - k), F.lit(1)),
                            F.least(a, F.length("text") - L + 1),
                        ),
                    )
                )
            ).alias("_cp"),
        )
        .select(
            "doc_id",
            F.transform(
                "_cp",
                lambda p: F.struct(
                    p.alias("pos"),
                    F.unhex(
                        F.md5(F.col("text").substr(p, F.lit(L)))
                    ).alias("h"),
                ),
            ).alias("_cd"),
        )
        .select("doc_id", F.explode_outer("_cd").alias("c"))
        .filter(F.col("c").isNotNull())
        .select("doc_id", F.col("c.pos").alias("pos"), F.col("c.h").alias("h"))
    )
    dup = (
        cand.withColumn("c", F.count("*").over(Window.partitionBy("h")))
        .filter(F.col("c") > 1)
        .select("doc_id", "pos")
    )

    # --- span merge: gaps-and-islands per doc ---
    prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = Window.partitionBy("doc_id").orderBy("pos")
    isl = dup.withColumn(
        "prev_max", F.max(F.col("pos") + L).over(prev)
    ).withColumn(
        "island",
        F.sum(
            F.when(
                F.col("prev_max").isNull()
                | (F.col("pos") > F.col("prev_max")),
                1,
            ).otherwise(0)
        ).over(run),
    )
    return isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"), (F.max("pos") + L).alias("e")
    )


_DECON_ORACLE = """
WITH d AS (
  SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS w
  FROM documents
),
bg AS (
  SELECT DISTINCT array_to_string(w[i:i+4], ' ') AS gram, doc_id AS bench_id
  FROM d, UNNEST(range(1, len(w) - 3)) AS t(i)
  WHERE doc_id % 10 = 7 AND len(w) >= 5
),
cg AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS gram
  FROM d, UNNEST(range(1, len(w) - 3)) AS t(i)
  WHERE doc_id % 10 <> 7 AND len(w) >= 5
),
hits AS (
  SELECT cg.doc_id,
         COUNT(DISTINCT cg.gram) AS n_shared_grams,
         COUNT(DISTINCT bg.bench_id) AS n_bench_docs
  FROM cg JOIN bg USING (gram)
  GROUP BY cg.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(h.n_shared_grams, 0) AS BIGINT) AS n_shared_grams,
       CAST(COALESCE(h.n_bench_docs, 0) AS BIGINT) AS n_bench_docs,
       COALESCE(h.n_shared_grams, 0) >= 3 AS contaminated
FROM d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % 10 <> 7
"""


@register("corpus_decontaminate", "K2", oracle=_DECON_ORACLE,
          driver=False)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION: flag corpus documents that share
    word 5-grams with a held-out evaluation set (here: doc_id % 10 ==
    7 plays the benchmark) — the hygiene pass training pipelines run
    so eval questions don't leak into training data. Reports, per
    corpus doc, the distinct shared grams, the distinct benchmark
    docs hit, and the >= 3-gram contamination flag.

    100 TB posture: the asymmetry IS the plan — the benchmark side is
    tiny (eval suites are thousands of docs, the corpus is billions),
    so its distinct gram set BROADCASTS and the corpus-side gram scan
    is map-local until one final per-doc aggregate; the corpus never
    self-joins and never shuffles text. This mirrors how production
    decontamination ships (benchmark n-gram set as a shared filter).
    """
    return _decontaminate(
        spark,
        sf_dir,
        F.filter(F.split("text", " "), lambda x: x != ""),
    )


def _decontaminate(spark, sf_dir: str, words) -> DataFrame:
    """Shared decontamination pipeline: ``words`` is the tokenizer
    expression (plain whitespace split, or the normalized variant) —
    everything downstream (gram construction, the broadcast
    asymmetry, the per-doc aggregates) is identical."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", words.alias("w")
    )

    def grams(d: DataFrame, id_col: str) -> DataFrame:
        # short-doc guard inside the generator (IF -> empty array), not
        # a .filter(size(w) >= 5): Catalyst pushes that filter below
        # the w projection by substitution and the tokenizer (regexp in
        # the _norm variant) runs twice per row (round-14, guide §4.4's
        # duplicated-derivation trap).
        return d.select(
            F.col("doc_id").alias(id_col),
            F.explode(
                F.expr(
                    "IF(size(w) >= 5,"
                    " transform(sequence(1, size(w) - 4),"
                    " i -> concat_ws(' ', slice(w, i, 5))),"
                    " array())"
                )
            ).alias("gram"),
        )

    bench = grams(docs.filter(F.col("doc_id") % 10 == 7), "bench_id").distinct()
    # the CORPUS side is deliberately NOT pre-distinct'ed: that would
    # shuffle every gram of the whole corpus once before the join —
    # the broadcast filter drops non-hits map-side, and the
    # countDistinct aggregates below absorb within-doc repeats of the
    # few grams that DO hit (hits are benchmark-bounded by definition)
    corpus = grams(docs.filter(F.col("doc_id") % 10 != 7), "doc_id")
    hits = (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_shared_grams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )
    return (
        docs.filter(F.col("doc_id") % 10 != 7)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared_grams", F.lit(0))
            .cast("bigint")
            .alias("n_shared_grams"),
            F.coalesce("n_bench_docs", F.lit(0))
            .cast("bigint")
            .alias("n_bench_docs"),
            (F.coalesce("n_shared_grams", F.lit(0)) >= 3).alias(
                "contaminated"
            ),
        )
    )


_DECON_NORM_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {_NORM_SQL} AS w
  FROM documents
),
bg AS (
  SELECT DISTINCT array_to_string(w[i:i+4], ' ') AS gram, doc_id AS bench_id
  FROM d, UNNEST(range(1, len(w) - 3)) AS t(i)
  WHERE doc_id % 10 = 7 AND len(w) >= 5
),
cg AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS gram
  FROM d, UNNEST(range(1, len(w) - 3)) AS t(i)
  WHERE doc_id % 10 <> 7 AND len(w) >= 5
),
hits AS (
  SELECT cg.doc_id,
         COUNT(DISTINCT cg.gram) AS n_shared_grams,
         COUNT(DISTINCT bg.bench_id) AS n_bench_docs
  FROM cg JOIN bg USING (gram)
  GROUP BY cg.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(h.n_shared_grams, 0) AS BIGINT) AS n_shared_grams,
       CAST(COALESCE(h.n_bench_docs, 0) AS BIGINT) AS n_bench_docs,
       COALESCE(h.n_shared_grams, 0) >= 3 AS contaminated
FROM d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % 10 <> 7
"""


@register("corpus_decontaminate_norm", "K2", oracle=_DECON_NORM_ORACLE,
          driver=False)
def corpus_decontaminate_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NORMALIZED-token benchmark decontamination: identical to
    :func:`corpus_decontaminate` except grams are built over
    normalized tokens — lowercase, punctuation stripped to spaces,
    whitespace collapsed — the way production leak checks tokenize
    (an eval question leaks into training data with different casing
    and punctuation more often than verbatim). The normalization is
    a pure map-side Catalyst regexp on BOTH sides of the broadcast,
    so the plan shape (tiny bench gram set broadcasts, corpus side
    map-local to the join, one per-doc aggregate) is unchanged —
    plan-asserted in tests/test_plans.py alongside the exact-token
    variant."""
    from hortacloud_importer_spark.operators.textnorm import norm_words

    return _decontaminate(spark, sf_dir, norm_words())


_MIX_U = (
    "CAST('0x' || substr(md5(source || ':' || doc_id || ':seed7'), 1, 8)"
    " AS BIGINT) / 4294967296.0"
)

# per-source rate from a HASH of the source name (r13: was a parse of
# the fixture's "srcN" suffix, which raises under ANSI casts on any
# other source vocabulary — e.g. the soak corpus's web/wiki/code/news)
_MIX_RATE = (
    "((CAST('0x' || substr(md5(source), 1, 8) AS BIGINT) % 4) + 1) / 5.0"
)

_MIX_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source, length(text) AS n_chars,
         {_MIX_RATE} AS rate,
         {_MIX_U} AS u
  FROM documents
)
SELECT source,
       CAST(ANY_VALUE(rate * 10) AS BIGINT) AS rate_tenths,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN u < rate THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN u < rate THEN n_chars ELSE 0 END) AS BIGINT)
         AS kept_chars,
       MIN(CASE WHEN u < rate THEN doc_id END) AS first_kept
FROM d GROUP BY source
"""


@register("corpus_sample_mix", "K1", oracle=_MIX_ORACLE, driver=False)
def corpus_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MIXTURE SAMPLING: each source gets a sampling
    rate (here a fixed function of the source id standing in for the
    mixing weights a data recipe assigns), and a document survives iff
    a hash-derived uniform u(doc) < rate(source) — the reproducible,
    seed-keyed downsampling stage that turns raw sources into a
    training mix. Returns per-source accounting (docs, kept, chars,
    first kept id).

    100 TB posture: sampling is a STATELESS map-side filter — the
    uniform comes from md5(source:doc_id:seed), so re-runs, retries,
    and partial re-crawls keep/drop the SAME documents with no
    sampling state to store or shuffle; the only shuffle is the final
    per-source aggregate (map-side combined, one row per source).
    Changing the seed re-rolls the whole mix reproducibly.
    """
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.length("text").alias("n_chars"),
        (
            # hash-derived per-source rate (mirrors _MIX_RATE): works
            # for any source vocabulary, not just the fixture's "srcN"
            (
                F.conv(F.substring(F.md5("source"), 1, 8), 16, 10).cast(
                    "bigint"
                )
                % 4
                + 1
            )
            / 5.0
        ).alias("rate"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "", F.col("source"), F.lit(":"),
                            F.col("doc_id"), F.lit(":seed7"),
                        )
                    ),
                    1, 8,
                ),
                16, 10,
            ).cast("bigint")
            / F.lit(4294967296.0)
        ).alias("u"),
    )
    kept = F.col("u") < F.col("rate")
    return d.groupBy("source").agg(
        F.first(F.col("rate") * 10).cast("bigint").alias("rate_tenths"),
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(kept.cast("int")).cast("bigint").alias("n_kept"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("kept_chars"),
        F.min(F.when(kept, F.col("doc_id"))).alias("first_kept"),
    )


_SUBSTR_APPLY_ORACLE = f"""
WITH g AS (
  SELECT doc_id, i AS pos, MD5(substr(text, i, {_SUBSTR_L})) AS h
  FROM ({_DUP_CORPUS_SQL}),
       UNNEST(range(1, length(text) - {_SUBSTR_L} + 2)) AS t(i)
  WHERE length(text) >= {_SUBSTR_L}
),
dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY h) AS c FROM g
  ) WHERE c > 1
),
isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev_max IS NULL OR pos > prev_max
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (
    SELECT doc_id, pos,
           MAX(pos + {_SUBSTR_L}) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS prev_max
    FROM dup
  )
),
spans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + {_SUBSTR_L} AS e
  FROM isl GROUP BY doc_id, island
),
segs AS (
  SELECT doc_id, s,
         COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 1)
           AS seg_start
  FROM spans
),
rebuilt AS (
  SELECT c.doc_id,
         COALESCE(
           string_agg(substr(c.text, g.seg_start, g.s - g.seg_start),
                      '' ORDER BY g.s),
           ''
         ) ||
         substr(c.text,
                COALESCE((SELECT MAX(e) FROM spans p
                          WHERE p.doc_id = c.doc_id), 1))
           AS cleaned
  FROM ({_DUP_CORPUS_SQL}) c LEFT JOIN segs g USING (doc_id)
  GROUP BY c.doc_id, c.text
)
SELECT doc_id,
       MD5(cleaned) AS cleaned_fp,
       CAST(length(cleaned) AS BIGINT) AS cleaned_len
FROM rebuilt
"""


_PACK_S = 512  # tokens per packed training sequence


_PACK_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         CAST(len(list_filter(str_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS n
  FROM documents
),
pre AS (
  SELECT doc_id, n,
         COALESCE(SUM(n) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS prefix
  FROM d WHERE n >= 1
),
frag AS (
  SELECT doc_id, n, prefix, t.s AS seq_id,
         LEAST((t.s + 1) * {_PACK_S}, prefix + n)
           - GREATEST(t.s * {_PACK_S}, prefix) AS tokens
  FROM pre,
       UNNEST(range(CAST(prefix // {_PACK_S} AS BIGINT),
                    CAST((prefix + n - 1) // {_PACK_S} + 1 AS BIGINT)))
         AS t(s)
)
SELECT CAST(seq_id AS BIGINT) AS seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tokens) AS BIGINT) AS seq_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM frag GROUP BY seq_id
"""


def _token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n) of the raw documents table, n >= 1: the input both
    packing forms start from (corpus_pack, corpus_pack_index,
    corpus_shard and the shard store). NOT spread: the round-14
    profile put the single-task token-count stage at 0.11 s, far below
    the cost of the extra exchange a spread would add."""
    from hortacloud_importer_spark.operators.packing import token_counts

    return token_counts(table(spark, sf_dir, "documents"))


@register("corpus_pack", "K1+F2", oracle=_PACK_ORACLE, driver=False)
def corpus_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic SEQUENCE PACKING (the concat-and-chunk stage that
    turns a curated corpus into fixed-length training sequences):
    documents are laid end-to-end in doc_id order and cut into
    512-token sequences, documents splitting across cut points — the
    standard packing used when assembling LLM training batches. Per
    sequence: contributing docs, token count (== 512 everywhere but
    the final partial sequence), and the first/last doc — the index a
    dataloader needs to range-read its shard.

    100 TB posture: the fragments come from
    :func:`~hortacloud_importer_spark.operators.packing.pack_fragments`:
    a range partition by doc_id, one collect of the per-partition
    token totals (at most shuffle.partitions rows) folded into offsets
    on the driver, then one map kernel taking each partition's
    cumulative sum in NumPy — no window, and no SinglePartition
    exchange ever touches the corpus (plan-asserted in
    tests/test_plans.py). A doc spans at most ceil(n/512) + 1
    fragments, and the final aggregate is one map-side-combined
    groupBy(seq_id)."""
    from hortacloud_importer_spark.operators.packing import pack_fragments

    frag = pack_fragments(spark, _token_counts(spark, sf_dir), _PACK_S)
    return frag.groupBy("seq_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("seq_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_PACK_INDEX_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         CAST(len(list_filter(str_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS n
  FROM documents
),
pre AS (
  SELECT doc_id, n,
         COALESCE(SUM(n) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS prefix
  FROM d WHERE n >= 1
)
SELECT CAST(t.s AS BIGINT) AS seq_id,
       doc_id,
       CAST(GREATEST(t.s * {_PACK_S}, prefix) - t.s * {_PACK_S}
            AS BIGINT) AS seq_off,
       CAST(GREATEST(t.s * {_PACK_S}, prefix) - prefix
            AS BIGINT) AS doc_off,
       CAST(LEAST((t.s + 1) * {_PACK_S}, prefix + n)
            - GREATEST(t.s * {_PACK_S}, prefix) AS BIGINT) AS n_tok
FROM pre,
     UNNEST(range(CAST(prefix // {_PACK_S} AS BIGINT),
                  CAST((prefix + n - 1) // {_PACK_S} + 1 AS BIGINT)))
       AS t(s)
"""


@register("corpus_pack_index", "K1+F2",
          oracle=_PACK_INDEX_ORACLE, driver=False)
def corpus_pack_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FRAGMENT-level read index corpus_pack aggregates away: one
    row per (sequence, contributing document) with the fragment's
    offset inside the sequence (seq_off), its offset inside the source
    document (doc_off), and its token count (n_tok) — exactly the
    table a dataloader range-reads to reconstruct sequence bytes
    without re-tokenizing the corpus. Invariants (checked by the
    oracle hash, since both engines compute them): per sequence,
    fragments tile [0, 512) with no gaps; per document, fragments
    tile [0, n) in doc_off order.

    100 TB posture: corpus_pack's plan minus its final aggregate —
    the range partition, one collect of per-partition token totals,
    then the partition-local fragment kernel; the index is emitted with
    NO further exchange, and at ~1 row per 512 tokens it is ~0.2% of
    corpus row count."""
    from hortacloud_importer_spark.operators.packing import pack_fragments

    return pack_fragments(spark, _token_counts(spark, sf_dir), _PACK_S)


_SHARD_N = 8  # dataloader shards (ranks x workers in a real job)
_SHARD_SEED = "seed11"  # epoch seed: changing it re-deals + re-orders

# shared shard-key SQL fragment — the DuckDB mirror of shard_deal()'s
# u column; interpolated by every oracle that deals shards so a seed
# or hash-width change can never desync a composite from its stages
_SHARD_U_SQL = (
    f"CAST('0x' || substr(md5('{_SHARD_SEED}:' || seq_id), 1, 15)"
    " AS BIGINT)"
)

_SHARD_ORACLE = f"""
WITH pack AS ({_PACK_ORACLE}),
keyed AS (
  SELECT seq_id, seq_tokens, {_SHARD_U_SQL} AS u
  FROM pack
)
SELECT CAST(u % {_SHARD_N} AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_seqs,
       CAST(SUM(seq_tokens) AS BIGINT) AS shard_tokens,
       arg_min(seq_id, u) AS first_seq,
       arg_max(seq_id, u) AS last_seq,
       CAST(SUM(u % 1048576) AS BIGINT) AS key_checksum
FROM keyed GROUP BY 1
"""


def shard_deal(
    seqs: DataFrame,
    n_shards: int = _SHARD_N,
    seed: str = _SHARD_SEED,
    id_col: str = "seq_id",
) -> DataFrame:
    """Parameterized shard deal: append (u, shard) to any frame with
    an integer id column — u = the seed-keyed portable md5 integer
    (the within-shard order key), shard = u mod n_shards. Stateless
    and reproducible: the same (seed, id) always lands in the same
    shard at the same order position; a NEW epoch passes a new seed
    and gets an independent deal + order. Pure map-side (no exchange);
    `corpus_shard` is this plus the accounting aggregate."""
    u = F.conv(
        F.substring(
            F.md5(F.concat_ws("", F.lit(f"{seed}:"), F.col(id_col))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    return seqs.withColumn("u", u).withColumn(
        "shard", (F.col("u") % n_shards).cast("bigint")
    )


@register("corpus_shard", "K1+F2", oracle=_SHARD_ORACLE, driver=False)
def corpus_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic SHARD DEAL + seeded sequence shuffle on top of
    :func:`corpus_pack` (round-13 ask #3): every packed 512-token
    sequence is dealt to one of _SHARD_N dataloader shards by a
    seed-keyed md5 hash, and WITHIN a shard the read order is the
    ascending (u, seq_id) key — the same stateless
    md5(seed:id) idiom as corpus_sample_mix, so re-runs, retries, and
    resumed epochs deal and order identically, and changing the seed
    re-shuffles the whole epoch reproducibly. Output is the per-shard
    accounting a dataloader contract needs: sequence count, token sum
    (hash-balance check), the first/last sequence in shuffled order
    (arg_min/arg_max by u — pins the order endpoints), and a key
    checksum.

    100 TB posture: the sequences are closed-form
    (:func:`~hortacloud_importer_spark.operators.packing.packed_sequences`):
    one sum(n) job brings the corpus token total T to the driver, and
    sequence s of ceil(T/512) holds min(512, T - 512*s) tokens, so the
    deal is a pure map over a ``spark.range`` — no document row is
    ordered, exchanged or exploded. The only exchange after the sum is
    the hash partition on `shard` for the accounting aggregate
    (map-side combined, _SHARD_N output rows) — plan-asserted in
    tests/test_plans.py. The full within-shard order is never
    materialized by a global sort: each shard's reader sorts its OWN
    index slice (n/_SHARD_N tiny index rows) at load time. The deal
    itself is the reusable :func:`shard_deal` (epoch seed and shard
    count parameterized; determinism pinned in
    tests/test_llm_ops_reference.py)."""
    from hortacloud_importer_spark.operators.packing import packed_sequences

    keyed = shard_deal(
        packed_sequences(spark, _token_counts(spark, sf_dir), _PACK_S)
    )
    return keyed.groupBy("shard").agg(
        *_shard_accounting(),
        F.sum(F.col("u") % 1048576).cast("bigint").alias("key_checksum"),
    )


def _shard_accounting() -> list:
    """The per-shard aggregates corpus_shard and q_dataset_build share
    over dealt (seq_id, seq_tokens, u) rows."""
    return [
        F.count("*").cast("bigint").alias("n_seqs"),
        F.sum("seq_tokens").cast("bigint").alias("shard_tokens"),
        F.min_by("seq_id", "u").alias("first_seq"),
        F.max_by("seq_id", "u").alias("last_seq"),
    ]


_SHARD_STORE_ORACLE = f"""
WITH idx AS ({_PACK_INDEX_ORACLE}),
keyed AS (SELECT idx.*, {_SHARD_U_SQL} AS u FROM idx)
SELECT CAST(u % {_SHARD_N} AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_fragments,
       CAST(COUNT(DISTINCT seq_id) AS BIGINT) AS n_seqs,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS shard_tokens
FROM keyed GROUP BY 1
"""


@register("corpus_shard_store", "K1+A6+A11",
          oracle=_SHARD_STORE_ORACLE, driver=False)
def corpus_shard_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMMITTED DATALOADER MANIFEST SINK (round-13 ask #6): deal
    the fragment read index to shards, WRITE ``shard={k}/index.parquet``
    with a manifest commit (pipelines/shard_store.py — the A6/A11
    commit-and-resume discipline of the block stores), then READ THE
    STORE BACK committed-only and return per-shard accounting. The
    DuckDB oracle re-derives the same accounting from the pack-index
    SQL + the shared shard-key fragment, so a write that drops,
    duplicates, or mis-routes fragment rows — or a read-back that sees
    uncommitted files — breaks the hash. Resume semantics (a re-run
    writes only missing shards; stray uncommitted files are inert) are
    pinned in tests/test_shard_store.py.

    100 TB posture: the index is corpus_pack_index's fragment kernel
    (operators/packing.py::pack_fragments: a range partition of the
    16-byte (doc_id, n) counts, one collect of per-partition token
    totals, no window), ~1 row per 512 tokens with no text; after the
    range partition the only exchange is the hash partition on
    ``shard`` routing each shard's rows to its writer task; files are
    written executor-side (staged+rename / atomic PUT) and the driver
    handles only n_shards accounting rows plus one immutable manifest
    shard append."""
    import tempfile

    from hortacloud_importer_spark.pipelines.shard_store import (
        read_shard_store,
        shard_index,
        write_shard_store,
    )

    root = tempfile.mkdtemp(prefix="shard_store_") + "/store"
    write_shard_store(spark, shard_index(spark, sf_dir), root)
    back = read_shard_store(spark, root)
    return back.groupBy(F.col("shard").cast("bigint").alias("shard")).agg(
        F.count("*").cast("bigint").alias("n_fragments"),
        F.countDistinct("seq_id").cast("bigint").alias("n_seqs"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("shard_tokens"),
    )


_DSB_STOPWORDS = frozenset(
    ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")
)
_DSB_STOPS = ",".join(f"'{w}'" for w in sorted(_DSB_STOPWORDS))


def _dataset_build_docs(batches):
    """mapInPandas kernel, the front of q_dataset_build: documents
    (doc_id, source, text) to (fp, doc_id, source, n) for every row of
    the dup-injected corpus (each doc_id % 5 == 0 document again as
    doc_id + 100000, the re-crawl) that passes the quality filter.
    Spark's semantics exactly: words are split(text, ' ') keeping
    empty strings, 5 <= words <= 2000, stop-word share >= 0.01 as a
    double division, n = non-empty words >= 1, a null text dropped
    (its size is -1), fp = hex md5 of the UTF-8 text."""
    import hashlib

    import pandas as pd

    for pdf in batches:
        rows = []
        for doc, source, text in zip(pdf["doc_id"], pdf["source"], pdf["text"]):
            if not isinstance(text, str):
                continue
            words = text.split(" ")
            n_words = len(words)
            n = n_words - words.count("")
            if not 5 <= n_words <= 2000 or n < 1:
                continue
            if sum(w in _DSB_STOPWORDS for w in words) / n_words < 0.01:
                continue
            fp = hashlib.md5(text.encode("utf-8")).hexdigest()
            rows.append((fp, doc, source, n))
            if doc % 5 == 0:
                rows.append((fp, doc + 100000, source, n))
        if rows:
            yield pd.DataFrame(rows, columns=["fp", "doc_id", "source", "n"])


_DATASET_BUILD_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, source, text FROM documents
  WHERE doc_id % 5 = 0
),
quality AS (
  SELECT doc_id, source, text,
         CAST(len(list_filter(str_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS n,
         LEN(str_split(text, ' ')) AS n_words,
         CAST(LEN(list_filter(str_split(text, ' '),
                              w -> w IN ({_DSB_STOPS}))) AS DOUBLE)
           / LEN(str_split(text, ' ')) AS stop_ratio
  FROM corpus
),
kept AS (
  SELECT * FROM quality
  WHERE n_words >= 5 AND n_words <= 2000 AND stop_ratio >= 0.01
    AND n >= 1
),
dedup AS (
  SELECT MIN(doc_id) AS doc_id,
         arg_min(source, doc_id) AS source,
         MIN(n) AS n
  FROM kept GROUP BY MD5(text)
),
sampled AS (
  SELECT doc_id, n FROM (
    SELECT doc_id, n,
           {_MIX_RATE} AS rate,
           {_MIX_U} AS u
    FROM dedup
  ) WHERE u < rate
),
pre AS (
  SELECT doc_id, n,
         COALESCE(SUM(n) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS prefix
  FROM sampled
),
frag AS (
  SELECT t.s AS seq_id,
         LEAST((t.s + 1) * {_PACK_S}, prefix + n)
           - GREATEST(t.s * {_PACK_S}, prefix) AS tokens
  FROM pre,
       UNNEST(range(CAST(prefix // {_PACK_S} AS BIGINT),
                    CAST((prefix + n - 1) // {_PACK_S} + 1 AS BIGINT)))
         AS t(s)
),
seqs AS (
  SELECT CAST(seq_id AS BIGINT) AS seq_id,
         CAST(SUM(tokens) AS BIGINT) AS seq_tokens
  FROM frag GROUP BY 1
),
keyed AS (
  SELECT seq_id, seq_tokens, {_SHARD_U_SQL} AS u
  FROM seqs
)
SELECT CAST(u % {_SHARD_N} AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_seqs,
       CAST(SUM(seq_tokens) AS BIGINT) AS shard_tokens,
       arg_min(seq_id, u) AS first_seq,
       arg_max(seq_id, u) AS last_seq
FROM keyed GROUP BY 1
"""


@register("q_dataset_build", "K1+K5+F2",
          oracle=_DATASET_BUILD_ORACLE, driver=False)
def q_dataset_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAW CRAWL -> TRAINING SHARDS, one Catalyst plan (K1+K5+F2): the
    full dataset-build composite a training run actually executes —
    quality signals filter the dup-injected corpus, exact dedup
    collapses re-crawls (16-byte md5 shuffle), deterministic mixture
    sampling applies per-source rates (stateless seed-keyed md5, the
    corpus_sample_mix stage), survivors pack end-to-end into 512-token
    sequences (closed form from their token total), and the sequences
    deal into dataloader shards
    (shard_deal). Output: per-shard sequence/token accounting with the
    shuffled-order endpoints. Every stage is an already-verified
    operator; this pins their COMPOSITION with one DuckDB oracle.
    (Benchmark decontamination composes the same way — broadcast gram
    join before sampling — but is pinned by its own oracle pair, so
    this composite keeps the plan readable without it.)

    100 TB posture: one map kernel (:func:`_dataset_build_docs`)
    reads each document once and emits its quality-kept copies as
    (fp, doc_id, source, n); the only full-corpus shuffle is the md5
    dedup groupBy over those hex digests (no text). Sampling is a
    map-side filter on the deduped (doc_id, n) index; packing is
    closed-form (operators/packing.py::packed_sequences: one sum(n)
    job, then sequence s of ceil(T/512) holds min(512, T - 512*s)
    tokens), so no document row is ordered, windowed or exploded; and
    the shard accounting is one map-side-combined aggregate over a
    ``spark.range`` of sequences with _SHARD_N output rows."""
    from hortacloud_importer_spark.operators.packing import packed_sequences

    # NOT spread: the quality stage ran 0.77 s over 2 scan tasks in
    # the round-14 profile — an extra round-robin exchange (plus its
    # AQE stage-job) costs about what the wider tokenize would save,
    # and the md5-dedup exchange right after it already spreads the
    # rest of the composite
    kept = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).mapInPandas(
        _dataset_build_docs,
        "fp string, doc_id bigint, source string, n bigint",
    )
    dedup = kept.groupBy("fp").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("source", "doc_id").alias("source"),
        F.min("n").alias("n"),
    )
    # per-source rate from a HASH of the source name (not a parse of
    # its suffix like corpus_sample_mix's fixture-shaped rate): works
    # for any source vocabulary — the soak corpus uses web/wiki/code/
    # news, where a digit-parse raises under ANSI casts
    rate = (
        (
            F.conv(F.substring(F.md5("source"), 1, 8), 16, 10).cast(
                "bigint"
            )
            % 4
            + 1
        )
        / 5.0
    )
    u_mix = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "", F.col("source"), F.lit(":"),
                        F.col("doc_id"), F.lit(":seed7"),
                    )
                ),
                1, 8,
            ),
            16, 10,
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    sampled = (
        dedup.withColumn("rate", rate)
        .withColumn("u", u_mix)
        .filter(F.col("u") < F.col("rate"))
        .select("doc_id", "n")
    )
    keyed = shard_deal(packed_sequences(spark, sampled, _PACK_S))
    return keyed.groupBy("shard").agg(*_shard_accounting())


@register("dedup_substring_apply", "K1",
          oracle=_SUBSTR_APPLY_ORACLE, driver=False)
def dedup_substring_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY side of substring dedup: REMOVE every duplicated
    span found by :func:`dedup_substring` and fingerprint the cleaned
    text — find-then-rewrite is the actual pipeline shape (Lee et
    al. delete the duplicated spans, they don't just count them).
    Output is (doc_id, md5(cleaned), cleaned_len): the md5 pins the
    byte-exact reconstruction, including span-boundary off-by-ones.

    Plan: the spans come from the same seeded finder
    (:func:`_substring_spans`, so documents must be shorter than 2^20
    chars here too); the span table (tiny — only duplicated regions) joins back
    to the corpus by doc_id; each doc's kept segments are substrings
    between consecutive spans (lag window) plus the tail, reassembled
    in position order. Text shuffles ONCE here by necessity — the
    output is a rewrite of the text itself."""
    from pyspark.sql.window import Window

    corpus = _dup_corpus(spark, sf_dir)
    spans = _substring_spans(corpus)
    segs = spans.select(
        "doc_id",
        "s",
        F.coalesce(
            F.lag("e").over(Window.partitionBy("doc_id").orderBy("s")),
            F.lit(1),
        ).alias("seg_start"),
    )
    ends = spans.groupBy("doc_id").agg(F.max("e").alias("max_e"))
    rebuilt = (
        corpus.join(segs, "doc_id", "left")
        .join(ends, "doc_id", "left")
        .groupBy("doc_id", "text", "max_e")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("s"),
                                F.expr(
                                    "substring(text, seg_start,"
                                    " s - seg_start)"
                                ).alias("seg"),
                            )
                        )
                    ),
                    lambda x: x["seg"],
                ),
            ).alias("head"),
        )
        .select(
            "doc_id",
            F.concat(
                F.col("head"),
                F.expr("substring(text, coalesce(max_e, 1))"),
            ).alias("cleaned"),
        )
    )
    return rebuilt.select(
        "doc_id",
        F.md5("cleaned").alias("cleaned_fp"),
        F.length("cleaned").cast("bigint").alias("cleaned_len"),
    )


_INGEST_INCREMENT_ORACLE = """
WITH d AS (SELECT doc_id, source, text FROM documents),
inc AS (
  SELECT doc_id, source, MD5(text) AS fp FROM d WHERE doc_id % 4 = 3
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, source, MD5(text) AS fp
  FROM d WHERE doc_id % 5 = 0
),
base AS (SELECT DISTINCT MD5(text) AS fp FROM d WHERE doc_id % 4 <> 3),
flags AS (
  SELECT i.doc_id, i.source, i.fp,
         i.fp IN (SELECT fp FROM base) AS dup_store,
         ROW_NUMBER() OVER (PARTITION BY i.fp ORDER BY i.doc_id) AS rn
  FROM inc i
),
total AS (
  SELECT COUNT(DISTINCT fp) AS store_total FROM (
    SELECT fp FROM base UNION ALL SELECT fp FROM inc
  )
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN dup_store THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_vs_store,
       CAST(SUM(CASE WHEN NOT dup_store AND rn > 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup_within,
       CAST(SUM(CASE WHEN NOT dup_store AND rn = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_new,
       (SELECT store_total FROM total) AS store_total
FROM flags GROUP BY 1
"""


@register("corpus_ingest_increment", "K1+A6+A11",
          oracle=_INGEST_INCREMENT_ORACLE, driver=False)
def corpus_ingest_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL crawl ingest against a COMMITTED fingerprint store
    (K1+A6+A11): the production shape of repeated ingestion — a new
    crawl generation dedups against everything absorbed by EARLIER
    generations without rescanning their text. Generation 0 (docs with
    doc_id % 4 != 3) commits its content fingerprints to a bucketed,
    manifest-committed store (pipelines/fingerprint_store.py); the
    increment (the remaining docs plus injected re-crawls, the
    q_dataset_build idiom) is classified against the COMMITTED
    READ-BACK: already-in-store, duplicate-within-increment, or new;
    the new fingerprints commit as generation 1, and the final
    store_total column comes from a SECOND committed read-back — so a
    write that drops/duplicates fingerprints, a manifest that admits
    an uncommitted file, or a read that misses a generation all break
    the oracle hash. Commit/resume/stray-file semantics are pinned in
    tests/test_fingerprint_store.py.

    100 TB posture: only 16-byte fingerprints ever move — the store
    is ~0.4% of corpus bytes, read as a manifest-filtered parquet
    scan; the increment classification is one join on fp (historical
    side bucketed by digest nibble, so a real deployment can raise
    the nibble count and run it storage-partitioned with no shuffle
    of the store); the generation-1 write is one hash exchange of the
    NEW fingerprints only; within-increment ranking windows on fp,
    never globally."""
    import tempfile

    from pyspark.sql.window import Window

    from hortacloud_importer_spark.pipelines.fingerprint_store import (
        read_fingerprints,
        write_fingerprints,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    base = d.filter(F.col("doc_id") % 4 != 3)
    recrawl = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "source", "text"
    )
    inc = (
        d.filter(F.col("doc_id") % 4 == 3)
        .unionByName(recrawl)
        .select("doc_id", "source", F.md5("text").alias("fp"))
    )

    root = tempfile.mkdtemp(prefix="fp_store_") + "/store"
    write_fingerprints(
        spark, base.select(F.md5("text").alias("fp")), root, gen=0
    )
    committed = read_fingerprints(spark, root).select(
        "fp", F.lit(True).alias("dup_store")
    )
    # classify ONCE and materialize (increment-sized, not store-sized):
    # the classification is consumed twice — by the generation-1 append
    # and by the report — and lazily re-deriving it after the append
    # would reclassify the increment against the GROWN store (every new
    # fingerprint would flip to already-committed)
    flagged = (
        inc.join(committed, "fp", "left")
        .withColumn("dup_store", F.coalesce("dup_store", F.lit(False)))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("fp").orderBy("doc_id")
            ),
        )
        .localCheckpoint()
    )
    new_fps = (
        flagged.filter(~F.col("dup_store") & (F.col("rn") == 1))
        .select("fp")
    )
    write_fingerprints(spark, new_fps, root, gen=1)
    # scalar by necessity: folded into the lazy report plan, the
    # post-append read-back's scan canonicalizes against the
    # pre-append scan of the same path and reads the OLD file set
    store_total = (
        read_fingerprints(spark, root)
        .agg(F.countDistinct("fp").cast("bigint").alias("t"))
        .collect()[0]["t"]
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.col("dup_store").cast("bigint"))
            .cast("bigint")
            .alias("n_dup_vs_store"),
            F.sum(
                ((~F.col("dup_store")) & (F.col("rn") > 1)).cast("bigint")
            )
            .cast("bigint")
            .alias("n_dup_within"),
            F.sum(
                ((~F.col("dup_store")) & (F.col("rn") == 1)).cast("bigint")
            )
            .cast("bigint")
            .alias("n_new"),
        )
        .withColumn("store_total", F.lit(store_total).cast("bigint"))
    )


def _banded_sig_of(docs: DataFrame) -> DataFrame:
    """(doc_id, band, bucket, sig) portable banded-MinHash postings of
    any (doc_id, text) corpus: the 32-perm signature of
    operators/minhash.py banded 4-per-band into 8 buckets (the
    dedup_minhash parameters), plus the full '_'-joined signature
    string — the row shape the signature STORE persists, so an
    increment can LSH-join and estimate jaccard against committed
    generations without ever rescanning their text."""
    from hortacloud_importer_spark.operators.minhash import (
        minhash_signatures,
    )

    sig = minhash_signatures(_shingles_of(docs), 32, portable=True)
    buckets = ", ".join(
        "named_struct('band', {i}L, 'bucket', concat_ws('_', {vals}))".format(
            i=i,
            vals=", ".join(
                f"CAST(sig[{i * 4 + r}] AS STRING)" for r in range(4)
            ),
        )
        for i in range(8)
    )
    sig_str = ", ".join(f"CAST(sig[{j}] AS STRING)" for j in range(32))
    return (
        sig.select(
            "doc_id",
            F.expr(f"concat_ws('_', {sig_str})").alias("sig"),
            F.expr(f"explode(array({buckets}))").alias("bb"),
        )
        .select("doc_id", "bb.band", "bb.bucket", "sig")
    )


_SHINGLES_OF_SQL = """
SELECT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
FROM (SELECT doc_id, str_split(text, ' ') AS words FROM {src})
     , UNNEST(range(1, len(words) - 1)) AS t(i)
"""


def _minhash_increment_oracle() -> str:
    side = """
ids_{s} AS (
  SELECT DISTINCT doc_id,
         CAST('0x' || substr(md5(shingle), 1, 7) AS BIGINT) AS x
  FROM ({shingles})
),
hx_{s} AS (
  SELECT doc_id, j, MIN((a * x + b) % 2147483647) AS h
  FROM ids_{s} CROSS JOIN perms GROUP BY 1, 2
),
bandsig_{s} AS (
  SELECT doc_id, j // 4 AS band,
         string_agg(CAST(h AS VARCHAR), '_' ORDER BY j) AS bucket
  FROM hx_{s} GROUP BY 1, 2
)"""
    return f"""
WITH d AS (SELECT doc_id, text FROM documents),
base AS (SELECT doc_id, text FROM d WHERE doc_id % 4 <> 3),
inc AS (
  SELECT doc_id, text FROM d WHERE doc_id % 4 = 3
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM d WHERE doc_id % 5 = 0
),
perms(j, a, b) AS (VALUES {_minhash_perm_values()}),
{side.format(s='base', shingles=_SHINGLES_OF_SQL.format(src='base'))},
{side.format(s='inc', shingles=_SHINGLES_OF_SQL.format(src='inc'))},
hot AS (
  SELECT band, bucket FROM (
    SELECT band, bucket FROM bandsig_base
    UNION ALL SELECT band, bucket FROM bandsig_inc
  ) GROUP BY 1, 2 HAVING COUNT(*) > {_MINHASH_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT i.doc_id AS doc_inc, s.doc_id AS doc_store
  FROM bandsig_inc i
  JOIN bandsig_base s ON i.band = s.band AND i.bucket = s.bucket
  LEFT JOIN hot ON hot.band = i.band AND hot.bucket = i.bucket
  WHERE hot.band IS NULL
)
SELECT doc_inc, doc_store,
       SUM(CASE WHEN hi.h = hs.h THEN 1 ELSE 0 END) / 32.0 AS est_jaccard
FROM cand c
JOIN hx_inc hi ON hi.doc_id = c.doc_inc
JOIN hx_base hs ON hs.doc_id = c.doc_store AND hs.j = hi.j
GROUP BY 1, 2
HAVING SUM(CASE WHEN hi.h = hs.h THEN 1 ELSE 0 END) / 32.0 >= 0.5
"""


@register("dedup_minhash_increment", "K2+A6+A11",
          oracle=_minhash_increment_oracle(), driver=False)
def dedup_minhash_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup against a COMMITTED SIGNATURE STORE
    (K2+A6+A11): the fuzzy sibling of corpus_ingest_increment — a new
    crawl generation finds its near-duplicates of EVERYTHING already
    absorbed without rescanning committed text, because the store
    persists banded MinHash postings (doc_id, band, bucket, sig), not
    documents. Generation 0 (doc_id % 4 != 3) commits its postings
    (pipelines/fingerprint_store.py, bucketed by band — the same
    commit/resume/stray-file discipline, pinned in
    tests/test_fingerprint_store.py); the increment computes its own
    postings, LSH-joins the COMMITTED READ-BACK on (band, bucket)
    under the production _MINHASH_BUCKET_CAP (applied to the combined
    bucket census, replayed in SQL), and estimates jaccard from the
    STORED signature strings — so a store that drops, corrupts, or
    duplicates posting rows breaks the oracle hash. Output: increment
    docs with an estimated-jaccard >= 0.5 match in the committed
    corpus.

    100 TB posture: committed text is never read — the store is
    signatures only (~32 ints/doc); the LSH join is bucket-bounded
    (band width + cap), never all-pairs; the store is band-partitioned
    so a deployment can co-partition increments by band and keep the
    join storage-partitioned; the estimate reads the stored sig string
    (no second signature pass over the base corpus)."""
    import tempfile

    from hortacloud_importer_spark.pipelines.fingerprint_store import (
        read_fingerprints,
        write_fingerprints,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.filter(F.col("doc_id") % 4 != 3)
    inc = d.filter(F.col("doc_id") % 4 == 3).unionByName(
        d.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )

    root = tempfile.mkdtemp(prefix="sig_store_") + "/store"
    write_fingerprints(
        spark,
        _banded_sig_of(base),
        root,
        gen=0,
        payload_cols=["doc_id", "band", "bucket", "sig"],
        bucket_col=F.col("band").cast("string"),
    )
    store = read_fingerprints(spark, root).select(
        F.col("doc_id").alias("doc_store"),
        "band",
        "bucket",
        F.col("sig").alias("sig_store"),
    )
    inc_b = _banded_sig_of(inc).select(
        F.col("doc_id").alias("doc_inc"),
        "band",
        "bucket",
        F.col("sig").alias("sig_inc"),
    )
    hot = (
        store.select("band", "bucket")
        .unionByName(inc_b.select("band", "bucket"))
        .groupBy("band", "bucket")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > _MINHASH_BUCKET_CAP)
        .select("band", "bucket")
    )
    cand = (
        inc_b.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
        .join(
            store.join(F.broadcast(hot), ["band", "bucket"], "left_anti"),
            ["band", "bucket"],
        )
        .select("doc_inc", "doc_store", "sig_inc", "sig_store")
        .distinct()
    )
    # flat codegen equality sum over the 32 split slots, not
    # zip_with+filter+size (CodegenFallback — interpreted per element
    # with closure allocation per pair row); the split itself is
    # evaluated once per side via codegen subexpression elimination.
    # Same integer count / 32.0 -> bit-identical (the minhash_pairs
    # round-14 rewrite, applied to the incremental path).
    _sum = " + ".join(
        f"CAST(element_at(_sa, {j + 1}) = element_at(_sb, {j + 1}) AS INT)"
        for j in range(32)
    )
    est = F.expr(f"({_sum}) / 32.0D")
    cand = cand.withColumn("_sa", F.split("sig_inc", "_")).withColumn(
        "_sb", F.split("sig_store", "_")
    )
    return (
        cand.select("doc_inc", "doc_store", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= 0.5)
    )
