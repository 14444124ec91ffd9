"""§2.K5 — text analysis over `documents`.

Language-ID (stopword-hit heuristic), quality scoring (length /
punctuation / stopword ratios), token counting (whitespace + BPE-ish
regex), and document fingerprinting (md5/sha2 — standardized digests,
so the oracle matches exactly). Everything is built-in-function
Catalyst expressions: no Python in the hot path, map-side-combinable
aggregates only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hortacloud_importer_spark.catalog import spread, table
from hortacloud_importer_spark.operators.textnorm import (
    NORM_WORDS_SQL,
    norm_words,
)
from hortacloud_importer_spark.registry import register

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")
_STOP_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)
# BPE-ish pre-tokenizer: letter runs, single digits, or any non-space symbol.
_TOKEN_RE = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]"


@register(
    "text_wordcount",
    "K5",
    driver=False,
    oracle="""
SELECT w AS word, COUNT(*) AS n
FROM (SELECT UNNEST(str_split(text, ' ')) AS w FROM documents)
WHERE w <> ''
GROUP BY 1
""",
)
def text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counts (K5): split -> explode -> count. The canonical
    map-side-combined aggregation; per-executor partials keep the
    shuffle at vocabulary size, not corpus size."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


@register(
    "text_stats",
    "K5",
    driver=False,
    oracle="""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS avg_chars,
       CAST(SUM(LEN(str_split(text, ' '))) AS BIGINT) AS total_words,
       MAX(LENGTH(text)) AS max_len
FROM documents GROUP BY 1
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics (K5): exact integer sums."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars") / F.count("*").cast("double")).alias("avg_chars"),
        F.sum(F.size(F.split("text", " ")).cast("bigint")).alias("total_words"),
        F.max(F.length("text")).alias("max_len"),
    )


@register(
    "text_langid",
    "K5",
    driver=False,
    oracle=f"""
SELECT doc_id, lang, n_words, n_stop,
       CASE WHEN CAST(n_stop AS DOUBLE) / n_words > 0.05
            THEN 'en-like' ELSE 'other' END AS guessed
FROM (
  SELECT doc_id, lang,
         LEN(str_split(text, ' ')) AS n_words,
         LEN(list_filter(str_split(text, ' '), w -> w IN ({_STOP_SQL}))) AS n_stop
  FROM documents
)
""",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (K5): stopword hit-rate per document —
    the n-gram-profile method reduced to its word form. Pure per-row
    expressions (higher-order filter), no shuffle at all."""
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words).cast("bigint")
    n_stop = F.size(
        F.filter(words, lambda w: w.isin(*_STOPWORDS))
    ).cast("bigint")
    return d.select(
        "doc_id",
        "lang",
        n_words.alias("n_words"),
        n_stop.alias("n_stop"),
        F.when(n_stop.cast("double") / n_words > 0.05, "en-like")
        .otherwise("other")
        .alias("guessed"),
    )


@register(
    "text_quality",
    "K5",
    driver=False,
    oracle=f"""
SELECT doc_id,
       LENGTH(text) AS n_chars_txt,
       LEN(str_split(text, ' ')) AS n_words,
       LENGTH(text) / CAST(LEN(str_split(text, ' ')) AS DOUBLE) AS avg_word_len,
       LEN(regexp_extract_all(text, '[^a-z ]')) AS n_nonalpha,
       CAST(LEN(list_filter(str_split(text, ' '), w -> w IN ({_STOP_SQL}))) AS DOUBLE)
         / LEN(str_split(text, ' ')) AS stop_ratio
FROM documents
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals (K5): length, mean word length, non-alpha count,
    stopword ratio — the standard LLM-corpus quality filters, all as
    scan-local expressions (a quality *filter* is then just WHERE over
    these)."""
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words).cast("bigint")
    n_stop = F.size(F.filter(words, lambda w: w.isin(*_STOPWORDS)))
    return d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_txt"),
        n_words.alias("n_words"),
        (F.length("text") / n_words.cast("double")).alias("avg_word_len"),
        F.regexp_count("text", F.lit("[^a-z ]")).cast("bigint").alias("n_nonalpha"),
        (n_stop.cast("double") / n_words).alias("stop_ratio"),
    )


@register(
    "text_tokens",
    "K5",
    driver=False,
    oracle=f"""
SELECT doc_id,
       LEN(str_split(text, ' ')) AS ws_tokens,
       LEN(regexp_extract_all(text, '{_TOKEN_RE}')) AS bpe_ish_tokens
FROM documents
""",
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (K5): whitespace tokens + a BPE-ish regex
    pre-tokenization count (letter runs / digits / symbols) — the
    pre-tokenizer every BPE pipeline applies before merges."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("ws_tokens"),
        F.regexp_count("text", F.lit(_TOKEN_RE)).cast("bigint").alias("bpe_ish_tokens"),
    )


_WINNOW_K = 3  # k-gram size (words)
_WINNOW_W = 4  # winnowing window


def winnow_fingerprints(
    d: DataFrame,
    k: int = _WINNOW_K,
    w: int = _WINNOW_W,
    hash: str = "xxhash64",
) -> DataFrame:
    """Winnowing (rolling-hash) fingerprints, pure Catalyst arrays:
    word k-gram hashes -> per-window minima -> distinct set. The MOSS
    guarantee: any shared run of >= w+k-1 words between two documents
    shares at least one fingerprint, at ~2/(w+1) the storage of full
    shingling. The hash array is computed ONCE per row (transform over
    the split array), then windows are slices of it — no per-index
    re-evaluation (see _shingles' pitfall note in dedup.py).

    ``hash``: ``"xxhash64"`` (default — the 100 TB path; ~2.2x faster
    than md5, measured at sf0.1) or ``"md5"`` (first 60 bits — the
    engine-portable hash DuckDB and hashlib reproduce exactly, which
    is what lets the registry query pin the whole winnow structure
    value-for-value). Every slice/minimum/distinct step is shared, so
    the oracle on the md5 leaf pins the xxhash64 plan too."""
    assert k == 3, "gram builder below is written for k=3"
    words = F.split("text", " ")
    z = F.arrays_zip(
        words,
        F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))),
        F.slice(words, 3, F.greatest(F.size(words) - 2, F.lit(0))),
    )
    if hash == "xxhash64":
        def _h(t):
            return F.xxhash64(F.concat_ws(" ", t["0"], t["1"], t["2"]))
    elif hash == "md5":
        def _h(t):
            return F.conv(
                F.substring(
                    F.md5(F.concat_ws(" ", t["0"], t["1"], t["2"])),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
    else:
        raise ValueError(f"unknown winnow hash {hash!r}")
    grams = F.transform(F.filter(z, lambda t: t["2"].isNotNull()), _h)
    hashes = F.col("_hashes")
    minima = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(hashes) - w, F.lit(0))),
        lambda i: F.array_min(F.slice(hashes, i + 1, w)),
    )
    return (
        d.filter(F.size(words) >= k)
        .select("doc_id", grams.alias("_hashes"))
        .select("doc_id", F.explode(F.array_distinct(minima)).alias("fp"))
    )


@register(
    "text_winnow",
    "K5+K2",
    driver=False,
    oracle=f"""
WITH words AS (
  SELECT doc_id, str_split(text, ' ') AS ws FROM documents
),
grams AS (
  SELECT doc_id, t.i AS pos,
         CAST('0x' || substr(md5(ws[CAST(t.i AS INT)] || ' '
                                 || ws[CAST(t.i AS INT) + 1] || ' '
                                 || ws[CAST(t.i AS INT) + 2]), 1, 15)
              AS BIGINT) AS h
  FROM words, UNNEST(range(1, len(ws) - 1)) AS t(i)
  WHERE len(ws) >= {{k}}
),
counts AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY 1),
minima AS (
  SELECT g.doc_id,
         MIN(g2.h) AS fp
  FROM grams g
  JOIN counts c ON c.doc_id = g.doc_id
  JOIN grams g2 ON g2.doc_id = g.doc_id
             AND g2.pos BETWEEN g.pos AND g.pos + {{w}} - 1
  WHERE g.pos <= GREATEST(CAST(c.n AS BIGINT) - {{w}}, 0) + 1
  GROUP BY g.doc_id, g.pos
)
SELECT DISTINCT doc_id, fp FROM minima
""".format(k=_WINNOW_K, w=_WINNOW_W),
)
def text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting by winnowing (K5), oracle-exact: word
    3-gram hashes (first 60 bits of md5 — engine-portable, so DuckDB
    reproduces the exact fingerprints) -> per-window minima ->
    distinct set per document. The MOSS guarantee: any shared run of
    >= w+k-1 words between two documents shares a fingerprint. Also
    validated against a plain-Python winnower in tests."""
    d = table(spark, sf_dir, "documents")
    return winnow_fingerprints(d, hash="md5")


@register(
    "text_sentences_udtf",
    "K5+J4",
    driver=False,
    oracle="""
WITH parts AS (
  SELECT doc_id, t.i - 1 AS idx, trim(parts[CAST(t.i AS INT)]) AS sentence
  FROM (SELECT doc_id,
               string_split(
                 regexp_replace(text, '([.!?])\\s+', '\\1' || chr(1), 'g'),
                 chr(1)) AS parts
        FROM documents),
       UNNEST(range(1, len(parts) + 1)) AS t(i)
)
SELECT doc_id, CAST(idx AS INT) AS idx, sentence,
       CAST(len(list_filter(str_split_regex(sentence, '\\s+'),
                            x -> x != '')) AS INT) AS n_words
FROM parts WHERE sentence != ''
""",
)
def text_sentences_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation via a Python UDTF (J4), oracle-exact:
    one row per (doc, sentence) with word counts. The UDTF splits on
    the lookbehind (?<=[.!?])\\s+; DuckDB's RE2 has no lookbehind, so
    the mirror realizes the identical split by rewriting the boundary
    to a sentinel character and splitting on it — indexes (counted
    over ALL raw parts, empties included, exactly like the UDTF's
    enumerate), trimmed sentences, and whitespace-token word counts
    all hash-match."""
    from hortacloud_importer_spark.operators.udtfs import SplitSentences

    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", "text").lateralJoin(
        SplitSentences(F.col("text").outer())
    ).select("doc_id", "idx", "sentence", "n_words")


@register(
    "text_fingerprint",
    "K5+K1",
    driver=False,
    oracle="""
SELECT doc_id,
       MD5(text) AS fp_md5,
       SHA256(LOWER(TRIM(text))) AS fp_norm
FROM documents
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (K5): raw + normalized content digests.
    md5/sha256 are standardized, so fingerprints are portable across
    engines — the property exact dedup (K1) relies on."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("fp_md5"),
        F.sha2(F.lower(F.trim("text")), 256).alias("fp_norm"),
    )


_TFIDF_ORACLE_TPL = """
WITH toks AS (
  SELECT doc_id, w AS word
  FROM (SELECT doc_id, UNNEST({words_sql}) AS w FROM documents)
  WHERE w <> ''
),
tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
dfreq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1)
SELECT doc_id, word, tfidf FROM (
  SELECT t.doc_id, t.word,
         ROUND(t.tf * LN(CAST(n.n_docs AS DOUBLE) / d.df), 6) AS tfidf,
         ROW_NUMBER() OVER (
           PARTITION BY t.doc_id
           ORDER BY ROUND(t.tf * LN(CAST(n.n_docs AS DOUBLE) / d.df), 6) DESC,
                    t.word) AS rn
  FROM tf t JOIN dfreq d USING (word) CROSS JOIN n
) WHERE rn <= 3
"""


def _tfidf_top3(spark: SparkSession, sf_dir: str, words: Column) -> DataFrame:
    """Shared tf-idf core over any tokenizer expression (an
    array<string> Column over `text`); see text_tfidf for the plan
    rationale. Both the raw and normalized registry variants wrap
    this with the matching ``words_sql`` in _TFIDF_ORACLE_TPL."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", F.explode(words).alias("word"))
        .filter(F.col("word") != "")
    )
    tf = toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    ndocs = d.agg(F.count("*").alias("n_docs"))
    dfreq = tf.groupBy("word").agg(F.count("*").alias("df"))
    scored = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "doc_id",
            "word",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "word")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "word", "tfidf")
    )


@register(
    "text_tfidf",
    "K5",
    oracle=_TFIDF_ORACLE_TPL.format(words_sql="str_split(text, ' ')"),
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tf-idf with per-doc top-3 terms (K5): term frequency per
    (doc, word), document frequency per word off the same aggregate,
    idf = ln(N/df), then a per-doc grouped top-k (WindowGroupLimit
    pushes the partial limit below the shuffle). The word-keyed join
    shuffles vocabulary-sized data only; the 1-row corpus count is
    broadcast. Scores are rounded to 6 dp before ranking so both
    engines rank identical values; ties break on the word itself.
    (tf feeds two aggregates; recomputing it beats caching here —
    both consumers are one shuffle off the same scan.)"""
    return _tfidf_top3(spark, sf_dir, F.split("text", " "))


@register(
    "text_tfidf_norm",
    "K5",
    driver=False,
    oracle=_TFIDF_ORACLE_TPL.format(words_sql=NORM_WORDS_SQL),
)
def text_tfidf_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-token tf-idf (K5, completes round-13 ask #4's
    consistent-normalization set alongside text_wordcount_norm and
    text_ngram_ppx_norm): identical plan to text_tfidf over the shared
    normalizer (operators/textnorm.py), so 'Term', 'term,' and 'term'
    share one tf/df mass — term statistics a real corpus pipeline can
    actually compare across documents."""
    return _tfidf_top3(spark, sf_dir, norm_words())


_BPE_MERGES = 6  # merge-learning iterations


def _bpe_oracle(k: int) -> str:
    """Programmatically unrolled DuckDB mirror of the BPE trainer:
    k CTE stages, each selecting the argmax pair (count DESC, pair
    ASC) and applying the greedy left-to-right non-overlapping merge
    via the same alternating-runs window logic as the Spark side."""
    parts = [
        """
WITH w AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT UNNEST(str_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word
),
s0 AS (SELECT word, cnt, str_split(word, '') AS tok FROM w)"""
    ]
    for i in range(1, k + 1):
        p, s = i, i - 1
        parts.append(
            f"""
p{p} AS (
  SELECT s.tok[t.i] || ' ' || s.tok[t.i + 1] AS pair,
         CAST(SUM(s.cnt) AS BIGINT) AS pc
  FROM s{s} s, UNNEST(range(1, len(s.tok))) AS t(i)
  WHERE len(s.tok) >= 2 GROUP BY 1
),
b{p} AS (SELECT {p} AS rank, pair, pc FROM p{p}
         ORDER BY pc DESC, pair LIMIT 1),
pos{p} AS (
  SELECT s.word, s.cnt, t.i, s.tok[t.i] AS t,
         split_part(b.pair, ' ', 1) AS a,
         split_part(b.pair, ' ', 2) AS b
  FROM s{s} s CROSS JOIN b{p} b,
       UNNEST(range(1, len(s.tok) + 1)) AS t(i)
),
m{p} AS (
  SELECT *, (t = a AND lead(t) OVER (PARTITION BY word ORDER BY i) = b)
         AS mg FROM pos{p}
),
g{p} AS (
  SELECT *, i - SUM(CASE WHEN mg THEN 1 ELSE 0 END)
                  OVER (PARTITION BY word ORDER BY i) AS grp
  FROM m{p}
),
r{p} AS (
  SELECT *, MIN(CASE WHEN mg THEN i END)
              OVER (PARTITION BY word, grp) AS rstart
  FROM g{p}
),
d{p} AS (
  SELECT *, (mg AND (i - rstart) % 2 = 0) AS dm FROM r{p}
),
e{p} AS (
  SELECT *, COALESCE(lag(dm) OVER (PARTITION BY word ORDER BY i),
                     FALSE) AS dropped
  FROM d{p}
),
s{p} AS (
  SELECT word, cnt,
         list(CASE WHEN dm THEN a || b ELSE t END ORDER BY i)
           FILTER (WHERE NOT dropped) AS tok
  FROM e{p} GROUP BY word, cnt
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT rank, pair, pc AS freq FROM b{i}" for i in range(1, k + 1)
    )
    return ",".join(parts) + "\n" + union


def _bpe_encode_oracle(k: int) -> str:
    """The same unrolled trainer chain, finished by re-joining the
    final vocabulary's symbol sequences onto the corpus words — the
    per-document token accounting of :func:`text_bpe_encode`."""
    chain = _bpe_oracle(k)
    chain = chain[: chain.index("\nSELECT")]  # keep the WITH chain
    return (
        chain
        + f"""
SELECT dw.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(length(dw.word)) AS BIGINT) AS n_chars,
       CAST(SUM(len(s.tok)) AS BIGINT) AS n_tokens
FROM (
  SELECT doc_id, UNNEST(str_split(text, ' ')) AS word FROM documents
) dw JOIN s{k} s USING (word)
WHERE dw.word <> ''
GROUP BY dw.doc_id
"""
    )


def _bpe_train(
    spark: SparkSession,
    sf_dir: str,
    merges: int = _BPE_MERGES,
    probe=None,
):
    """Distributed BPE merge LEARNING (the tokenizer-training loop):
    start from the character sequence of every distinct word, and for
    ``merges`` rounds pick the corpus-wide most frequent adjacent
    symbol pair (ties broken by pair text) and merge its greedy
    left-to-right non-overlapping occurrences. Returns the learned
    merge table (rank, pair, freq) — the artifact a tokenizer ships.
    The registry queries train the 6-round fixture vocabulary their
    unrolled DuckDB oracles mirror; tools/soak_bpe.py trains 256
    rounds on the 500k-document corpus, with ``probe(rnd, seqs)``
    called after each round to force and measure it.

    Fully declarative iteration: the per-round argmax is a LIMIT-1
    aggregate broadcast into the merge step (no .collect() of data;
    the one localCheckpoint per round bounds plan depth exactly like
    the connected-components loop). The greedy-non-overlap semantics
    ("aaa" merges once, not twice) is alternating-runs window logic —
    mergeable positions grouped into consecutive islands, even
    offsets within an island merge — reproduced verbatim in the
    unrolled DuckDB oracle.

    100 TB posture: state is the VOCABULARY (distinct words x symbol
    arrays), not the corpus — the corpus is read once for word
    counts; each round shuffles one pair-count aggregate (map-side
    combined) plus one vocabulary regroup, both keyed well below
    corpus scale. This is how production BPE trainers distribute.
    """
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    seqs = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .select("word", "cnt", F.split("word", "").alias("tok"))
    )
    ww = Window.partitionBy("word").orderBy("i")
    bests = []
    for rnd in range(1, merges + 1):
        pairs = (
            seqs.filter(F.size("tok") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(tok) - 1),"
                        " i -> concat(tok[i-1], ' ', tok[i]))"
                    )
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("cnt").cast("bigint").alias("pc"))
        )
        best = (
            pairs.orderBy(F.desc("pc"), F.asc("pair"))
            .limit(1)
            .select(F.lit(rnd).alias("rank"), "pair", "pc")
        )
        bests.append(best)
        pos = (
            seqs.crossJoin(F.broadcast(best.drop("rank", "pc")))
            .select(
                "word",
                "cnt",
                F.posexplode("tok").alias("i", "t"),
                F.split("pair", " ")[0].alias("a"),
                F.split("pair", " ")[1].alias("b"),
            )
            .withColumn(
                "mg",
                (F.col("t") == F.col("a"))
                & (F.lead("t").over(ww) == F.col("b")),
            )
            .withColumn(
                "grp",
                F.col("i")
                - F.sum(F.col("mg").cast("int")).over(
                    ww.rowsBetween(Window.unboundedPreceding, 0)
                ),
            )
        )
        pos = pos.withColumn(
            "rstart",
            F.min(F.when(F.col("mg"), F.col("i"))).over(
                Window.partitionBy("word", "grp")
            ),
        ).withColumn(
            "dm",
            F.col("mg") & ((F.col("i") - F.col("rstart")) % 2 == 0),
        )
        pos = pos.withColumn(
            "dropped", F.coalesce(F.lag("dm").over(ww), F.lit(False))
        )
        seqs = (
            pos.filter(~F.col("dropped"))
            .groupBy("word", "cnt")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("i"),
                                F.when(
                                    F.col("dm"),
                                    F.concat(F.col("a"), F.col("b")),
                                )
                                .otherwise(F.col("t"))
                                .alias("out"),
                            )
                        )
                    ),
                    lambda x: x["out"],
                ).alias("tok")
            )
            .localCheckpoint(eager=False)
        )
        if probe is not None:
            probe(rnd, seqs)
    out = bests[0]
    for b in bests[1:]:
        out = out.unionByName(b)
    return (
        out.select("rank", "pair", F.col("pc").alias("freq")),
        seqs,
    )


@register("text_bpe_merges", "K5", oracle=_bpe_oracle(_BPE_MERGES),
          driver=False)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merge table (rank, pair, freq) — see
    :func:`_bpe_train` for the algorithm and its scale posture."""
    return _bpe_train(spark, sf_dir)[0]


@register("text_bpe_encode", "K5",
          oracle=_bpe_encode_oracle(_BPE_MERGES), driver=False)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING with the learned merges: per-document token
    accounting (words, characters, post-merge tokens) — the
    compression measurement that sizes a training run. The apply side
    is a join of the corpus's words onto the trained vocabulary's
    final symbol sequences: no per-document re-segmentation, because
    BPE merges are word-local — encoding a corpus is a vocabulary
    LOOKUP, which is how production tokenizers batch-encode at scale
    (the vocabulary broadcast-joins; only (doc_id, word) pairs
    shuffle)."""
    _, seqs = _bpe_train(spark, sf_dir)
    words = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id", F.explode(F.split("text", " ")).alias("word")
        )
        .filter(F.col("word") != "")
    )
    return (
        words.join(F.broadcast(seqs.select("word", F.size("tok").alias("n_tok"))), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum(F.length("word")).cast("bigint").alias("n_chars"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )


# Character-class-only patterns: identical semantics in Java regex
# (Spark) and RE2 (DuckDB) — no lookarounds, no backreferences.
_PII_EMAIL = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}"
_PII_PHONE = "[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}"
_PII_IP = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"

# Deterministic synthetic PII so the fixture corpus exercises every
# pattern (the word-soup documents contain none natively); both
# engines append the same suffixes from doc_id arithmetic.
_PII_CORPUS_SQL = """
SELECT doc_id,
       text ||
       CASE WHEN doc_id % 7 = 0
            THEN ' contact user' || doc_id || '@example.com now' ELSE '' END ||
       CASE WHEN doc_id % 11 = 0
            THEN ' call 415-555-0' || (100 + doc_id % 900) ELSE '' END ||
       CASE WHEN doc_id % 13 = 0
            THEN ' from 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
            ELSE '' END AS text
FROM documents
"""

_PII_ORACLE = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_PII_EMAIL}', 0)) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PII_PHONE}', 0)) AS BIGINT)
         AS n_phones,
       CAST(len(regexp_extract_all(text, '{_PII_IP}', 0)) AS BIGINT)
         AS n_ips,
       CAST(length(
         regexp_replace(regexp_replace(regexp_replace(text,
           '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_PHONE}', '<PHONE>', 'g'),
           '{_PII_IP}', '<IP>', 'g')
       ) AS BIGINT) AS redacted_len,
       MD5(
         regexp_replace(regexp_replace(regexp_replace(text,
           '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_PHONE}', '<PHONE>', 'g'),
           '{_PII_IP}', '<IP>', 'g')
       ) AS redacted_fp
FROM ({_PII_CORPUS_SQL})
"""


@register("text_redact_pii", "K5", oracle=_PII_ORACLE, driver=False)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII REDACTION: replace emails, phone numbers, and IPv4
    addresses with typed placeholder tokens and account for what was
    removed — the compliance pass every production corpus runs before
    training. The fixture corpus carries deterministic synthetic PII
    (appended from doc_id arithmetic, identically on both engines) so
    all three patterns fire; the md5 of the redacted text pins the
    exact replacement output, not just the counts.

    Patterns are character-class-only so Java regex (Spark executors)
    and RE2 (the DuckDB oracle) agree byte-for-byte — no lookarounds,
    which RE2 lacks. 100 TB posture: pure map-side Catalyst
    regexp_replace/extract_all (whole-stage codegen, no Python, no
    shuffle until the caller aggregates)."""
    base = table(spark, sf_dir, "documents")
    text = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"), F.col("doc_id"),
                F.lit("@example.com now"),
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" call 415-555-0"),
                (F.lit(100) + F.col("doc_id") % 900),
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.lit(" from 10.0."), F.col("doc_id") % 256,
                F.lit("."), (F.col("doc_id") * 7) % 256,
            ),
        ).otherwise(""),
    )
    d = base.select("doc_id", text.alias("text"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IP,
        "<IP>",
    )
    return d.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(text, '{_PII_EMAIL}', 0)"))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.expr(f"regexp_extract_all(text, '{_PII_PHONE}', 0)"))
        .cast("bigint")
        .alias("n_phones"),
        F.size(F.expr(f"regexp_extract_all(text, '{_PII_IP}', 0)"))
        .cast("bigint")
        .alias("n_ips"),
        F.length(redacted).cast("bigint").alias("redacted_len"),
        F.md5(redacted).alias("redacted_fp"),
    )


_PPX_ORACLE_TPL = """
WITH w AS (
  SELECT doc_id, {words_sql} AS ws
  FROM documents
),
bg AS (
  SELECT doc_id,
         unhex(md5(ws[CAST(t.i AS INT)] || ' '
                   || ws[CAST(t.i AS INT) + 1])) AS gh
  FROM w, UNNEST(range(1, len(ws))) AS t(i)
  WHERE len(ws) >= 2
),
cnt AS (SELECT gh, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY gh)
SELECT bg.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(length(bin(cnt.c))) AS BIGINT) AS lm_bits,
       CAST(SUM(length(bin(cnt.c))) AS DOUBLE) / COUNT(*)
         AS bits_per_bigram
FROM bg JOIN cnt USING (gh)
GROUP BY bg.doc_id
"""

_PPX_ORACLE = _PPX_ORACLE_TPL.format(
    words_sql="list_filter(str_split(text, ' '), x -> x <> '')"
)


def bigram_lm_bits(corpus: DataFrame, words: Column | None = None) -> DataFrame:
    """The shared bigram-counts LM core: (doc_id, text) -> per-doc
    (n_bg, bits) where bits = sum over the doc's bigrams of
    floor(log2 corpus_count) + 1 — exact integers in any aggregation
    order. Both sides of the count join key on the 16-byte md5 gram
    digest (the engine-portable grouping hash), so no gram text
    reaches an exchange. ``words`` overrides the tokenizer (an
    array<string> Column over `text`; default whitespace-split) — the
    normalized variant passes operators/textnorm.py::norm_words().
    Used by :func:`text_ngram_ppx`, :func:`text_ngram_ppx_norm`, and
    the curation composite (dedup.py::q_corpus_curation_lm); their
    DuckDB oracles mirror this pipeline verbatim."""
    ws = (
        words
        if words is not None
        else F.filter(F.split("text", " "), lambda x: x != "")
    )
    # The short-doc guard lives INSIDE the generator expression (IF ->
    # empty array), NOT as a .filter(size(ws) >= 2): Catalyst pushes
    # such a filter below the ws projection by substitution, so every
    # row would evaluate the full tokenizer TWICE (once for the pushed
    # predicate, once for the projection) — the round-14 plan showed
    # exactly that duplication on both corpus passes. The IF keeps one
    # tokenizer evaluation per row and explodes zero rows for docs
    # with < 2 words (identical output; gh is never null here, so the
    # old post-explode isnotnull(gh) pruning is not even reachable).
    # The corpus is spread first (catalog.spread, no-op at scale):
    # both passes are tokenizer+md5-bound and a single-row-group
    # fixture scan would run them on one core (guide §2.5).
    # The md5 runs AFTER the explode, not inside the transform lambda:
    # higher-order lambdas are CodegenFallback (interpreted per
    # element), so hashing inside the lambda pays interpreted md5 per
    # bigram; post-explode the digest is a plain codegen projection in
    # the same stage (no exchange between — the groupBy/join exchanges
    # still carry only the 16-byte digest). Measured 1.79 -> 1.06 s on
    # the bg subtree at sf0.1, identical digests (guide §4.1: move
    # work from interpreted lambdas to codegen built-ins).
    bg = (
        spread(corpus).select("doc_id", ws.alias("ws"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "IF(size(ws) >= 2,"
                    " transform(sequence(1, size(ws) - 1),"
                    " i -> concat(ws[i-1], ' ', ws[i])),"
                    " array())"
                )
            ).alias("g"),
        )
        .select("doc_id", F.unhex(F.md5("g")).alias("gh"))
    )
    # bg feeds BOTH the count aggregate (the model) and the scoring
    # join, so the tokenizer + per-bigram md5 run twice over the
    # corpus. Not checkpointed: a localCheckpoint of bg read 1.09x
    # SLOWER at sf0.1 (round-15 interleaved A/B) — the two passes run
    # as concurrent AQE jobs on spare cores, so the recompute costs no
    # wall time while a materialization serializes.
    cnt = bg.groupBy("gh").agg(F.count("*").cast("bigint").alias("c"))
    return (
        bg.join(cnt, "gh")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bg"),
            F.sum(F.length(F.bin("c"))).cast("bigint").alias("bits"),
        )
    )


@register("text_ngram_ppx", "K5", oracle=_PPX_ORACLE, driver=False)
def text_ngram_ppx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counts-based n-gram LM quality score (the KenLM-style
    perplexity-proxy curation stage): train bigram counts on the
    corpus, then score every document by how PREDICTABLE its bigrams
    are under those counts. The per-token statistic is
    ``length(bin(count))`` = floor(log2 count) + 1 — an INTEGER
    log-likelihood proxy, so the per-doc sums are exact integers in
    any aggregation order and the DuckDB mirror hash-matches
    bit-for-bit (a float log-prob sum could not be oracle-exact:
    cross-row float sums are partition-order-dependent — the float-sum
    oracle rule). ``bits_per_bigram`` divides the two exact aggregates
    once per output row. High bits = frequent, predictable n-grams =
    the low-perplexity text quality filters keep.

    100 TB posture: one map-side-combined gram-count aggregate (the
    model), one shuffle join of doc-grams onto it, one per-doc
    aggregate — and no gram TEXT ever shuffles: both sides key on the
    16-byte md5 digest (the engine-portable grouping hash, mirrored
    verbatim in the oracle; an md5 collision would merge two counts
    identically in both engines). The model side is DISTINCT grams,
    far below corpus scale."""
    d = table(spark, sf_dir, "documents")
    return bigram_lm_bits(d.select("doc_id", "text")).select(
        "doc_id",
        F.col("n_bg").alias("n_bigrams"),
        F.col("bits").alias("lm_bits"),
        (F.col("bits").cast("double") / F.col("n_bg")).alias(
            "bits_per_bigram"
        ),
    )


@register(
    "text_wordcount_norm",
    "K5",
    driver=False,
    oracle=f"""
SELECT w AS word, COUNT(*) AS n
FROM (SELECT UNNEST({NORM_WORDS_SQL}) AS w FROM documents)
GROUP BY 1
""",
)
def text_wordcount_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized token counts (K5, round-13 ask #4): the same
    map-side-combined vocabulary aggregate as text_wordcount, but over
    the SHARED normalizer (operators/textnorm.py — lowercase,
    punctuation to spaces, whitespace collapsed) instead of a raw
    whitespace split, so 'The', 'the,' and '...the' count as one word
    — what a multilingual corpus statistic actually needs. The oracle
    replays the byte-identical normalizer."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(norm_words()).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


@register(
    "text_ngram_ppx_norm",
    "K5",
    driver=False,
    oracle=_PPX_ORACLE_TPL.format(words_sql=NORM_WORDS_SQL),
)
def text_ngram_ppx_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-token n-gram LM quality score (K5, round-13 ask #4):
    identical statistic and plan shape to :func:`text_ngram_ppx`, but
    the bigrams are built over the shared normalizer
    (operators/textnorm.py) — casing and punctuation no longer split
    the count mass, which is how production KenLM-style filters
    tokenize. Same 100 TB posture: digest-keyed model join, no gram
    text in any exchange, normalization itself is a pure map-side
    regexp."""
    d = table(spark, sf_dir, "documents")
    return bigram_lm_bits(
        d.select("doc_id", "text"), words=norm_words()
    ).select(
        "doc_id",
        F.col("n_bg").alias("n_bigrams"),
        F.col("bits").alias("lm_bits"),
        (F.col("bits").cast("double") / F.col("n_bg")).alias(
            "bits_per_bigram"
        ),
    )


_REP_ORACLE = """
WITH w AS (
  SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS ws
  FROM documents
),
g AS (
  SELECT doc_id,
         unhex(md5(ws[CAST(t.i AS INT)] || ' '
                   || ws[CAST(t.i AS INT) + 1] || ' '
                   || ws[CAST(t.i AS INT) + 2])) AS gh
  FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)
  WHERE len(ws) >= 3
),
per AS (
  SELECT doc_id, gh, COUNT(*) AS c FROM g GROUP BY doc_id, gh
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_grams,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(MAX(c) AS BIGINT) AS top_gram_count,
       CAST(SUM(c) - COUNT(*) AS DOUBLE) / SUM(c) AS dup_gram_ratio
FROM per GROUP BY doc_id
"""


@register("text_repetition", "K5", oracle=_REP_ORACLE, driver=False)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTRA-document repetition signals (the Gopher-style repetition
    filters): per document, total vs distinct word 3-grams, the
    hottest gram's count, and the duplicate-gram ratio — high ratios
    mark templated/spammy text (keyword stuffing, boilerplate loops)
    that survives every corpus-LEVEL dedup pass because it repeats
    within one document, not across documents. All-but-one statistic
    is an exact integer, and the ratio divides two exact aggregates
    once per output row, so the DuckDB mirror hash-matches.

    100 TB posture: grouped by (doc_id, 16-byte gram digest — the
    engine-portable md5 grouping hash, mirrored in the oracle) — a
    pure map-side explode plus ONE hash aggregate whose keys never
    leave their document, then a per-doc rollup; no corpus-wide
    model, no join, no gram text in any exchange."""
    d = table(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", " "), lambda x: x != "")
    # Same two round-14 fixes as bigram_lm_bits: the short-doc guard
    # lives inside the generator (a pushed-down size(ws) filter would
    # re-evaluate the tokenizer per row), and the md5 runs post-explode
    # as a codegen projection instead of inside the interpreted
    # transform lambda (identical digests, same-stage, no exchange
    # ever sees gram text).
    per = (
        d.select("doc_id", ws.alias("ws"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "IF(size(ws) >= 3,"
                    " transform(sequence(1, size(ws) - 2),"
                    " i -> concat_ws(' ', ws[i-1], ws[i], ws[i+1])),"
                    " array())"
                )
            ).alias("g"),
        )
        .select("doc_id", F.unhex(F.md5("g")).alias("gh"))
        .groupBy("doc_id", "gh")
        .agg(F.count("*").alias("c"))
    )
    return per.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_grams"),
        F.count("*").cast("bigint").alias("n_distinct"),
        F.max("c").cast("bigint").alias("top_gram_count"),
        (
            (F.sum("c") - F.count("*")).cast("double") / F.sum("c")
        ).alias("dup_gram_ratio"),
    )
