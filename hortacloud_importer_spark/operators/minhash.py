"""MinHash-LSH and SimHash near-duplicate operators.

Pure Catalyst-expression implementations (no Python UDFs in the hot
path): shingle/token ids come from xxhash64, permutations are the
classic (a*x + b) mod p family, and signatures/bands are built with
built-in aggregate + bit functions. At 100 TB the only shuffles are
(a) the signature groupBy per document and (b) the band-bucket join,
whose fan-out is governed by band width — the documents themselves
are never shuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# 2^31-1: keeps (a*x + b) < 2^62 so the bigint math can't overflow —
# Spark 4 runs ANSI mode by default, where overflow raises.
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


def minhash_signatures(
    shingles: DataFrame,
    n_hashes: int = 32,
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """(doc_id, sig: array<bigint>) — min over permuted shingle hashes.

    h_j(x) = ((a_j * x + b_j) mod p); x = xxhash64(shingle) masked to
    non-negative (or, with ``portable=True``, a 28-bit md5-derived id
    any SQL engine reproduces — used by the oracle-checked driver
    query). The whole signature is one hash aggregate of n_hashes
    MIN()s.
    """
    if portable:
        # 7 hex digits = 28 bits: a * x < 2^59, no ANSI overflow
        x = portable_hex_id("shingle", 7)
    else:
        x = F.pmod(F.xxhash64("shingle"), F.lit(_MERSENNE_P))
    # hash once in a projection BEFORE the aggregate: the 32 MIN
    # expressions then read the same 8-byte column instead of each
    # re-deriving the (md5-based) id per row (measured ~20% on the
    # signature aggregate at sf0.1; an explicit distinct pre-group
    # was measured slower — the extra exchange costs more than the
    # duplicate rows, which map-side partial MIN absorbs anyway)
    ids = shingles.select(F.col(id_col), x.alias("_x"))
    # expression strings parse JVM-side in one py4j round-trip each;
    # the Column-object form spent more driver time constructing the
    # 32 MIN chains than the aggregate takes to run (same finding as
    # operators/requant.band_moments). Integer literals and % keep the
    # exact bigint math of the F.lit form.
    mins = [
        F.expr(f"min((_x * {a} + {b}) % {_MERSENNE_P})").alias(f"h{j}")
        for j, (a, b) in enumerate(_perm_params(n_hashes))
    ]
    sig = ids.groupBy(id_col).agg(*mins)
    return sig.select(
        id_col, F.array(*[f"h{j}" for j in range(n_hashes)]).alias("sig")
    )


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


def minhash_pairs(
    shingles: DataFrame,
    n_hashes: int = 32,
    bands: int = 8,
    portable: bool = False,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs with estimated similarity.

    rows = n_hashes // bands hashes per band; a pair is a candidate if
    any band matches exactly (classic banding: P[match] = 1-(1-s^r)^b).
    Output: (doc_a, doc_b, est_jaccard = matching hash fraction).
    ``portable=True`` uses md5-derived shingle ids and joins buckets on
    the joined hash string instead of an xxhash64 of the band — same
    plan shape, engine-neutral values (the oracle path).
    ``bucket_cap`` drops band buckets larger than the cap before the
    self-join (see _drop_hot_buckets) — the production guard against
    pair blowup on repetitive corpora; None preserves classic-LSH
    semantics exactly (the oracle-checked mode).
    """
    rows = n_hashes // bands
    sig = minhash_signatures(shingles, n_hashes, portable=portable)
    # Materialize the signature table ONCE for its 3-4 consumers
    # (banding, hot-bucket filter, both join-back sides). Two concerns
    # both demand eagerness: AQE submits the consumer subtrees as
    # concurrent jobs, and a lazy cache lets them race through the
    # un-filled InMemoryRelation — the signature aggregate (the
    # query's dominant compute) ran TWICE in the round-14 profile.
    # cache()+count() rather than localCheckpoint() (round-15 A/B): the
    # checkpoint showed no clean win, and its RDD blocks' ASYNC
    # ContextCleaner teardown lands in the NEXT query's window.
    sig = sig.cache()
    sig.count()

    def _bucket_sql(i: int) -> str:
        cols = [f"sig[{i * rows + r}]" for r in range(rows)]
        if portable:
            joined = ", ".join(f"CAST({c} AS STRING)" for c in cols)
            return f"concat_ws('_', {joined})"
        return f"xxhash64({', '.join(cols)})"

    structs = ", ".join(
        f"named_struct('band', {i}, 'bucket', {_bucket_sql(i)})"
        for i in range(bands)
    )
    # flat codegen sum of the n_hashes equality bits, NOT
    # zip_with+filter+size: higher-order functions are CodegenFallback
    # (interpreted per row, closure allocation per element), and this
    # projection runs once per surviving pair — the round-14 profile
    # put 17 s of the 32-core executor time in the interpreted form at
    # sf0.1. Same integer count, same /n division -> bit-identical.
    def _est(sig_a: str, sig_b: str) -> "F.Column":
        matches = " + ".join(
            f"CAST({sig_a}[{j}] = {sig_b}[{j}] AS INT)"
            for j in range(n_hashes)
        )
        return F.expr(f"({matches}) / {float(n_hashes)!r}D")

    # Round-15 (guide §2.3 "shuffle keys and metadata instead of
    # payloads" / §8): the band exchange carries ONLY
    # (band, bucket, doc_id) — ~24 B/doc/band — never the signature.
    # The distinct pair set is computed on ids alone, then the sig
    # table is joined back ONCE per side to score the survivors. At
    # 100 TB the dominant LSH shuffle moves bands x 24 B per doc
    # instead of bands x ~260 B x 2 sides, and the join-back shuffles
    # the sig table once per side — bounded by docs, not by band
    # fan-out. est is a deterministic function of the pair, so scoring
    # after the distinct returns exactly the same rows. (Carrying the
    # signatures through the band join saved the join-back stage but
    # moved ~20x the band-exchange payload; OPTIMIZATION_r15.md.)
    banded = sig.select(
        "doc_id", F.expr(f"explode(array({structs}))").alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")
    if bucket_cap is not None:
        banded = _drop_hot_buckets(banded, ["band", "bucket"], bucket_cap)
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sig_a = sig.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")
    )
    sig_b = sig.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")
    )
    return (
        pairs.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .select("doc_a", "doc_b", _est("sig_a", "sig_b").alias("est_jaccard"))
    )


def simhash_signatures(
    tokens: DataFrame, id_col: str = "doc_id", portable: bool = False
) -> DataFrame:
    """64-bit SimHash per document from token-hash bit majorities
    (60 significant bits in portable mode — md5-derived, so the SQL
    oracle reproduces every signature).

    Occurrences are pre-grouped to (doc, hash, count) so the 64
    bit-sum aggregates scan distinct hashes, not raw tokens, weighted
    by count — identical ±1-per-occurrence math. Measured ~5% at
    sf0.1 (fixture docs have few repeated tokens), but the reshaping
    is what matters at 100 TB: the wide 64-buffer aggregate's input
    becomes bounded by vocabulary x docs instead of raw token count,
    and the extra exchange is map-side-combined."""
    h = portable_hex_id("token", 15) if portable else F.xxhash64("token")
    th = (
        tokens.select(F.col(id_col), h.alias("_h"))
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
    portable: bool = False,
    bucket_cap: int | None = None,
    per_doc_budget: int | None = None,
) -> DataFrame:
    """Candidate pairs via 16-bit prefix band + exact hamming filter.

    The signature frame is cached (same as minhash_pairs): both join
    sides read it, and without the cache the token aggregation runs
    twice. Set-semantics output — no trailing global sort.
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
    sig = simhash_signatures(tokens, portable=portable).withColumn(
        "band", F.shiftrightunsigned("simhash", 48)
    )
    # one eager materialization for both join sides + the hot filter —
    # same rationale (cache, not checkpoint) as minhash_pairs above
    sig = sig.cache()
    sig.count()
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
