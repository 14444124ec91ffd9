"""Fixture-table catalog.

Mirrors the reference's "source discovery" responsibilities
(tiff2octree.py:653-691 infers schema from the first input file;
spark.read.parquet does the same from parquet footers). One loader per
driver-generated table; schemas are inferred from parquet metadata —
never hand-declared, matching the reference's infer-then-freeze policy
(SURVEY.md §1.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Analyzed-DataFrame cache: spark.read.parquet re-lists the directory
# and re-reads footers for schema inference on EVERY call, so an
# 8-table composite paid ~0.5s of driver time just loading tables it
# had already loaded. DataFrames are immutable logical plans — reusing
# one is free — and keying on applicationId (unique per SparkContext)
# guarantees a plan never outlives its session.
_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; have {TABLES}")
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _CACHE.get(key)
    if df is None:
        if name == "events":
            df = _events(spark, sf_dir)
        else:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        _CACHE[key] = df
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize events.ts to a microsecond TimestampType regardless of
    how the driver generated the file. Two physical schemas exist in the
    wild: INT64 TIMESTAMP(NANOS), which the vanilla parquet reader
    rejects (PARQUET_TYPE_ILLEGAL) so we read nanos-as-long and divide,
    and plain TIMESTAMP(MICROS) without UTC adjustment, which Spark
    reads as TIMESTAMP_NTZ. Both end up as the TimestampType that DuckDB
    TIMESTAMP hash-compares against (session timeZone is UTC, so the
    NTZ→LTZ cast is value-preserving)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # integer DIV, not double division: at ~1.7e18 ns the double ulp
        # is ~256 ns, which shifts some timestamps by 1 µs after rounding.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def load(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(table(spark, sf_dir, n) for n in names)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition a frame whose physical parallelism is
    far below the session's cores — the optimization-guide §2.5 fix
    for "one huge unsplittable file": the fixture tables are
    single-row-group parquet files, so every scan is ONE task and any
    CPU-heavy derivation (shingle explode, md5 per gram, signature
    folds) serializes on one core while the rest idle.

    Scale-adaptive BY CONSTRUCTION, not by config: the repartition is
    planned only when the input's partition count is at most half the
    scheduler's parallelism. At 100 TB the source has thousands of
    splits, the condition is false, and this is a no-op — no exchange
    appears in the plan, so the payload-free-shuffle posture of the
    hash exchanges is untouched. When it does fire, the one
    round-robin exchange moves the (small, unsplittable) input once so
    every downstream map stage runs wide; results are unchanged
    because every consumer is row-order independent (aggregates,
    hash joins, windows with total orders).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    memo_key = (sc.applicationId, id(df))
    hit = _SPREAD_MEMO.get(memo_key)
    if hit is not None:
        return hit
    try:
        # _jdf.rdd() is one py4j call (no Python-RDD pickle wrapper
        # like df.rdd) — the partition probe itself must stay cheap,
        # it runs at plan-build time inside the timed query
        cur = df._jdf.rdd().getNumPartitions()
    except Exception:
        return df
    out = df.repartition(target) if cur * 2 <= target else df
    # memoized on object identity (catalog tables are per-session
    # singletons, so repeat invocations skip the probe); the input ref
    # is kept so the id can never be recycled. Bounded (r14 verdict
    # minor #5): a long-lived service spreading ad-hoc frames would
    # otherwise grow both structures forever — at the cap the memo is
    # reset (the probe is one py4j call, so a rare re-probe is cheap;
    # correctness is unaffected because the memo is a pure cache).
    if len(_SPREAD_MEMO) >= _SPREAD_MEMO_MAX:
        _SPREAD_MEMO.clear()
        _SPREAD_KEEP.clear()
    _SPREAD_MEMO[memo_key] = out
    _SPREAD_KEEP.append(df)
    return out


_SPREAD_MEMO: dict[tuple[str, int], DataFrame] = {}
_SPREAD_KEEP: list[DataFrame] = []
_SPREAD_MEMO_MAX = 512


class SchemaMismatch(ValueError):
    """A later input diverged from the frozen run schema."""


def freeze_schema(df: DataFrame) -> str:
    """Capture the inferred schema as the run contract (§1.4: the
    reference infers from the first file then asserts every subsequent
    slice matches — ktx_from_rendered_tiff.py:425-426,
    small_memory_histogram.py:30-31)."""
    return df.schema.simpleString()


def validate_schema(df: DataFrame, frozen: str, source: str = "") -> DataFrame:
    """Fail fast when an input's schema diverges from the frozen one.

    Field ORDER matters too (the reference's dtype/shape asserts are
    positional); pass-through on success so this chains in pipelines.
    """
    got = df.schema.simpleString()
    if got != frozen:
        raise SchemaMismatch(
            f"schema mismatch{f' in {source}' if source else ''}:\n"
            f"  frozen: {frozen}\n  got   : {got}"
        )
    return df
