"""§2.A — scans, sources, sinks (relational surface).

The reference's source layer is directory/stack/N5 discovery with
schema inference and windowed reads (tiff2octree.py:628-823); Spark's
parquet reader supplies listing + inference + predicate/partition
pruning natively, so these queries assert those behaviors over the
fixture tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hortacloud_importer_spark.catalog import table
from hortacloud_importer_spark.operators.exactness import sum_money, sum_money_sql
from hortacloud_importer_spark.registry import register


@register(
    "scan_suite",
    "A1+A2+A4",
    oracle=f"""
SELECT 'full' AS facet, CAST(COUNT(*) AS BIGINT) AS m1,
       CAST(MAX(l_orderkey) AS BIGINT) AS m2,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS m3
FROM lineitem
UNION ALL
SELECT 'rechunk' AS facet, CAST(event_id % 32 AS BIGINT) AS m1,
       CAST(COUNT(*) AS BIGINT) AS m2,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS m3
FROM events GROUP BY 2
UNION ALL
SELECT 'range' AS facet, CAST(COUNT(*) AS BIGINT) AS m1,
       {sum_money_sql("l_quantity", "m2")},
       CAST(0 AS BIGINT) AS m3
FROM lineitem WHERE l_orderkey BETWEEN 100 AND 400
""",
)
def scan_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated A-family scans driver query, union-with-tag:
    `full` = full-table scan with schema inference (A1,
    slice_to_dask_array's list-then-infer, tiff2octree.py:653-691);
    `rechunk` = stack scan re-partitioned by a derived key (A2,
    :628-651 — repartition(32, pkey) reused by the groupBy);
    `range` = windowed region read (A4, :281-292) whose key-range
    predicate Catalyst pushes to parquet row-group skipping (pushdown
    plan-asserted in tests/test_plans.py on the range_scan variant).
    The single-facet variants stay registered driver=False."""
    li = table(spark, sf_dir, "lineitem")
    full = li.agg(
        F.count("*").alias("m1"),
        F.max("l_orderkey").alias("m2"),
        F.countDistinct("l_partkey").alias("m3"),
    ).select(F.lit("full").alias("facet"), "m1", "m2", "m3")
    ev = table(spark, sf_dir, "events").withColumn(
        "pkey", F.pmod(F.col("event_id"), F.lit(32)).cast("bigint")
    )
    rechunk = (
        ev.repartition(32, "pkey")
        .groupBy("pkey")
        .agg(F.count("*").alias("m2"), F.countDistinct("user_id").alias("m3"))
        .select(
            F.lit("rechunk").alias("facet"), F.col("pkey").alias("m1"), "m2", "m3"
        )
    )
    rng = (
        li.filter(F.col("l_orderkey").between(100, 400))
        .agg(F.count("*").alias("m1"), sum_money("l_quantity", "m2"))
        .select(
            F.lit("range").alias("facet"), "m1", "m2", F.lit(0).cast("bigint").alias("m3")
        )
    )
    return full.unionByName(rechunk).unionByName(rng)


@register(
    "meta_attrs",
    "A5+A10",
    oracle="""
SELECT 'attr:' || CAST(a AS VARCHAR) AS facet, a, b FROM (
  SELECT CAST(props->>'$.k' AS BIGINT) AS a, CAST(COUNT(*) AS BIGINT) AS b
  FROM events GROUP BY 1
)
UNION ALL
SELECT 'scalar_counts' AS facet, CAST(COUNT(*) AS BIGINT) AS a,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS b
FROM lineitem
UNION ALL
SELECT 'scalar_dates' AS facet,
       CAST(DATEDIFF('day', DATE '1970-01-01', CAST(MIN(l_shipdate) AS DATE)) AS BIGINT) AS a,
       CAST(DATEDIFF('day', DATE '1970-01-01', CAST(MAX(l_shipdate) AS DATE)) AS BIGINT) AS b
FROM lineitem
""",
)
def meta_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated metadata driver query, union-with-tag: `attr:*` =
    JSON side-car attribute read (A5, zarr `pixelResolution`,
    tiff2octree.py:694-708); `scalar_counts`/`scalar_dates` = the
    one-row metadata-sink payload (A10, transform.txt's ox..sz,nl
    scalars, :842-901) with dates as epoch-day ints so every output
    column is a scalar the driver canonicalizer can hash."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    attrs = (
        ev.groupBy(k.alias("a"))
        .agg(F.count("*").alias("b"))
        .select(
            F.concat(F.lit("attr:"), F.col("a").cast("string")).alias("facet"),
            "a",
            "b",
        )
    )
    li = table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    counts = li.agg(
        F.count("*").alias("a"), F.sum(cents).alias("b")
    ).select(F.lit("scalar_counts").alias("facet"), "a", "b")
    epoch = F.lit("1970-01-01").cast("date")
    dates = li.agg(
        F.datediff(F.min("l_shipdate").cast("date"), epoch).cast("bigint").alias("a"),
        F.datediff(F.max("l_shipdate").cast("date"), epoch).cast("bigint").alias("b"),
    ).select(F.lit("scalar_dates").alias("facet"), "a", "b")
    return attrs.unionByName(counts).unionByName(dates)


@register(
    "scan_parquet",
    "A1",
    driver=False,
    oracle="""
SELECT COUNT(*) AS n_rows,
       MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key,
       COUNT(DISTINCT l_partkey) AS n_parts
FROM lineitem
""",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table scan with schema inference (A1): mirrors
    slice_to_dask_array's list-then-infer (tiff2octree.py:653-691);
    spark.read.parquet infers from footers and parallelizes the scan."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


@register(
    "repartition_scan",
    "A2",
    driver=False,
    oracle="""
SELECT event_id % 32 AS pkey, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1
""",
)
def repartition_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stack scan + rechunk (A2): one container exploded into records,
    re-partitioned by a derived key (tiff2octree.py:628-651's rechunk ≡
    repartition(n, key)); the groupBy then reuses that partitioning."""
    ev = table(spark, sf_dir, "events").withColumn(
        "pkey", F.pmod(F.col("event_id"), F.lit(32)).cast("bigint")
    )
    return (
        ev.repartition(32, "pkey")
        .groupBy("pkey")
        .agg(F.count("*").alias("n"), F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "union_channels",
    "A3",
    # A3's driver-facing flagship is scan_n5_datasource (a REAL
    # hierarchical chunk store through the DataSource front door);
    # this fixture-table dual stays pytest-oracle-checked.
    driver=False,
    oracle="""
SELECT l_returnflag, COUNT(*) AS n FROM (
  SELECT l_returnflag FROM lineitem WHERE l_linestatus = 'F'
  UNION ALL
  SELECT l_returnflag FROM lineitem WHERE l_linestatus = 'O'
) GROUP BY 1
""",
)
def union_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source union (A3): mirrors multi-dir/channel discovery
    (tiff2octree.py:711-777) — per-channel loads unioned by name."""
    li = table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_linestatus") == "F").select("l_returnflag")
    b = li.filter(F.col("l_linestatus") == "O").select("l_returnflag")
    return a.unionByName(b).groupBy("l_returnflag").agg(F.count("*").alias("n"))


@register(
    "range_scan",
    "A4",
    driver=False,
    oracle=f"""
SELECT COUNT(*) AS n, {sum_money_sql("l_quantity", "sum_qty")}
FROM lineitem WHERE l_orderkey BETWEEN 100 AND 400
""",
)
def range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed region read (A4): the reference reads only the block's
    window (tiff2octree.py:281-292); here a key-range predicate that
    Catalyst pushes to the parquet scan (row-group skip)."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey").between(100, 400)).agg(
        F.count("*").alias("n"), sum_money("l_quantity", "sum_qty")
    )


@register(
    "json_attr",
    "A5",
    driver=False,
    oracle="""
SELECT CAST(props->>'$.k' AS BIGINT) AS k, COUNT(*) AS n
FROM events GROUP BY 1
""",
)
def json_attr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-attribute read (A5): zarr attrs `pixelResolution`
    (tiff2octree.py:694-708) ≡ JSON side-car parse."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(
        F.get_json_object("props", "$.k").cast("bigint").alias("k")
    ).agg(F.count("*").alias("n"))


@register(
    "sink_nonempty",
    "A6",
    oracle=f"""
SELECT l_orderkey, {sum_money_sql("l_quantity", "sum_qty")}
FROM lineitem GROUP BY 1 HAVING MAX(l_discount) > 0
""",
)
def sink_nonempty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-empty sink predicate (A6/O5): the reference skips all-zero
    blocks before writing (tiff2octree.py:312,344,438) — expressed as
    HAVING max(...) > 0 ahead of the sink so Catalyst can fuse it."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(sum_money("l_quantity", "sum_qty"), F.max("l_discount").alias("_md"))
        .filter(F.col("_md") > 0)
        .drop("_md")
    )


@register(
    "scalar_meta",
    "A10",
    driver=False,
    oracle=f"""
SELECT COUNT(*) AS n_rows,
       CAST(MIN(l_shipdate) AS DATE) AS min_ship,
       CAST(MAX(l_shipdate) AS DATE) AS max_ship,
       {sum_money_sql("l_extendedprice", "total_price")}
FROM lineitem
""",
)
def scalar_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata sink payload (A10): transform.txt's ox..sz,nl scalars
    (tiff2octree.py:842-901) ≡ a one-row aggregate select."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.min("l_shipdate").cast("date").alias("min_ship"),
        F.max("l_shipdate").cast("date").alias("max_ship"),
        sum_money("l_extendedprice", "total_price"),
    )


@register(
    "scan_tiff_stack",
    "A1+A2",
    oracle="""
SELECT z,
       CAST(64 AS INTEGER) AS n_bytes,
       AVG(v) AS mean_intensity,
       CAST(MIN(v) AS INTEGER) AS min_intensity,
       CAST(MAX(v) AS INTEGER) AS max_intensity
FROM (
  SELECT t1.range AS z, (t2.range * (t1.range + 1)) % 251 AS v
  FROM range(4) t1, range(64) t2
)
GROUP BY z
""",
)
def scan_tiff_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 over REAL container files, oracle-exact: a deterministic
    z-stack of baseline TIFF slices is written (sources/tiff.py), then
    ingested exactly the way the reference's front door works
    (slice_to_dask_array, tiff2octree.py:653-691): binaryFile scan ->
    per-file page decode on executors (clean-room uncompressed-TIFF
    reader) -> per-slice
    intensity accounting. The DuckDB oracle regenerates the pixel
    formula ((i * (z+1)) % 251) with range() arithmetic, so a decode
    bug anywhere in the encode->scan->decode->stats chain breaks the
    hash. AVG over 64 values is sum/2^6 — bit-exact in both engines."""
    import tempfile

    import numpy as np

    from hortacloud_importer_spark.operators.multimodal import media_features
    from hortacloud_importer_spark.sources.tiff import encode_tiff

    workdir = tempfile.mkdtemp(prefix="tiff_stack_")
    h = w = 8
    for z in range(4):
        vals = ((np.arange(h * w).reshape(h, w) * (z + 1)) % 251).astype(np.uint8)
        with open(f"{workdir}/default.0.{z:03d}.tif", "wb") as fh:
            fh.write(encode_tiff(vals[None, ...]))
    media = (
        spark.read.format("binaryFile")
        .load(f"file://{workdir}/*.tif")
        .select(
            F.regexp_extract(F.col("path"), r"\.(\d{3})\.tif$", 1)
            .cast("long")
            .alias("media_id"),
            F.lit("image").alias("kind"),
            F.lit("tiff").alias("format"),
            F.col("content").alias("payload"),
            F.expr(
                "named_struct('height', 8, 'width', 8, 'channels', 1,"
                " 'sample_rate', 0, 'n_frames', 1)"
            ).alias("meta"),
        )
    )
    return media_features(media).select(
        F.col("media_id").alias("z"),
        "n_bytes",
        "mean_intensity",
        "min_intensity",
        "max_intensity",
    )


@register(
    "scan_jp2_stack",
    "A1+A2",
    driver=False,  # the external driver set is frozen at 50
    oracle="""
SELECT z,
       AVG(v) AS mean_intensity,
       CAST(MIN(v) AS INTEGER) AS min_intensity,
       CAST(MAX(v) AS INTEGER) AS max_intensity
FROM (
  SELECT t1.range AS z, (t2.range * (t1.range + 1)) % 251 AS v
  FROM range(4) t1, range(64) t2
)
GROUP BY z
""",
)
def scan_jp2_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 over REAL JPEG 2000 slices, oracle-exact: the same
    deterministic z-stack as scan_tiff_stack, but encoded as lossless
    5/3 JP2 files (sources/j2k.py via encode_jp2) and decoded
    bindinglessly inside the executor media kernel — the reference
    needs rasterio for this input (tiff2octree.py:673-678). The
    DuckDB oracle regenerates the pixel formula, so a bit error
    anywhere in the MQ/EBCOT/DWT chain breaks the hash. n_bytes is
    not projected: a compressed size is encoder-specific, not
    SQL-derivable."""
    import tempfile

    import numpy as np

    from hortacloud_importer_spark.operators.multimodal import media_features
    from hortacloud_importer_spark.sources.jp2 import encode_jp2

    workdir = tempfile.mkdtemp(prefix="jp2_stack_")
    h = w = 8
    for z in range(4):
        vals = ((np.arange(h * w).reshape(h, w) * (z + 1)) % 251).astype(
            np.uint8
        )
        with open(f"{workdir}/default.0.{z:03d}.jp2", "wb") as fh:
            fh.write(encode_jp2(vals, levels=1))
    media = (
        spark.read.format("binaryFile")
        .load(f"file://{workdir}/*.jp2")
        .select(
            F.regexp_extract(F.col("path"), r"\.(\d{3})\.jp2$", 1)
            .cast("long")
            .alias("media_id"),
            F.lit("image").alias("kind"),
            F.lit("jp2").alias("format"),
            F.col("content").alias("payload"),
            F.expr(
                "named_struct('height', 8, 'width', 8, 'channels', 1,"
                " 'sample_rate', 0, 'n_frames', 1)"
            ).alias("meta"),
        )
    )
    return media_features(media).select(
        F.col("media_id").alias("z"),
        "mean_intensity",
        "min_intensity",
        "max_intensity",
    )


@register(
    "scan_jp2_ppt",
    "A1+A2",
    driver=False,  # the external driver set is frozen at 50
    oracle="""
SELECT z,
       AVG(v) AS mean_intensity,
       CAST(MIN(v) AS INTEGER) AS min_intensity,
       CAST(MAX(v) AS INTEGER) AS max_intensity
FROM (
  SELECT t1.range AS z, (t2.range * (t1.range + 3)) % 241 AS v
  FROM range(4) t1, range(64) t2
)
GROUP BY z
""",
)
def scan_jp2_ppt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 over JPEG 2000 slices whose packet headers are PACKED
    into PPT tile-part segments (T.800 A.7.5 — the layout document
    scanners and Kakadu emit), oracle-exact: same accounting pattern
    as scan_jp2_stack, multi-tile-part fixtures, closed-form pixel
    formula regenerated by DuckDB. A packed-header framing bug
    (Zppt ordering, Nppm chunk mapping, header/body stream split)
    breaks the hash."""
    import tempfile

    import numpy as np

    from hortacloud_importer_spark.operators.multimodal import media_features
    from hortacloud_importer_spark.sources.jp2 import encode_jp2

    workdir = tempfile.mkdtemp(prefix="jp2_ppt_")
    h = w = 8
    for z in range(4):
        vals = ((np.arange(h * w).reshape(h, w) * (z + 3)) % 241).astype(
            np.uint8
        )
        with open(f"{workdir}/default.0.{z:03d}.jp2", "wb") as fh:
            fh.write(
                encode_jp2(
                    vals, levels=1, tile_parts=2, packed_headers="ppt"
                )
            )
    media = (
        spark.read.format("binaryFile")
        .load(f"file://{workdir}/*.jp2")
        .select(
            F.regexp_extract(F.col("path"), r"\.(\d{3})\.jp2$", 1)
            .cast("long")
            .alias("media_id"),
            F.lit("image").alias("kind"),
            F.lit("jp2").alias("format"),
            F.col("content").alias("payload"),
            F.expr(
                "named_struct('height', 8, 'width', 8, 'channels', 1,"
                " 'sample_rate', 0, 'n_frames', 1)"
            ).alias("meta"),
        )
    )
    return media_features(media).select(
        F.col("media_id").alias("z"),
        "mean_intensity",
        "min_intensity",
        "max_intensity",
    )


@register(
    "scan_jp2_geometry",
    "A1+A2",
    driver=False,  # the external driver set is frozen at 50
    oracle="""
SELECT z,
       AVG(v) AS mean_intensity,
       CAST(MIN(v) AS INTEGER) AS min_intensity,
       CAST(MAX(v) AS INTEGER) AS max_intensity
FROM (
  SELECT t1.range AS z, (t2.range * (2 * t1.range + 5)) % 239 AS v
  FROM range(4) t1, range(256) t2
)
GROUP BY z
""",
)
def scan_jp2_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 over JPEG 2000 slices with ARBITRARY geometry,
    oracle-exact: each z exercises a layout the reference's rasterio
    path would accept but rounds <= 10 of this codec gated — z=0 a
    tile grid misaligned to 2^levels, z=1 nonzero image+tile-grid
    offsets, z=2 misaligned tiles with custom precincts AND a POC
    reorder, z=3 offsets + misaligned tiles + the bypass/termall
    code-block modes. The DuckDB oracle regenerates the pixel
    formula, so a parity error anywhere in the B-15 band geometry or
    the odd-origin lifting breaks the hash."""
    import tempfile

    import numpy as np

    from hortacloud_importer_spark.operators.multimodal import media_features
    from hortacloud_importer_spark.sources.jp2 import encode_jp2

    workdir = tempfile.mkdtemp(prefix="jp2_geom_")
    h = w = 16
    variants = [
        dict(levels=2, tile=(10, 12), cb=(8, 8)),
        dict(levels=2, offsets=(5, 3, 2, 1), tile=(16, 16), cb=(8, 8)),
        dict(levels=2, tile=(13, 11), cb=(8, 8), layers=2,
             precincts=[(3, 3), (3, 3), (4, 4)],
             poc=[(0, 0, 2, 2, 1, 3), (0, 0, 2, 3, 1, 4)]),
        dict(levels=2, tile=(9, 14), offsets=(2, 6, 1, 3), cb=(8, 8),
             termall=True, bypass=True),
    ]
    for z, kw in enumerate(variants):
        vals = ((np.arange(h * w).reshape(h, w) * (2 * z + 5)) % 239).astype(
            np.uint8
        )
        with open(f"{workdir}/default.0.{z:03d}.jp2", "wb") as fh:
            fh.write(encode_jp2(vals, **kw))
    media = (
        spark.read.format("binaryFile")
        .load(f"file://{workdir}/*.jp2")
        .select(
            F.regexp_extract(F.col("path"), r"\.(\d{3})\.jp2$", 1)
            .cast("long")
            .alias("media_id"),
            F.lit("image").alias("kind"),
            F.lit("jp2").alias("format"),
            F.col("content").alias("payload"),
            F.expr(
                "named_struct('height', 16, 'width', 16, 'channels', 1,"
                " 'sample_rate', 0, 'n_frames', 1)"
            ).alias("meta"),
        )
    )
    return media_features(media).select(
        F.col("media_id").alias("z"),
        "mean_intensity",
        "min_intensity",
        "max_intensity",
    )


@register(
    "scan_tiff_stack_12bit",
    "A1+A2",
    driver=False,  # the external driver set is frozen at 50
    oracle="""
SELECT z,
       AVG(v) AS mean_intensity,
       CAST(MIN(v) AS INTEGER) AS min_intensity,
       CAST(MAX(v) AS INTEGER) AS max_intensity
FROM (
  SELECT t1.range AS z,
         (173 * (t2.range + 1) * (t1.range + 2)) % 4093 AS v
  FROM range(4) t1, range(4) t2
)
GROUP BY z
""",
)
def scan_tiff_stack_12bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 over 12-bit JPEG-in-TIFF slices (BitsPerSample 12,
    SOF1, Pq=1 DQT — the layout 12-bit scientific cameras write),
    oracle-EXACT despite JPEG being lossy in general: every 8x8 block
    of the fixture is constant, so its DCT is a lone DC coefficient
    that survives quantize(1)/dequantize bit-exactly. Each 16x16
    slice is a 2x2 grid of constant blocks with
    v = (173*(b+1)*(z+2)) % 4093; the DuckDB oracle regenerates that
    formula, so the per-slice mean (sum of 4 values / 4 — exact in
    both engines) hashes only if the 12-bit decode chain is
    bit-perfect."""
    import tempfile

    import numpy as np

    from hortacloud_importer_spark.operators.multimodal import media_features
    from hortacloud_importer_spark.sources.tiff import encode_tiff

    workdir = tempfile.mkdtemp(prefix="tiff12_stack_")
    for z in range(4):
        page = np.zeros((16, 16), dtype=np.uint16)
        for b in range(4):
            by, bx = divmod(b, 2)
            page[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                173 * (b + 1) * (z + 2)
            ) % 4093
        with open(f"{workdir}/default.0.{z:03d}.tif", "wb") as fh:
            fh.write(encode_tiff(page[None, ...], compression="jpeg"))
    media = (
        spark.read.format("binaryFile")
        .load(f"file://{workdir}/*.tif")
        .select(
            F.regexp_extract(F.col("path"), r"\.(\d{3})\.tif$", 1)
            .cast("long")
            .alias("media_id"),
            F.lit("image").alias("kind"),
            F.lit("tiff").alias("format"),
            F.col("content").alias("payload"),
            F.expr(
                "named_struct('height', 16, 'width', 16, 'channels', 1,"
                " 'sample_rate', 0, 'n_frames', 1)"
            ).alias("meta"),
        )
    )
    return media_features(media).select(
        F.col("media_id").alias("z"),
        "mean_intensity",
        "min_intensity",
        "max_intensity",
    )


@register(
    "scan_wav_stack",
    "A1+K4",
    driver=False,  # the external driver set is frozen at 50
    oracle="""
SELECT z,
       AVG(v) AS mean_amplitude,
       CAST(MIN(v) AS INTEGER) AS min_amplitude,
       CAST(MAX(v) AS INTEGER) AS max_amplitude
FROM (
  SELECT t1.range AS z,
         ((t2.range * (t1.range + 1) * 37) % 4001) - 2000 AS v
  FROM range(4) t1, range(256) t2
)
GROUP BY z
""",
)
def scan_wav_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 audio over REAL WAV containers, oracle-exact: four mono
    16-bit PCM files with v = ((i*(z+1)*37) % 4001) - 2000 are
    written (sources/wav.py), ingested via binaryFile, and decoded
    through the executor media kernel; the DuckDB oracle regenerates
    the sample formula. AVG over 256 samples is sum/2^8 — bit-exact
    in both engines, so a parse or sign-extension bug anywhere in
    the RIFF chain breaks the hash."""
    import tempfile

    import numpy as np

    from hortacloud_importer_spark.operators.multimodal import media_features
    from hortacloud_importer_spark.sources.wav import encode_wav

    workdir = tempfile.mkdtemp(prefix="wav_stack_")
    for z in range(4):
        v = (
            (np.arange(256, dtype=np.int64) * (z + 1) * 37) % 4001 - 2000
        ).astype(np.int16)
        with open(f"{workdir}/clip.{z:03d}.wav", "wb") as fh:
            fh.write(encode_wav(v, rate=16000))
    media = (
        spark.read.format("binaryFile")
        .load(f"file://{workdir}/*.wav")
        .select(
            F.regexp_extract(F.col("path"), r"\.(\d{3})\.wav$", 1)
            .cast("long")
            .alias("media_id"),
            F.lit("audio").alias("kind"),
            F.lit("wav").alias("format"),
            F.col("content").alias("payload"),
            F.expr(
                "named_struct('height', 1, 'width', 256, 'channels', 1,"
                " 'sample_rate', 16000, 'n_frames', 1)"
            ).alias("meta"),
        )
    )
    return media_features(media).select(
        F.col("media_id").alias("z"),
        F.col("mean_intensity").alias("mean_amplitude"),
        F.col("min_intensity").alias("min_amplitude"),
        F.col("max_intensity").alias("max_amplitude"),
    )


@register(
    "scan_wav_g711",
    "A1+K4",
    driver=False,  # the external driver set is frozen at 50
    oracle="""
SELECT z,
       AVG(v) AS mean_amplitude,
       CAST(MIN(v) AS INTEGER) AS min_amplitude,
       CAST(MAX(v) AS INTEGER) AS max_amplitude
FROM (
  SELECT z,
    CASE WHEN z < 2 THEN
      -- mu-law expand: invert byte, (2*mantissa+33)<<exp, bias 132
      CASE WHEN (255 - c) >= 128
           THEN 132 - ((((255 - c) % 16) * 8 + 132) << (((255 - c) // 16) % 8))
           ELSE ((((255 - c) % 16) * 8 + 132) << (((255 - c) // 16) % 8)) - 132
      END
    ELSE
      -- A-law expand: XOR 0x55, seg 0 linear (+8), seg >= 1 dyadic
      CASE WHEN xor(c, 85) >= 128 THEN 1 ELSE -1 END *
      CASE WHEN ((xor(c, 85) // 16) % 8) = 0
           THEN (xor(c, 85) % 16) * 16 + 8
           ELSE ((xor(c, 85) % 16) * 16 + 264)
                << (((xor(c, 85) // 16) % 8) - 1)
      END
    END AS v
  FROM (
    SELECT t1.range AS z, (t2.range * (t1.range + 3) * 11) % 256 AS c
    FROM range(4) t1, range(256) t2
  )
)
GROUP BY z
""",
)
def scan_wav_g711(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 audio over G.711 A-law/mu-law WAV containers (format tags
    6/7 — the telephony encodings), oracle-exact: four 256-codeword
    clips (z 0-1 mu-law, z 2-3 A-law) with codes
    c = (i*(z+3)*11) % 256 are written via encode_wav(g711=...) and
    decoded through the executor media kernel; the DuckDB oracle
    re-derives the expander from G.711's closed-form segment
    arithmetic, so a companding bug anywhere in sources/wav.py's
    formula tables breaks the hash."""
    import tempfile

    import numpy as np

    from hortacloud_importer_spark.operators.multimodal import media_features
    from hortacloud_importer_spark.sources.wav import encode_wav

    workdir = tempfile.mkdtemp(prefix="wav_g711_")
    for z in range(4):
        c = (
            (np.arange(256, dtype=np.int64) * (z + 3) * 11) % 256
        ).astype(np.uint8)
        law = "ulaw" if z < 2 else "alaw"
        with open(f"{workdir}/clip.{z:03d}.wav", "wb") as fh:
            fh.write(encode_wav(c, rate=8000, g711=law))
    media = (
        spark.read.format("binaryFile")
        .load(f"file://{workdir}/*.wav")
        .select(
            F.regexp_extract(F.col("path"), r"\.(\d{3})\.wav$", 1)
            .cast("long")
            .alias("media_id"),
            F.lit("audio").alias("kind"),
            F.lit("wav").alias("format"),
            F.col("content").alias("payload"),
            F.expr(
                "named_struct('height', 1, 'width', 256, 'channels', 1,"
                " 'sample_rate', 8000, 'n_frames', 1)"
            ).alias("meta"),
        )
    )
    return media_features(media).select(
        F.col("media_id").alias("z"),
        F.col("mean_intensity").alias("mean_amplitude"),
        F.col("min_intensity").alias("min_amplitude"),
        F.col("max_intensity").alias("max_amplitude"),
    )


def _ima_adpcm_oracle() -> str:
    """DuckDB mirror of the IMA ADPCM state machine: a recursive CTE
    replays every (predictor, index) transition over the fixture's
    deterministic nibble streams. The 89-entry step table literal is
    emitted from sources/wav.py's constant — the SQL pins the whole
    decode PIPELINE (block header seeding, nibble order, clamps,
    reconstruction arithmetic); the table VALUES themselves are
    independently verified against the stdlib audioop reference in
    tests/test_wav.py."""
    from hortacloud_importer_spark.sources.wav import _IMA_STEPS

    steps = ", ".join(str(int(v)) for v in _IMA_STEPS)
    return f"""
WITH RECURSIVE d AS (
  SELECT t.range AS z, -1 AS i,
         CAST(t.range * 1234 - 600 AS BIGINT) AS pred,
         CAST((t.range * 17) % 89 AS BIGINT) AS idx
  FROM range(4) t
  UNION ALL
  SELECT z, i,
         GREATEST(-32768, LEAST(32767,
           pred + CASE WHEN nib >= 8 THEN -diff ELSE diff END)),
         GREATEST(0, LEAST(88, idx + ([-1,-1,-1,-1,2,4,6,8])[(nib % 8) + 1]))
  FROM (
    SELECT z, i, pred, idx, nib,
           (step // 8)
           + CASE WHEN nib % 2 = 1 THEN step // 4 ELSE 0 END
           + CASE WHEN (nib // 2) % 2 = 1 THEN step // 2 ELSE 0 END
           + CASE WHEN (nib // 4) % 2 = 1 THEN step ELSE 0 END AS diff
    FROM (
      SELECT z, i + 1 AS i, pred, idx,
             ((i + 1) * (z + 5) * 7) % 16 AS nib,
             ([{steps}])[idx + 1] AS step
      FROM d WHERE i < 503
    )
  )
)
SELECT z,
       AVG(pred) AS mean_amplitude,
       CAST(MIN(pred) AS INTEGER) AS min_amplitude,
       CAST(MAX(pred) AS INTEGER) AS max_amplitude
FROM d
GROUP BY z
"""


@register(
    "scan_wav_adpcm",
    "A1+K4",
    driver=False,  # the external driver set is frozen at 50
    oracle=_ima_adpcm_oracle(),
)
def scan_wav_adpcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 audio over IMA/DVI ADPCM WAV containers (format tag 0x11 —
    the 4-bit compressed format real speech corpora carry),
    oracle-exact at the CODEWORD level: four mono clips, each one
    ADPCM block whose 504 nibbles are n_i = (i*(z+5)*7) mod 16 with
    initial predictor z*1234-600 and initial step index (z*17) mod 89,
    are written by encode_wav_ima_codewords and decoded through the
    executor media kernel (sources/wav.py's stateful expander). The
    DuckDB oracle replays the identical state machine with a recursive
    CTE, so a bug anywhere in the block layout, nibble order,
    reconstruction arithmetic, or clamping breaks the hash; the step
    TABLE itself is pinned against the independent stdlib audioop
    reference in tests/test_wav.py."""
    import tempfile

    from hortacloud_importer_spark.operators.multimodal import media_features
    from hortacloud_importer_spark.sources.wav import (
        encode_wav_ima_codewords,
    )

    workdir = tempfile.mkdtemp(prefix="wav_adpcm_")
    for z in range(4):
        nibs = [(i * (z + 5) * 7) % 16 for i in range(504)]
        with open(f"{workdir}/clip.{z:03d}.wav", "wb") as fh:
            fh.write(
                encode_wav_ima_codewords(
                    nibs, z * 1234 - 600, (z * 17) % 89, rate=8000
                )
            )
    media = (
        spark.read.format("binaryFile")
        .load(f"file://{workdir}/*.wav")
        .select(
            F.regexp_extract(F.col("path"), r"\.(\d{3})\.wav$", 1)
            .cast("long")
            .alias("media_id"),
            F.lit("audio").alias("kind"),
            F.lit("wav").alias("format"),
            F.col("content").alias("payload"),
            F.expr(
                "named_struct('height', 1, 'width', 505, 'channels', 1,"
                " 'sample_rate', 8000, 'n_frames', 1)"
            ).alias("meta"),
        )
    )
    return media_features(media).select(
        F.col("media_id").alias("z"),
        F.col("mean_intensity").alias("mean_amplitude"),
        F.col("min_intensity").alias("min_amplitude"),
        F.col("max_intensity").alias("max_amplitude"),
    )


@register(
    "scan_gif_bmp_media",
    "A1+K4",
    driver=False,  # the external driver set is frozen at 50
    oracle="""
SELECT fmt, z, AVG(v) AS mean_val,
       CAST(MIN(v) AS INTEGER) AS min_val,
       CAST(MAX(v) AS INTEGER) AS max_val
FROM (
  SELECT 'gif' AS fmt, t1.range AS z,
         (t2.range * (t1.range + 1) * 11) % 251 AS v
  FROM range(4) t1, range(768) t2
  UNION ALL
  SELECT 'bmp' AS fmt, t1.range AS z,
         (t2.range * (t1.range + 1) * 7) % 256 AS v
  FROM range(4) t1, range(768) t2
  UNION ALL
  SELECT 'webp' AS fmt, t1.range AS z,
         (t2.range * (t1.range + 1) * 17) % 256 AS v
  FROM range(4) t1, range(768) t2
)
GROUP BY fmt, z
""",
)
def scan_gif_bmp_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 web-image formats over REAL containers, oracle-exact: four
    3-frame animated GIFs (grayscale palette, one interlaced, pixel
    index = (t*(z+1)*11) mod 251 for t = frame*256 + row*16 + col),
    four 24-bit BMPs (value = (k*(z+1)*7) mod 256 for the k-th RGB
    byte), and four lossless WebPs (VP8L, value = (k*(z+1)*17) mod
    256, one behind subtract-green) are written by the clean-room
    encoders, ingested via binaryFile, and decoded through the
    executor media kernel (sources/gif.py LZW + compositing,
    sources/bmp.py BGR/stride handling, sources/webp.py prefix
    coding). A grayscale GIF palette replicates each index across
    RGB, so mean/min/max equal the index-level stats and the DuckDB
    oracle regenerates all three formulas closed-form; AVG is an
    exact integer sum divided once, so any LZW, interlace, palette,
    channel-order, row-padding, or prefix-code bug breaks the hash."""
    import tempfile

    import numpy as np

    from hortacloud_importer_spark.operators.multimodal import media_features
    from hortacloud_importer_spark.sources.bmp import encode_bmp
    from hortacloud_importer_spark.sources.gif import encode_gif
    from hortacloud_importer_spark.sources.webp import encode_webp

    workdir = tempfile.mkdtemp(prefix="gif_bmp_media_")
    gray = np.repeat(np.arange(256, dtype=np.uint8), 3).reshape(256, 3)
    for z in range(4):
        t = np.arange(3 * 256, dtype=np.int64)
        frames = ((t * (z + 1) * 11) % 251).astype(np.uint8).reshape(3, 16, 16)
        with open(f"{workdir}/anim.{z:03d}.gif", "wb") as fh:
            fh.write(encode_gif(frames, gray, interlace=(z == 0)))
        k = np.arange(768, dtype=np.int64)
        img = ((k * (z + 1) * 7) % 256).astype(np.uint8).reshape(16, 16, 3)
        with open(f"{workdir}/shot.{z:03d}.bmp", "wb") as fh:
            fh.write(encode_bmp(img))
        wimg = ((k * (z + 1) * 17) % 256).astype(np.uint8).reshape(16, 16, 3)
        with open(f"{workdir}/web.{z:03d}.webp", "wb") as fh:
            fh.write(encode_webp(wimg, subtract_green=(z == 1)))
    fmt_col = F.element_at(F.split(F.col("path"), r"\."), -1)
    z_col = F.regexp_extract(F.col("path"), r"\.(\d{3})\.\w+$", 1).cast("long")
    media = (
        spark.read.format("binaryFile")
        .load(f"file://{workdir}/*")
        .select(
            # media_id stays unique across formats: gif z, bmp z+4,
            # webp z+8
            (
                z_col
                + F.when(fmt_col == "bmp", F.lit(4))
                .when(fmt_col == "webp", F.lit(8))
                .otherwise(F.lit(0))
            ).alias("media_id"),
            F.lit("image").alias("kind"),
            fmt_col.alias("format"),
            F.col("content").alias("payload"),
            F.expr(
                "named_struct('height', 16, 'width', 16, 'channels', 3,"
                " 'sample_rate', 0, 'n_frames', 3)"
            ).alias("meta"),
        )
    )
    return media_features(media).select(
        F.when(F.col("media_id") < 4, F.lit("gif"))
        .when(F.col("media_id") < 8, F.lit("bmp"))
        .otherwise(F.lit("webp"))
        .alias("fmt"),
        (F.col("media_id") % 4).alias("z"),
        F.col("mean_intensity").alias("mean_val"),
        F.col("min_intensity").alias("min_val"),
        F.col("max_intensity").alias("max_val"),
    )


@register(
    "scan_pnm_media",
    "A1+K4",
    driver=False,  # the external driver set is frozen at 50
    oracle="""
SELECT fmt, z, AVG(v) AS mean_val,
       CAST(MIN(v) AS INTEGER) AS min_val,
       CAST(MAX(v) AS INTEGER) AS max_val
FROM (
  SELECT 'pgm' AS fmt, t1.range AS z,
         (t2.range * (t1.range + 1) * 257) % 65521 AS v
  FROM range(4) t1, range(256) t2
  UNION ALL
  SELECT 'ppm' AS fmt, t1.range AS z,
         (t2.range * (t1.range + 1) * 19) % 256 AS v
  FROM range(4) t1, range(768) t2
)
GROUP BY fmt, z
""",
)
def scan_pnm_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 netpbm over REAL containers, oracle-exact: four 16-bit P5
    grayscale files (value = (t*(z+1)*257) mod 65521 — exercising the
    spec's big-endian 16-bit samples) and four 8-bit P6 RGB files
    (value = (k*(z+1)*19) mod 256), decoded through the executor
    media kernel against closed-form DuckDB formulas."""
    import tempfile

    import numpy as np

    from hortacloud_importer_spark.operators.multimodal import media_features
    from hortacloud_importer_spark.sources.pnm import encode_pnm

    workdir = tempfile.mkdtemp(prefix="pnm_media_")
    for z in range(4):
        t = np.arange(256, dtype=np.int64)
        gray = ((t * (z + 1) * 257) % 65521).astype(np.uint16).reshape(16, 16)
        with open(f"{workdir}/deep.{z:03d}.pgm", "wb") as fh:
            fh.write(encode_pnm(gray))
        k = np.arange(768, dtype=np.int64)
        rgb = ((k * (z + 1) * 19) % 256).astype(np.uint8).reshape(16, 16, 3)
        with open(f"{workdir}/color.{z:03d}.ppm", "wb") as fh:
            fh.write(encode_pnm(rgb, ascii_format=(z == 3)))
    fmt_col = F.element_at(F.split(F.col("path"), r"\."), -1)
    z_col = F.regexp_extract(F.col("path"), r"\.(\d{3})\.\w+$", 1).cast("long")
    media = (
        spark.read.format("binaryFile")
        .load(f"file://{workdir}/*")
        .select(
            (z_col + F.when(fmt_col == "ppm", F.lit(4)).otherwise(F.lit(0)))
            .alias("media_id"),
            F.lit("image").alias("kind"),
            fmt_col.alias("format"),
            F.col("content").alias("payload"),
            F.expr(
                "named_struct('height', 16, 'width', 16, 'channels', 3,"
                " 'sample_rate', 0, 'n_frames', 1)"
            ).alias("meta"),
        )
    )
    return media_features(media).select(
        F.when(F.col("media_id") < 4, F.lit("pgm"))
        .otherwise(F.lit("ppm"))
        .alias("fmt"),
        (F.col("media_id") % 4).alias("z"),
        F.col("mean_intensity").alias("mean_val"),
        F.col("min_intensity").alias("min_val"),
        F.col("max_intensity").alias("max_val"),
    )


@register(
    "scan_gif_frames",
    "A1+K4+J4",
    driver=False,  # the external driver set is frozen at 50
    oracle="""
SELECT z, f, AVG(v) AS mean_val,
       CAST(MIN(v) AS INTEGER) AS min_val,
       CAST(MAX(v) AS INTEGER) AS max_val
FROM (
  SELECT t1.range AS z, t2.range AS f,
         ((t2.range * 256 + t3.range) * (t1.range + 1) * 29) % 251 AS v
  FROM range(4) t1, range(0, 3, 2) t2, range(256) t3
)
GROUP BY z, f
""",
)
def scan_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 animation through the 1->N frame-sampling UDTF (J4),
    oracle-exact — the GIF twin of ``scan_avi_frames``: four 3-frame
    animated GIFs (grayscale palette, full-rect frames so each
    composited frame equals its own indices; pixel index =
    ((f*256 + t)*(z+1)*29) mod 251) are frame-sampled at stride 2 and
    each sampled frame reduced by the media kernel; the DuckDB oracle
    regenerates the formula over exactly frames 0 and 2."""
    import tempfile

    import numpy as np

    from hortacloud_importer_spark.operators.multimodal import (
        media_features,
        sample_frames,
    )
    from hortacloud_importer_spark.sources.gif import encode_gif

    workdir = tempfile.mkdtemp(prefix="gif_frames_")
    gray = np.repeat(np.arange(256, dtype=np.uint8), 3).reshape(256, 3)
    for z in range(4):
        t = np.arange(3 * 256, dtype=np.int64)
        frames = ((t * (z + 1) * 29) % 251).astype(np.uint8).reshape(3, 16, 16)
        with open(f"{workdir}/anim.{z:03d}.gif", "wb") as fh:
            fh.write(encode_gif(frames, gray))
    media = (
        spark.read.format("binaryFile")
        .load(f"file://{workdir}/*.gif")
        .select(
            F.regexp_extract(F.col("path"), r"\.(\d{3})\.gif$", 1)
            .cast("long")
            .alias("media_id"),
            F.lit("video").alias("kind"),
            F.lit("gif").alias("format"),
            F.col("content").alias("payload"),
            F.expr(
                "named_struct('height', 16, 'width', 16, 'channels', 3,"
                " 'sample_rate', 0, 'n_frames', 3)"
            ).alias("meta"),
        )
    )
    return media_features(sample_frames(media, 2)).select(
        (F.col("media_id") / 1000).cast("long").alias("z"),
        (F.col("media_id") % 1000).alias("f"),
        F.col("mean_intensity").alias("mean_val"),
        F.col("min_intensity").alias("min_val"),
        F.col("max_intensity").alias("max_val"),
    )


@register(
    "scan_tiff_ccitt",
    "A1+A2+K4",
    driver=False,  # the external driver set is frozen at 50
    oracle="""
SELECT z,
       AVG(v) AS mean_intensity,
       CAST(MIN(v) AS INTEGER) AS min_intensity,
       CAST(MAX(v) AS INTEGER) AS max_intensity
FROM (
  SELECT t1.range AS z,
         CASE WHEN (t2.range * (t1.range + 2)) % 5 = 0 THEN 1 ELSE 0 END AS v
  FROM range(4) t1, range(256) t2
)
GROUP BY z
""",
)
def scan_tiff_ccitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2/K4 over CCITT fax TIFFs — the scanned-document corpus
    format — oracle-exact: four 16x16 bilevel pages with ink bit
    (i*(z+2)) mod 5 == 0, two Group 4 (T.6) and two byte-aligned MH
    (compression 2), encoded by the clean-room writer and decoded by
    the clean-room T.4/T.6 decoder (sources/ccitt.py) inside the
    executor media kernel. Page 0 additionally codes rows 0/7/15 in
    T.6 UNCOMPRESSED MODE (T6Options bit 1, the extension code +
    literal pixels + exit-T path), so that branch runs in-pipeline
    too. The DuckDB oracle regenerates the ink formula (AVG of 256
    0/1 samples = count/2^8, exact in both engines); run-table,
    2-D-mode, or uncompressed-mode bugs break the hash. Decoder
    conformance is additionally pinned against the JDK's independent
    TIFF plugin in tests/test_ccitt.py."""
    import tempfile

    import numpy as np

    from hortacloud_importer_spark.operators.multimodal import media_features
    from hortacloud_importer_spark.sources.tiff import encode_tiff

    workdir = tempfile.mkdtemp(prefix="tiff_ccitt_")
    for z in range(4):
        i = np.arange(256, dtype=np.int64)
        ink = ((i * (z + 2)) % 5 == 0).astype(np.uint8).reshape(16, 16)
        comp = "g4" if z % 2 == 0 else "ccitt_rle"
        kwargs = {}
        if z == 0:
            kwargs["g4_uncompressed_rows"] = {0, 7, 15}
        with open(f"{workdir}/doc.{z:03d}.tif", "wb") as fh:
            fh.write(encode_tiff(ink[None, ...], compression=comp, **kwargs))
    media = (
        spark.read.format("binaryFile")
        .load(f"file://{workdir}/*.tif")
        .select(
            F.regexp_extract(F.col("path"), r"\.(\d{3})\.tif$", 1)
            .cast("long")
            .alias("media_id"),
            F.lit("image").alias("kind"),
            F.lit("tiff").alias("format"),
            F.col("content").alias("payload"),
            F.expr(
                "named_struct('height', 16, 'width', 16, 'channels', 1,"
                " 'sample_rate', 0, 'n_frames', 1)"
            ).alias("meta"),
        )
    )
    return media_features(media).select(
        F.col("media_id").alias("z"),
        "mean_intensity",
        "min_intensity",
        "max_intensity",
    )


@register(
    "scan_tiff_float",
    "A1+A2",
    driver=False,  # the external driver set is frozen at 50
    oracle="""
SELECT z,
       AVG(k) AS mean_intensity,
       CAST(MIN(k) AS INTEGER) AS min_intensity,
       CAST(MAX(k) AS INTEGER) AS max_intensity
FROM (
  SELECT t1.range AS z,
         CASE WHEN t2.range = 1 THEN 0
              ELSE (t2.range * (t1.range + 1) * 97) % 65011 END AS k
  FROM range(4) t1, range(64) t2
)
GROUP BY z
""",
)
def scan_tiff_float(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 over FLOAT32 TIFF slices (SampleFormat 3 — the
    reference's float stack input, tiff2octree.py:250-251),
    oracle-exact: pixel values k/65535 requantize back to exactly k
    through the voxel boundary's ``float_mode='requant'`` (skimage
    img_as_uint semantics: round-half-even x65535; float32's 2^-24
    relative error stays far below the rounding threshold), and a
    planted NaN maps to 0 per the zeros-are-missing convention
    (ktx/util.py:151-158). The scan runs through the ``tiff_volume``
    DataSource — executor-side decode, no payload on the driver."""
    import tempfile

    import numpy as np

    from hortacloud_importer_spark.sources.datasource import (
        register_volume_sources,
    )
    from hortacloud_importer_spark.sources.tiff import encode_tiff

    workdir = tempfile.mkdtemp(prefix="tiff_float_")
    for z in range(4):
        k = (np.arange(64, dtype=np.int64) * (z + 1) * 97) % 65011
        v = (k / 65535.0).astype(np.float32)
        v[1] = np.nan  # "no data" -> requants to 0
        with open(f"{workdir}/default.0.{z:03d}.tif", "wb") as fh:
            fh.write(encode_tiff(v.reshape(1, 8, 8), compression="zlib"))
    register_volume_sources(spark)
    vox = (
        spark.read.format("tiff_volume")
        .option("float_mode", "requant")
        .load(workdir)
    )
    return (
        vox.groupBy("z")
        .agg(
            F.avg("intensity").alias("mean_intensity"),
            F.min("intensity").cast("int").alias("min_intensity"),
            F.max("intensity").cast("int").alias("max_intensity"),
        )
        .select("z", "mean_intensity", "min_intensity", "max_intensity")
    )


@register(
    "scan_webp_lossy",
    "A1+K4",
    driver=False,  # the external driver set is frozen at 50
    oracle="""
SELECT z,
       AVG(g) AS mean_intensity,
       CAST(MIN(g) AS INTEGER) AS min_intensity,
       CAST(MAX(g) AS INTEGER) AS max_intensity
FROM (
  SELECT t1.range AS z,
         LEAST(255, (298 * ((37 * (t2.range + 1) * (t1.range + 2)) % 220)
                     + 128) // 256) AS g
  FROM range(4) t1, range(4) t2
)
GROUP BY z
""",
)
def scan_webp_lossy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 LOSSY WebP over REAL containers, oracle-exact despite VP8
    being a lossy codec: each file is a 2x2-macroblock VP8 keyframe
    whose per-MB luma constants v = 16 + (37*(m+1)*(z+2)) mod 220
    survive the quantize/WHT/iDCT/DC_PRED chain bit-perfectly at
    q_index 0 (sources/vp8.py encode_vp8 docstring derives why), and
    the engine's documented BT.601 luma expansion g = (298*(v-16)+
    128)>>8 is integer math DuckDB reproduces exactly. The decode
    itself — boolean coder, token trees, dequant, inverse transforms,
    prediction — is additionally pinned bit-for-bit against libwebp
    by tests/test_vp8_parity.py; this query proves the Spark-side
    plumbing end to end (binaryFile scan -> executor VP8 decode ->
    YUV->RGB -> intensity accounting)."""
    import tempfile

    import numpy as np

    from hortacloud_importer_spark.operators.multimodal import media_features
    from hortacloud_importer_spark.sources.vp8 import encode_webp_lossy

    workdir = tempfile.mkdtemp(prefix="webp_lossy_")
    for z in range(4):
        m = np.arange(4, dtype=np.int64)
        vals = (16 + (37 * (m + 1) * (z + 2)) % 220).reshape(2, 2)
        with open(f"{workdir}/pic.{z:03d}.webp", "wb") as fh:
            fh.write(encode_webp_lossy(vals.astype(np.uint8)))
    media = (
        spark.read.format("binaryFile")
        .load(f"file://{workdir}/*.webp")
        .select(
            F.regexp_extract(F.col("path"), r"\.(\d{3})\.webp$", 1)
            .cast("long")
            .alias("media_id"),
            F.lit("image").alias("kind"),
            F.lit("webp").alias("format"),
            F.col("content").alias("payload"),
            F.expr(
                "named_struct('height', 32, 'width', 32, 'channels', 3,"
                " 'sample_rate', 0, 'n_frames', 1)"
            ).alias("meta"),
        )
    )
    return media_features(media).select(
        F.col("media_id").alias("z"),
        "mean_intensity",
        "min_intensity",
        "max_intensity",
    )


@register(
    "scan_apng_frames",
    "A1+K4+J4",
    driver=False,  # the external driver set is frozen at 50
    oracle="""
SELECT z,
       AVG(v) AS mean_intensity,
       CAST(MIN(v) AS INTEGER) AS min_intensity,
       CAST(MAX(v) AS INTEGER) AS max_intensity
FROM (
  SELECT t1.range AS z, (17 * (t1.range + 3) * (t2.range + 2)) % 256 AS v
  FROM range(4) t1, range(3) t2
)
GROUP BY z
""",
)
def scan_apng_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 ANIMATED PNG over REAL containers, oracle-exact: each file
    is a 3-frame APNG (acTL/fcTL/fdAT) of full-canvas constant frames
    v = (17*(z+3)*(m+2)) mod 256 — PNG is lossless, so the composited
    snapshots match the closed-form DuckDB values exactly; sequence
    numbering, fdAT re-wrapping, or compositing bugs all break the
    hash."""
    import tempfile

    import numpy as np

    from hortacloud_importer_spark.operators.multimodal import media_features
    from hortacloud_importer_spark.sources.png import encode_apng

    workdir = tempfile.mkdtemp(prefix="apng_")
    for z in range(4):
        frames = [
            np.full((6, 8, 3), (17 * (z + 3) * (m + 2)) % 256, np.uint8)
            for m in range(3)
        ]
        with open(f"{workdir}/anim.{z:03d}.png", "wb") as fh:
            fh.write(encode_apng(frames))
    media = (
        spark.read.format("binaryFile")
        .load(f"file://{workdir}/*.png")
        .select(
            F.regexp_extract(F.col("path"), r"\.(\d{3})\.png$", 1)
            .cast("long")
            .alias("media_id"),
            F.lit("video").alias("kind"),
            F.lit("png").alias("format"),
            F.col("content").alias("payload"),
            F.expr(
                "named_struct('height', 6, 'width', 8, 'channels', 3,"
                " 'sample_rate', 0, 'n_frames', 3)"
            ).alias("meta"),
        )
    )
    return media_features(media).select(
        F.col("media_id").alias("z"),
        "mean_intensity",
        "min_intensity",
        "max_intensity",
    )


@register(
    "scan_webp_anim",
    "A1+K4+J4",
    driver=False,  # the external driver set is frozen at 50
    oracle="""
SELECT z,
       AVG(v) AS mean_intensity,
       CAST(MIN(v) AS INTEGER) AS min_intensity,
       CAST(MAX(v) AS INTEGER) AS max_intensity
FROM (
  SELECT t1.range AS z, (13 * (t1.range + 2) * (t2.range + 5)) % 256 AS v
  FROM range(4) t1, range(3) t2
)
GROUP BY z
""",
)
def scan_webp_anim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 ANIMATED WebP over REAL containers, oracle-exact: each file
    is a 3-frame VP8X/ANIM/ANMF animation of full-canvas constant
    VP8L (lossless) frames v = (13*(z+2)*(m+5)) mod 256, composited
    by decode_webp_frames and accounted per item by media_features —
    offset math, blend flags, or frame-count bugs all break the
    closed-form DuckDB hash."""
    import tempfile

    import numpy as np

    from hortacloud_importer_spark.operators.multimodal import media_features
    from hortacloud_importer_spark.sources.webp import encode_webp_anim

    workdir = tempfile.mkdtemp(prefix="webp_anim_")
    for z in range(4):
        frames = [
            np.full((6, 8, 3), (13 * (z + 2) * (m + 5)) % 256, np.uint8)
            for m in range(3)
        ]
        with open(f"{workdir}/anim.{z:03d}.webp", "wb") as fh:
            fh.write(encode_webp_anim(frames))
    media = (
        spark.read.format("binaryFile")
        .load(f"file://{workdir}/*.webp")
        .select(
            F.regexp_extract(F.col("path"), r"\.(\d{3})\.webp$", 1)
            .cast("long")
            .alias("media_id"),
            F.lit("video").alias("kind"),
            F.lit("webp").alias("format"),
            F.col("content").alias("payload"),
            F.expr(
                "named_struct('height', 6, 'width', 8, 'channels', 3,"
                " 'sample_rate', 0, 'n_frames', 3)"
            ).alias("meta"),
        )
    )
    return media_features(media).select(
        F.col("media_id").alias("z"),
        "mean_intensity",
        "min_intensity",
        "max_intensity",
    )


@register(
    "scan_jpeg_arith",
    "A1+K4",
    driver=False,  # the external driver set is frozen at 50
    oracle="""
SELECT z,
       AVG(v) AS mean_intensity,
       CAST(MIN(v) AS INTEGER) AS min_intensity,
       CAST(MAX(v) AS INTEGER) AS max_intensity
FROM (
  SELECT t1.range AS z, (11 * (t1.range + 1) * (t2.range + 3)) % 256 AS v
  FROM range(4) t1, range(4) t2
)
GROUP BY z
""",
)
def scan_jpeg_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 ARITHMETIC-coded JPEG (T.81 SOF9) over REAL containers,
    oracle-exact despite JPEG being lossy: each file is a 16x16
    grayscale frame of four constant 8x8 blocks v = (11*(z+1)*(b+3))
    mod 256 — a constant block survives DCT/quantize(q=1)/IDCT
    bit-perfectly (DC-only, zero ACs), so the decoded pixels equal
    the closed-form DuckDB values exactly. The QM entropy layer
    (sources/jpeg_arith.py) is additionally pinned bit-for-bit
    against libjpeg by tests/test_jpeg_arith.py; this query proves
    the Spark plumbing: binaryFile scan -> executor arithmetic decode
    -> intensity accounting."""
    import tempfile

    import numpy as np

    from hortacloud_importer_spark.operators.multimodal import media_features
    from hortacloud_importer_spark.sources.jpeg_arith import encode_jpeg_arith

    workdir = tempfile.mkdtemp(prefix="jpeg_arith_")
    for z in range(4):
        b = np.arange(4, dtype=np.int64)
        vals = ((11 * (z + 1) * (b + 3)) % 256).astype(np.uint8)
        img = np.zeros((16, 16), dtype=np.uint8)
        for i in range(2):
            for j in range(2):
                img[8 * i : 8 * i + 8, 8 * j : 8 * j + 8] = vals[2 * i + j]
        with open(f"{workdir}/doc.{z:03d}.jpg", "wb") as fh:
            fh.write(encode_jpeg_arith(img, restart_interval=2))
    media = (
        spark.read.format("binaryFile")
        .load(f"file://{workdir}/*.jpg")
        .select(
            F.regexp_extract(F.col("path"), r"\.(\d{3})\.jpg$", 1)
            .cast("long")
            .alias("media_id"),
            F.lit("image").alias("kind"),
            F.lit("jpeg").alias("format"),
            F.col("content").alias("payload"),
            F.expr(
                "named_struct('height', 16, 'width', 16, 'channels', 1,"
                " 'sample_rate', 0, 'n_frames', 1)"
            ).alias("meta"),
        )
    )
    return media_features(media).select(
        F.col("media_id").alias("z"),
        "mean_intensity",
        "min_intensity",
        "max_intensity",
    )


@register(
    "scan_tga_media",
    "A1+K4",
    driver=False,  # the external driver set is frozen at 50
    oracle="""
SELECT z, AVG(v) AS mean_val,
       CAST(MIN(v) AS INTEGER) AS min_val,
       CAST(MAX(v) AS INTEGER) AS max_val
FROM (
  SELECT t1.range AS z,
         (t2.range * (t1.range + 1) * 23) % 256 AS v
  FROM range(4) t1, range(768) t2
)
GROUP BY z
""",
)
def scan_tga_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 TARGA over REAL containers, oracle-exact: four 16x16 RGB
    TGAs (value = (k*(z+1)*23) mod 256 for the k-th RGB byte), two
    RLE-compressed and one top-down, decoded through the executor
    media kernel against the closed-form DuckDB formula — BGR order,
    RLE packet, and row-order bugs all break the hash."""
    import tempfile

    import numpy as np

    from hortacloud_importer_spark.operators.multimodal import media_features
    from hortacloud_importer_spark.sources.tga import encode_tga

    workdir = tempfile.mkdtemp(prefix="tga_media_")
    for z in range(4):
        k = np.arange(768, dtype=np.int64)
        img = ((k * (z + 1) * 23) % 256).astype(np.uint8).reshape(16, 16, 3)
        with open(f"{workdir}/tex.{z:03d}.tga", "wb") as fh:
            fh.write(encode_tga(img, rle=(z % 2 == 0), top_down=(z == 1)))
    media = (
        spark.read.format("binaryFile")
        .load(f"file://{workdir}/*.tga")
        .select(
            F.regexp_extract(F.col("path"), r"\.(\d{3})\.tga$", 1)
            .cast("long")
            .alias("media_id"),
            F.lit("image").alias("kind"),
            F.lit("tga").alias("format"),
            F.col("content").alias("payload"),
            F.expr(
                "named_struct('height', 16, 'width', 16, 'channels', 3,"
                " 'sample_rate', 0, 'n_frames', 1)"
            ).alias("meta"),
        )
    )
    return media_features(media).select(
        F.col("media_id").alias("z"),
        F.col("mean_intensity").alias("mean_val"),
        F.col("min_intensity").alias("min_val"),
        F.col("max_intensity").alias("max_val"),
    )


@register(
    "scan_avi_frames",
    "A1+K4+J4",
    driver=False,  # the external driver set is frozen at 50
    oracle="""
SELECT z, f, AVG(v) AS mean_val,
       CAST(MIN(v) AS INTEGER) AS min_val,
       CAST(MAX(v) AS INTEGER) AS max_val
FROM (
  SELECT t1.range AS z, t2.range AS f,
         ((t2.range * 256 + t3.range) * (t1.range + 1) * 13) % 256 AS v
  FROM range(4) t1, range(0, 3, 2) t2, range(256) t3
)
GROUP BY z, f
""",
)
def scan_avi_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 video over REAL AVI containers, oracle-exact, through the
    1->N frame-sampling UDTF (J4): four 3-frame RIFF/AVI files with
    uncompressed gray DIB frames (pixel value = ((f*256 + t)*(z+1)*13)
    mod 256 for t = row*16 + col) are written by the clean-room
    encoder, ingested via binaryFile, frame-sampled at stride 2
    (frames 0 and 2), and each sampled frame reduced by the media
    kernel. The gray palette replicates values across RGB so
    mean/min/max equal the index-level stats, and the DuckDB oracle
    regenerates the formula over exactly the sampled frames — a RIFF
    chunk-walk, DIB row-order/stride, palette, or sampling-stride bug
    all break the hash."""
    import tempfile

    import numpy as np

    from hortacloud_importer_spark.operators.multimodal import (
        media_features,
        sample_frames,
    )
    from hortacloud_importer_spark.sources.avi import encode_avi

    workdir = tempfile.mkdtemp(prefix="avi_frames_")
    for z in range(4):
        t = np.arange(3 * 256, dtype=np.int64)
        frames = ((t * (z + 1) * 13) % 256).astype(np.uint8).reshape(3, 16, 16)
        with open(f"{workdir}/clip.{z:03d}.avi", "wb") as fh:
            fh.write(encode_avi(frames, codec="DIB"))
    media = (
        spark.read.format("binaryFile")
        .load(f"file://{workdir}/*.avi")
        .select(
            F.regexp_extract(F.col("path"), r"\.(\d{3})\.avi$", 1)
            .cast("long")
            .alias("media_id"),
            F.lit("video").alias("kind"),
            F.lit("avi").alias("format"),
            F.col("content").alias("payload"),
            F.expr(
                "named_struct('height', 16, 'width', 16, 'channels', 3,"
                " 'sample_rate', 0, 'n_frames', 3)"
            ).alias("meta"),
        )
    )
    # sample_frames re-keys each frame as media_id*1000 + frame_index
    return media_features(sample_frames(media, 2)).select(
        (F.col("media_id") / 1000).cast("long").alias("z"),
        (F.col("media_id") % 1000).alias("f"),
        F.col("mean_intensity").alias("mean_val"),
        F.col("min_intensity").alias("min_val"),
        F.col("max_intensity").alias("max_val"),
    )


@register(
    "scan_n5_datasource",
    "A1+A3+A4",
    oracle="""
SELECT t1.range AS z, t2.range AS y, t3.range AS x,
       (7 * (t1.range * 35 + t2.range * 7 + t3.range)) % 65521 AS intensity
FROM range(2, 6) t1, range(5) t2, range(7) t3
WHERE t3.range < 4
""",
)
def scan_n5_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A3 through the Spark-4 Python DataSource front door
    (sources/datasource.py), oracle-exact: a deterministic gzip N5
    store (intensity = 7*(z*dy*dx + y*dx + x) mod 65521, dims 6x5x7,
    4^3 blocks) is written, then read with
    ``spark.read.format("n5_volume")`` under a z/x range filter — the
    pushed filters prune chunk partitions at planning time (the A4
    windowed-read dual of get_cropped_image_rasterio,
    tiff2octree.py:281-292) and Spark re-applies them row-level, so
    the result is exact regardless of pruning."""
    import gzip
    import json
    import tempfile

    import numpy as np

    from hortacloud_importer_spark.sources.datasource import (
        register_volume_sources,
    )

    register_volume_sources(spark)
    dz, dy, dx = 6, 5, 7
    bx = by = bz = 4
    vol = ((np.arange(dz * dy * dx).reshape(dz, dy, dx) * 7) % 65521).astype(
        np.uint16
    )
    root = tempfile.mkdtemp(prefix="n5_ds_") + "/vol.n5"
    import os

    os.makedirs(root)
    with open(f"{root}/attributes.json", "w") as fh:
        json.dump(
            {
                "dimensions": [dx, dy, dz],
                "blockSize": [bx, by, bz],
                "dataType": "uint16",
                "compression": {"type": "gzip"},
            },
            fh,
        )
    for gz_i in range((dz + bz - 1) // bz):
        for gy in range((dy + by - 1) // by):
            for gx in range((dx + bx - 1) // bx):
                blk = vol[
                    gz_i * bz : (gz_i + 1) * bz,
                    gy * by : (gy + 1) * by,
                    gx * bx : (gx + 1) * bx,
                ]
                cz, cy, cx = blk.shape
                header = (
                    (0).to_bytes(2, "big")
                    + (3).to_bytes(2, "big")
                    + cx.to_bytes(4, "big")
                    + cy.to_bytes(4, "big")
                    + cz.to_bytes(4, "big")
                )
                os.makedirs(f"{root}/{gx}/{gy}", exist_ok=True)
                with open(f"{root}/{gx}/{gy}/{gz_i}", "wb") as fh:
                    fh.write(header + gzip.compress(blk.astype(">u2").tobytes()))
    return (
        spark.read.format("n5_volume")
        .load(root)
        .filter((F.col("z") >= 2) & (F.col("x") < 4))
    )


@register(
    "vol_n5_throughput",
    "A1+A3",
    driver=False,
    oracle="""
SELECT CAST(z//32 AS INTEGER) AS gz, CAST(y//32 AS INTEGER) AS gy,
       CAST(x//32 AS INTEGER) AS gx,
       COUNT(*) AS n_vox,
       CAST(SUM(intensity) AS BIGINT) AS sum_i,
       CAST(MAX(intensity) AS BIGINT) AS max_i
FROM (
  SELECT t1.range AS z, t2.range AS y, t3.range AS x,
         ((t1.range*9216 + t2.range*96 + t3.range)*7) % 65521 AS intensity
  FROM range(96) t1, range(96) t2, range(96) t3
)
GROUP BY 1, 2, 3
""",
)
def vol_n5_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-throughput probe for the n5_volume DataSource, now
    ORACLE-EXACT: a 96^3 (884k-voxel) raw N5 store in 32^3 chunks
    (27 chunk files, built once per machine under /tmp, keyed by
    content params, intensity = 7*(z*96^2 + y*96 + x) mod 65521) is
    read through spark.read.format("n5_volume") and reduced to
    per-chunk stats. Measures the full front-door pipeline: driver
    chunk planning -> executor pyarrow.fs reads -> NumPy decode ->
    Arrow batches -> JVM aggregate — and because the store contents
    are a closed-form lattice, DuckDB recomputes every per-chunk
    count/sum/max from the formula: a chunk-grid, header-parse, or
    byte-order bug anywhere in the N5 read path breaks the hash."""
    import os

    import numpy as np

    dim, blk = 96, 32
    root = f"/tmp/spark_graft_n5_bench_{dim}_{blk}/vol.n5"
    if not os.path.exists(f"{root}/attributes.json"):
        import json

        vol = ((np.arange(dim**3).reshape(dim, dim, dim) * 7) % 65521).astype(
            np.uint16
        )
        os.makedirs(root, exist_ok=True)
        with open(f"{root}/attributes.json", "w") as fh:
            json.dump(
                {
                    "dimensions": [dim] * 3,
                    "blockSize": [blk] * 3,
                    "dataType": "uint16",
                    "compression": {"type": "raw"},
                },
                fh,
            )
        n = dim // blk
        hdr = (
            (0).to_bytes(2, "big")
            + (3).to_bytes(2, "big")
            + blk.to_bytes(4, "big") * 3
        )
        for gz_i in range(n):
            for gy in range(n):
                for gx in range(n):
                    cut = vol[
                        gz_i * blk : (gz_i + 1) * blk,
                        gy * blk : (gy + 1) * blk,
                        gx * blk : (gx + 1) * blk,
                    ]
                    os.makedirs(f"{root}/{gx}/{gy}", exist_ok=True)
                    with open(f"{root}/{gx}/{gy}/{gz_i}", "wb") as fh:
                        fh.write(hdr + cut.astype(">u2").tobytes())

    from hortacloud_importer_spark.sources.datasource import (
        register_volume_sources,
    )

    register_volume_sources(spark)
    vox = (
        spark.read.format("n5_volume")
        # chunk-per-task so the 27 decodes spread across the executors
        .option("target_partition_bytes", blk**3 * 2)
        .load(root)
    )
    return (
        vox.groupBy(
            (F.col("z") / blk).cast("int").alias("gz"),
            (F.col("y") / blk).cast("int").alias("gy"),
            (F.col("x") / blk).cast("int").alias("gx"),
        )
        .agg(
            F.count("*").alias("n_vox"),
            F.sum("intensity").alias("sum_i"),
            F.max("intensity").alias("max_i"),
        )
    )


@register(
    "scan_zarr_blosc",
    "A1+A3",
    oracle="""
SELECT t1.range AS z, t2.range AS y, t3.range AS x,
       (11 * (t1.range * 30 + t2.range * 6 + t3.range)) % 65521 AS intensity
FROM range(5) t1, range(5) t2, range(6) t3
WHERE t1.range >= 1 AND t2.range < 4
""",
    # local registry: the external driver window is frozen at 50
    # (A3 is driver-covered by scan_n5_datasource); the oracle still
    # runs under tests/test_oracle.py + tools/check_oracle.py
    driver=False,
)
def scan_zarr_blosc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 with Zarr's DEFAULT compressor: a deterministic Zarr-v2
    store (intensity = 11*(z*dy*dx + y*dx + x) mod 65521, dims 5x5x6,
    4^3 chunks) is written with blosc-lz4 + byte shuffle — the
    numcodecs default real-world stores carry — through the
    clean-room c-blosc1 container writer (sources/codecs.py), then
    read back via ``spark.read.format("zarr_volume")`` under a z/y
    window. Proves the codec matrix end-to-end at the driver level:
    blosc header parse, split-stream lz4 decode, per-block byte
    unshuffle, edge-chunk clipping."""
    return _zarr_blosc_query(spark, cname="lz4", shuffle=1)


@register(
    "scan_zarr_blosclz",
    "A1+A3",
    oracle="""
SELECT t1.range AS z, t2.range AS y, t3.range AS x,
       (11 * (t1.range * 30 + t2.range * 6 + t3.range)) % 65521 AS intensity
FROM range(5) t1, range(5) t2, range(6) t3
WHERE t1.range >= 1 AND t2.range < 4
""",
    driver=False,
)
def scan_zarr_blosclz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3, same window and oracle as ``scan_zarr_blosc`` but the
    store is written with blosc's OTHER default — the built-in
    blosclz codec (``cname="blosclz"``) under the bit-shuffle filter
    (``shuffle=2``) — exercising the clean-room FastLZ-family decoder
    and the vectorized bit-matrix transpose end-to-end."""
    return _zarr_blosc_query(spark, cname="blosclz", shuffle=2)


def _zarr_blosc_query(
    spark: SparkSession, cname: str, shuffle: int
) -> DataFrame:
    import json
    import os
    import tempfile

    import numpy as np

    from hortacloud_importer_spark.sources.codecs import blosc_compress
    from hortacloud_importer_spark.sources.datasource import (
        register_volume_sources,
    )

    register_volume_sources(spark)
    dz, dy, dx = 5, 5, 6
    cz = cy = cx = 4
    vol = ((np.arange(dz * dy * dx).reshape(dz, dy, dx) * 11) % 65521).astype(
        "<u2"
    )
    root = tempfile.mkdtemp(prefix="zarr_blosc_") + "/arr.zarr"
    os.makedirs(root)
    with open(f"{root}/.zarray", "w") as fh:
        json.dump(
            {
                "zarr_format": 2,
                "shape": [dz, dy, dx],
                "chunks": [cz, cy, cx],
                "dtype": "<u2",
                "compressor": {
                    "id": "blosc",
                    "cname": cname,
                    "clevel": 5,
                    "shuffle": shuffle,
                    "blocksize": 0,
                },
                "order": "C",
                "fill_value": 0,
                "filters": None,
            },
            fh,
        )
    # numcodecs shuffle enum: 0 = none, 1 = byte, 2 = bit
    shuffle_arg: bool | str = {0: False, 1: True, 2: "bit"}[shuffle]
    for gz_i in range((dz + cz - 1) // cz):
        for gy in range((dy + cy - 1) // cy):
            for gx in range((dx + cx - 1) // cx):
                full = np.zeros((cz, cy, cx), dtype="<u2")
                blk = vol[
                    gz_i * cz : (gz_i + 1) * cz,
                    gy * cy : (gy + 1) * cy,
                    gx * cx : (gx + 1) * cx,
                ]
                full[: blk.shape[0], : blk.shape[1], : blk.shape[2]] = blk
                with open(f"{root}/{gz_i}.{gy}.{gx}", "wb") as fh:
                    fh.write(
                        blosc_compress(
                            full.tobytes(),
                            typesize=2,
                            cname=cname,
                            shuffle=shuffle_arg,
                        )
                    )
    return (
        spark.read.format("zarr_volume")
        .load(root)
        .filter((F.col("z") >= 1) & (F.col("y") < 4))
    )


@register(
    "scan_flac_stack",
    "A1+K4",
    driver=False,  # the external driver set is frozen at 50
    oracle="""
SELECT z,
       AVG(v) AS mean_amplitude,
       CAST(MIN(v) AS INTEGER) AS min_amplitude,
       CAST(MAX(v) AS INTEGER) AS max_amplitude
FROM (
  SELECT t1.range AS z,
         ((t2.range * (t1.range + 1) * 53) % 4001) - 2000 AS v
  FROM range(4) t1, range(256) t2
  UNION ALL
  SELECT t1.range AS z,
         ((t2.range * (t1.range + 3) * 29) % 4001) - 2000 AS v
  FROM range(4) t1, range(256) t2
)
GROUP BY z
""",
)
def scan_flac_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 compressed audio over REAL FLAC containers, oracle-exact
    because FLAC is lossless: four stereo 16-bit files with
    left = ((i*(z+1)*53) mod 4001) - 2000 and
    right = ((i*(z+3)*29) mod 4001) - 2000 are written by the
    clean-room encoder (sources/flac.py) under MID/SIDE decorrelation
    with 192-sample blocks (so each file carries two frames and the
    stereo reconstruction runs end to end), ingested via binaryFile,
    and decoded through the executor media kernel — Rice residuals,
    CRC-8/16, and the STREAMINFO MD5 all verify in-path. AVG over 512
    samples is sum/2^9, bit-exact in both engines."""
    import tempfile

    import numpy as np

    from hortacloud_importer_spark.operators.multimodal import media_features
    from hortacloud_importer_spark.sources.flac import encode_flac

    workdir = tempfile.mkdtemp(prefix="flac_stack_")
    i = np.arange(256, dtype=np.int64)
    for z in range(4):
        left = (i * (z + 1) * 53) % 4001 - 2000
        right = (i * (z + 3) * 29) % 4001 - 2000
        with open(f"{workdir}/clip.{z:03d}.flac", "wb") as fh:
            fh.write(
                encode_flac(
                    np.stack([left, right], axis=1),
                    rate=16000,
                    bits=16,
                    block_size=192,
                    stereo="mid_side",
                )
            )
    media = (
        spark.read.format("binaryFile")
        .load(f"file://{workdir}/*.flac")
        .select(
            F.regexp_extract(F.col("path"), r"\.(\d{3})\.flac$", 1)
            .cast("long")
            .alias("media_id"),
            F.lit("audio").alias("kind"),
            F.lit("flac").alias("format"),
            F.col("content").alias("payload"),
            F.expr(
                "named_struct('height', 1, 'width', 256, 'channels', 2,"
                " 'sample_rate', 16000, 'n_frames', 1)"
            ).alias("meta"),
        )
    )
    return media_features(media).select(
        F.col("media_id").alias("z"),
        F.col("mean_intensity").alias("mean_amplitude"),
        F.col("min_intensity").alias("min_amplitude"),
        F.col("max_intensity").alias("max_amplitude"),
    )


@register(
    "scan_jpeg_lossless",
    "A1+K4",
    driver=False,  # the external driver set is frozen at 50
    oracle="""
SELECT z,
       AVG(v) AS mean_intensity,
       CAST(MIN(v) AS INTEGER) AS min_intensity,
       CAST(MAX(v) AS INTEGER) AS max_intensity
FROM (
  SELECT t1.range AS z, (t2.range * (t1.range + 2) * 31) % 4096 AS v
  FROM range(4) t1, range(256) t2
)
GROUP BY z
""",
)
def scan_jpeg_lossless(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 LOSSLESS JPEG (SOF3, T.81 Annex H) over REAL streams,
    oracle-exact because the DPCM chain is lossless: four 12-bit
    16x16 grayscale files with v = (i*(z+2)*31) mod 4096, each under
    a DIFFERENT spatial predictor (1, 4, 7, 2), ingested via
    binaryFile and decoded through the executor media kernel. AVG
    over 256 samples is sum/2^8 — bit-exact in both engines, so a
    predictor, modulo-arithmetic, or category decode bug anywhere in
    the Annex-H path breaks the hash."""
    import tempfile

    import numpy as np

    from hortacloud_importer_spark.operators.multimodal import media_features
    from hortacloud_importer_spark.sources.jpeg import encode_jpeg_lossless

    workdir = tempfile.mkdtemp(prefix="jpegll_stack_")
    preds = [1, 4, 7, 2]
    i = np.arange(256, dtype=np.int64)
    for z in range(4):
        v = ((i * (z + 2) * 31) % 4096).reshape(16, 16).astype(np.uint16)
        with open(f"{workdir}/pic.{z:03d}.jls", "wb") as fh:
            fh.write(
                encode_jpeg_lossless(v, predictor=preds[z], precision=12)
            )
    media = (
        spark.read.format("binaryFile")
        .load(f"file://{workdir}/*.jls")
        .select(
            F.regexp_extract(F.col("path"), r"\.(\d{3})\.jls$", 1)
            .cast("long")
            .alias("media_id"),
            F.lit("image").alias("kind"),
            F.lit("jpeg").alias("format"),
            F.col("content").alias("payload"),
            F.expr(
                "named_struct('height', 16, 'width', 16, 'channels', 1,"
                " 'sample_rate', 0, 'n_frames', 1)"
            ).alias("meta"),
        )
    )
    return media_features(media).select(
        F.col("media_id").alias("z"),
        "mean_intensity",
        "min_intensity",
        "max_intensity",
    )


@register(
    "scan_mp4_frames",
    "A1+K4+J4",
    driver=False,  # the external driver set is frozen at 50
    oracle="""
SELECT z, f, AVG(v) AS mean_val,
       CAST(MIN(v) AS INTEGER) AS min_val,
       CAST(MAX(v) AS INTEGER) AS max_val
FROM (
  SELECT t1.range AS z, t2.range AS f,
         ((t2.range * 4 + t3.range) * (t1.range + 2) * 19) % 256 AS v
  FROM range(4) t1, range(0, 3, 2) t2, range(4) t3
)
GROUP BY z, f
""",
)
def scan_mp4_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 video over REAL MP4 containers, oracle-exact, through the
    1->N frame-sampling UDTF (J4): four 3-frame MJPEG-in-MP4 files —
    every sample a complete T.81 stream whose 16x16 gray frame holds
    per-8x8-block CONSTANTS v = ((f*4 + b)*(z+2)*19) mod 256, which
    survive the flat-quant DCT chain bit-exactly (a constant block is
    DC-only) — are enumerated via the sample table
    (sources/isobmff.py isobmff_frame_index + stsd codec dispatch),
    frame-sampled at stride 2, and each sampled frame reduced by the
    media kernel. AVG over four block constants is sum/4 (exact in
    doubles); a sample-table offset, stsd dispatch, or stride bug
    breaks the hash."""
    import struct
    import tempfile

    import numpy as np

    from hortacloud_importer_spark.operators.multimodal import (
        media_features,
        sample_frames,
    )
    from hortacloud_importer_spark.sources.jpeg import encode_jpeg

    def u32s(*vals):
        return b"".join(struct.pack(">I", v) for v in vals)

    def _box(t, p=b""):
        return struct.pack(">I", len(p) + 8) + t + p

    def _full(t, p):
        return _box(t, b"\x00" * 4 + p)

    def mjpeg_mp4(payloads):
        entry = (
            struct.pack(">I", 86) + b"jpeg" + b"\x00" * 6
            + b"\x00\x01" + bytes(70)
        )
        sizes = [len(p) for p in payloads]

        def moov(mdat0):
            stbl = (
                _full(b"stsd", u32s(1) + entry)
                + _full(b"stts", u32s(1, len(payloads), 100))
                + _full(b"stsc", u32s(1, 1, len(payloads), 1))
                + _full(b"stsz", u32s(0, len(payloads), *sizes))
                + _full(b"stco", u32s(1, mdat0))
            )
            return _box(
                b"moov",
                _box(
                    b"trak",
                    _full(
                        b"tkhd",
                        struct.pack(">III", 0, 0, 1) + b"\x00" * 60
                        + struct.pack(">II", 16 << 16, 16 << 16),
                    )
                    + _box(
                        b"mdia",
                        _full(
                            b"mdhd",
                            struct.pack(">IIII", 0, 0, 3000, 0) + b"\x00" * 4,
                        )
                        + _box(b"minf", _box(b"stbl", stbl)),
                    ),
                ),
            )

        ft = _box(b"ftyp", b"isom\x00\x00\x00\x00mp42")
        mdat0 = len(ft) + len(moov(0)) + 8
        return ft + moov(mdat0) + _box(b"mdat", b"".join(payloads))

    workdir = tempfile.mkdtemp(prefix="mp4_frames_")
    for z in range(4):
        payloads = []
        for f in range(3):
            frame = np.zeros((16, 16), np.uint8)
            for b in range(4):
                v = ((f * 4 + b) * (z + 2) * 19) % 256
                by, bx = divmod(b, 2)
                frame[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = v
            payloads.append(encode_jpeg(frame))
        with open(f"{workdir}/vid.{z:03d}.mp4", "wb") as fh:
            fh.write(mjpeg_mp4(payloads))
    media = (
        spark.read.format("binaryFile")
        .load(f"file://{workdir}/*.mp4")
        .select(
            F.regexp_extract(F.col("path"), r"\.(\d{3})\.mp4$", 1)
            .cast("long")
            .alias("media_id"),
            F.lit("video").alias("kind"),
            F.lit("mp4").alias("format"),
            F.col("content").alias("payload"),
            F.expr(
                "named_struct('height', 16, 'width', 16, 'channels', 1,"
                " 'sample_rate', 0, 'n_frames', 3)"
            ).alias("meta"),
        )
    )
    sampled = sample_frames(media, stride=2)
    return media_features(sampled).select(
        (F.col("media_id") / 1000).cast("long").alias("z"),
        (F.col("media_id") % 1000).cast("long").alias("f"),
        F.col("mean_intensity").alias("mean_val"),
        F.col("min_intensity").alias("min_val"),
        F.col("max_intensity").alias("max_val"),
    )


@register(
    "scan_ogg_stack",
    "A1+K4",
    driver=False,  # the external driver set is frozen at 50
    oracle="""
SELECT z,
       AVG(v) AS mean_amplitude,
       CAST(MIN(v) AS INTEGER) AS min_amplitude,
       CAST(MAX(v) AS INTEGER) AS max_amplitude
FROM (
  SELECT t1.range AS z,
         ((t2.range * (t1.range + 2) * 41) % 4001) - 2000 AS v
  FROM range(4) t1, range(256) t2
  UNION ALL
  SELECT t1.range AS z,
         ((t2.range * (t1.range + 5) * 23) % 4001) - 2000 AS v
  FROM range(4) t1, range(256) t2
)
GROUP BY z
""",
)
def scan_ogg_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 Ogg containers over REAL FLAC-in-Ogg streams, oracle-exact
    because the payload codec is lossless: four stereo 16-bit files
    with left = ((i*(z+2)*41) mod 4001) - 2000 and
    right = ((i*(z+5)*23) mod 4001) - 2000 are encoded by the
    clean-room FLAC encoder, wrapped in the Ogg FLAC mapping
    (sources/ogg.py encode_ogg_flac: one packet per metadata block /
    frame, sample granule positions, page CRCs), ingested via
    binaryFile, and decoded through the executor media kernel — the
    page walk, lacing reassembly, CRC-32 verification, and native
    stream reconstruction all run in-path before the FLAC chain
    (Rice residuals, CRC-8/16, STREAMINFO MD5) verifies the samples.
    AVG over 512 samples is sum/2^9, bit-exact in both engines.

    Vorbis/Opus payloads stay honest named gates (decode needs a codec
    binding); their header metadata is covered oracle-exact by
    mm_probe (queries/multimodal.py)."""
    import tempfile

    import numpy as np

    from hortacloud_importer_spark.operators.multimodal import media_features
    from hortacloud_importer_spark.sources.flac import encode_flac
    from hortacloud_importer_spark.sources.ogg import encode_ogg_flac

    workdir = tempfile.mkdtemp(prefix="ogg_stack_")
    i = np.arange(256, dtype=np.int64)
    for z in range(4):
        left = (i * (z + 2) * 41) % 4001 - 2000
        right = (i * (z + 5) * 23) % 4001 - 2000
        native = encode_flac(
            np.stack([left, right], axis=1),
            rate=16000,
            bits=16,
            block_size=128,
            stereo="mid_side",
        )
        with open(f"{workdir}/clip.{z:03d}.oga", "wb") as fh:
            fh.write(encode_ogg_flac(native))
    media = (
        spark.read.format("binaryFile")
        .load(f"file://{workdir}/*.oga")
        .select(
            F.regexp_extract(F.col("path"), r"\.(\d{3})\.oga$", 1)
            .cast("long")
            .alias("media_id"),
            F.lit("audio").alias("kind"),
            F.lit("ogg").alias("format"),
            F.col("content").alias("payload"),
            F.expr(
                "named_struct('height', 1, 'width', 256, 'channels', 2,"
                " 'sample_rate', 16000, 'n_frames', 1)"
            ).alias("meta"),
        )
    )
    return media_features(media).select(
        F.col("media_id").alias("z"),
        F.col("mean_intensity").alias("mean_amplitude"),
        F.col("min_intensity").alias("min_amplitude"),
        F.col("max_intensity").alias("max_amplitude"),
    )
