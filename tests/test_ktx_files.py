"""A8/A9 file round trip: ``tiff_octree_to_ktx`` writes on executors
-> binaryFile scan -> decode; plus I4 late-data watermark behavior."""

from __future__ import annotations

import glob

import numpy as np
from pyarrow import fs as pafs
from pyspark.sql import functions as F

from hortacloud_importer_spark.pipelines import build_octree, tiff_octree_to_ktx
from hortacloud_importer_spark.sources import manifest
from hortacloud_importer_spark.sources.ktx import ktx_decode_blocks
from hortacloud_importer_spark.volume import synthetic_volume


def _write_ktx(spark, v, tmp_path, out):
    """A one-block octree store of ``v`` (4^3, root only), converted by
    the KTX pass (executor writes, one manifest shard per commit)."""
    store = str(tmp_path / "octree")
    build_octree(spark, v, store, nlevels=1, filter_="max", dims=(4, 4, 4))
    tiff_octree_to_ktx(spark, store, out, (4, 4, 4), 1, with_metadata=False)


def test_ktx_file_sink_and_binary_source(spark, tmp_path):
    out = str(tmp_path / "ktx_out")
    v = synthetic_volume(spark, 4, 4, 4, channels=2)
    _write_ktx(spark, v, tmp_path, out)

    files = sorted(glob.glob(f"{out}/*.ktx"))
    assert len(files) == 2
    assert {f.rsplit("/", 1)[1] for f in files} == {
        "block_0_0_0_ch0.ktx",
        "block_0_0_0_ch1.ktx",
    }
    # A9: binaryFile scan + decode recovers the payload
    bin_df = (
        spark.read.format("binaryFile")
        .load(f"{out}/*.ktx")
        .select(F.col("content").alias("ktx"))
    )
    decoded = ktx_decode_blocks(bin_df)
    want = {
        (r["channel"], r["z"], r["y"], r["x"]): r["intensity"] for r in v.collect()
    }
    for r in decoded.filter(F.col("level") == 0).collect():
        arr = np.array(r["voxels"]).reshape(4, 4, 4)
        for z in range(4):
            for y in range(4):
                for x in range(4):
                    assert arr[z, y, x] == want[(r["channel"], z, y, x)]


def test_watermark_drops_late_data(spark, tmp_path):
    """I4: with a 10-minute watermark, an event arriving in a later
    micro-batch but timestamped far before the advanced watermark is
    dropped from its (already-finalized) window in append mode."""
    import time

    from hortacloud_importer_spark.streaming.windows import tumbling_agg

    indir = tmp_path / "late"
    indir.mkdir()
    schema = "ts timestamp, value double"
    base = "2024-01-01 "

    def write(name, rows):
        spark.createDataFrame(rows, "ts string, value double").select(
            F.col("ts").cast("timestamp"), "value"
        ).coalesce(1).write.parquet(str(indir / name))

    def rows_seen(q):
        return sum(p.numInputRows for p in q.recentProgress)

    # batch 1 on-time data first; the late file is written only AFTER
    # the stream has processed it (file mod-time ordering alone is racy)
    write("a", [(f"{base}10:15:00", 1.0), (f"{base}12:00:00", 1.0)])
    stream = spark.readStream.schema(schema).parquet(str(indir / "*"))
    q = (
        tumbling_agg(stream, "1 hour", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("late_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    deadline = time.time() + 60
    while rows_seen(q) < 2 and time.time() < deadline:
        time.sleep(0.3)
    assert rows_seen(q) == 2
    # 10:20 is > 1h older than the 12:00 max -> beyond the watermark
    write("b", [(f"{base}10:20:00", 100.0)])
    while rows_seen(q) < 3 and time.time() < deadline:
        time.sleep(0.3)
    assert rows_seen(q) == 3
    # let emission catch up, then stop
    time.sleep(2)
    q.stop()
    q.awaitTermination(30)
    rows = {
        r["win"]["start"].isoformat(): (r["n"], r["total"])
        for r in spark.sql("SELECT * FROM late_out").collect()
    }
    # the 10:00 window was finalized with only the on-time event; the
    # late 100.0 never appears
    assert rows.get("2024-01-01T10:00:00") == (1, 1.0), rows
    assert all(total != 100.0 and total != 101.0 for _, total in rows.values())


def test_ktx_file_sink_via_uri(spark, tmp_path):
    """The sink resolves paths through pyarrow.fs.FileSystem.from_uri,
    so a file:// URI (the local stand-in for hdfs://, s3://) writes
    the same blobs as a bare path, and commits them."""
    out = str(tmp_path / "ktx_uri_out")
    v = synthetic_volume(spark, 4, 4, 4, channels=1)
    _write_ktx(spark, v, tmp_path, f"file://{out}")

    files = sorted(glob.glob(f"{out}/*.ktx"))
    assert [f.rsplit("/", 1)[1] for f in files] == ["block_0_0_0_ch0.ktx"]
    assert manifest.committed_files(pafs.LocalFileSystem(), out) == {
        "block_0_0_0_ch0.ktx"
    }
    bin_df = (
        spark.read.format("binaryFile")
        .load(f"{out}/*.ktx")
        .select(F.col("content").alias("ktx"))
    )
    assert ktx_decode_blocks(bin_df).count() == 1
