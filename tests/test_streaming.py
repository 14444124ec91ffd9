"""Streaming cascade: kernel vs batch pyramid, stateful streaming E2E,
watermarked window parity with batch duals."""

from __future__ import annotations

import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from hortacloud_importer_spark.streaming.cascade import (
    MipmapCascade,
    streaming_cascade,
)
from hortacloud_importer_spark.streaming.windows import tumbling_agg

from tests.test_volume import np_downsample, random_vol


def _np_pyramid(vol, filter_):
    levels = {0: vol}
    lv = 0
    while max(vol.shape) > 1:
        vol = np_downsample(vol, filter_)
        lv += 1
        levels[lv] = vol
    return levels


@pytest.mark.parametrize("dims", [(8, 8, 8), (9, 6, 5), (5, 5, 5), (4, 4, 1)])
@pytest.mark.parametrize("filter_", ["mean", "max", "arthur"])
def test_cascade_kernel_matches_batch_pyramid(dims, filter_):
    vol = random_vol(dims)
    want = _np_pyramid(vol.copy(), filter_)
    cascade = MipmapCascade(dims, filter_)
    got: dict[tuple[int, int], np.ndarray] = {}
    for z in range(dims[0]):
        for level, cz, daughter in cascade.feed(z, vol[z].astype(np.int64)):
            got[(level, cz)] = daughter
    for lv in range(1, len(want)):
        for cz in range(want[lv].shape[0]):
            assert (lv, cz) in got, f"level {lv} slice {cz} never emitted"
            assert np.array_equal(got[(lv, cz)], want[lv][cz]), (lv, cz)


def test_streaming_cascade_e2e(spark, tmp_path):
    """applyInPandasWithState across >= 2 micro-batches: state carries
    partial level buffers between batches; results match the kernel."""
    dims = (8, 4, 4)
    vol = random_vol(dims)
    indir = tmp_path / "slices"
    indir.mkdir()
    schema = (
        "zi int, yi int, xi int, channel int, z int,"
        " height int, width int, voxels array<long>"
    )

    def rows(z0, z1):
        return [
            (0, 0, 0, 0, z, dims[1], dims[2], [int(v) for v in vol[z].ravel()])
            for z in range(z0, z1)
        ]

    # two micro-batches, deterministically sequenced: the second file
    # is written only after the stream has consumed the first (mod-time
    # ordering across files written close together is racy)
    spark.createDataFrame(rows(0, 4), schema).coalesce(1).write.parquet(
        str(indir / "a")
    )
    stream = spark.readStream.schema(schema).parquet(str(indir / "*"))
    out = streaming_cascade(stream, dims, "arthur")
    q = (
        out.writeStream.format("memory")
        .queryName("cascade_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )

    def rows_seen():
        return sum(p.numInputRows for p in q.recentProgress)

    deadline = time.time() + 90
    while rows_seen() < 4 and time.time() < deadline:
        time.sleep(0.3)
    assert rows_seen() == 4, "first batch not consumed"
    spark.createDataFrame(rows(4, 8), schema).coalesce(1).write.parquet(
        str(indir / "b")
    )
    while rows_seen() < 8 and time.time() < deadline:
        time.sleep(0.3)
    assert rows_seen() == 8, "second batch not consumed"
    time.sleep(2)  # let the last emission commit to the sink
    q.stop()
    q.awaitTermination(30)
    got = {
        (r["level"], r["z"]): np.array(r["voxels"]).reshape(r["height"], r["width"])
        for r in spark.sql("SELECT * FROM cascade_out").collect()
    }
    want = _np_pyramid(vol.copy(), "arthur")
    n_expected = sum(want[lv].shape[0] for lv in range(1, len(want)))
    assert len(got) == n_expected, sorted(got)
    for lv in range(1, len(want)):
        for cz in range(want[lv].shape[0]):
            assert np.array_equal(got[(lv, cz)], want[lv][cz]), (lv, cz)


def test_streaming_tumbling_matches_batch(spark, tmp_path, sf_dir):
    """I3: the same tumbling_agg over a file stream equals the batch run."""
    from hortacloud_importer_spark.catalog import table

    events = table(spark, sf_dir, "events").select("ts", "value")
    events.write.parquet(str(tmp_path / "events_in"))
    stream = spark.readStream.schema(events.schema).parquet(
        str(tmp_path / "events_in")
    )
    q = (
        tumbling_agg(stream, "1 hour")
        .writeStream.format("memory")
        .queryName("tumbling_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["win"]["start"], r["n"], r["total"])
        for r in spark.sql("SELECT * FROM tumbling_out").collect()
    }
    want = {
        (r["win"]["start"], r["n"], r["total"])
        for r in tumbling_agg(events, "1 hour").collect()
    }
    assert got == want


def test_streaming_dedup_drops_recrawls(spark, tmp_path):
    """K1 streaming dual: duplicate texts inside the watermark horizon
    are dropped; state carries only fingerprints, never payloads."""
    import json
    import os

    from hortacloud_importer_spark.streaming.windows import streaming_dedup

    indir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(indir)
    rows = [
        {"doc_id": 1, "ts": "2024-01-01 10:00:00", "text": "alpha beta"},
        {"doc_id": 2, "ts": "2024-01-01 10:01:00", "text": "gamma delta"},
        {"doc_id": 3, "ts": "2024-01-01 10:02:00", "text": "alpha beta"},  # re-crawl
        {"doc_id": 4, "ts": "2024-01-01 10:03:00", "text": "epsilon"},
        {"doc_id": 5, "ts": "2024-01-01 10:04:00", "text": "gamma delta"},  # re-crawl
    ]
    with open(f"{indir}/batch0.json", "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    schema = "doc_id long, ts string, text string"
    stream = (
        spark.readStream.schema(schema)
        .json(indir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        streaming_dedup(stream, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.table("dedup_stream").collect()}
    assert got == {1, 2, 4}

    # batch dual: same operator, same answer
    batch = spark.createDataFrame(
        [(r["doc_id"], r["ts"], r["text"]) for r in rows], schema
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    kept = {r["doc_id"] for r in streaming_dedup(batch).collect()}
    # batch dropDuplicates keeps an arbitrary member per fp; assert one
    # per fingerprint and count, not identity
    assert len(kept) == 3


def test_streaming_cascade_checkpoint_restart_byte_identical(spark, tmp_path):
    """VERDICT r5 #7: stop the stateful cascade mid-volume, start a
    NEW query from the same checkpoint, and require the full emitted
    pyramid to be byte-identical to an uninterrupted run — the
    restart contract of the OPERATOR's pickled state, not just the
    sink. File sink + checkpoint gives exactly-once output across the
    restart (_spark_metadata dedupe)."""
    dims = (8, 4, 4)
    vol = random_vol(dims)
    indir = tmp_path / "r_slices"
    outdir = str(tmp_path / "r_out")
    ckpt = str(tmp_path / "r_ckpt")
    indir.mkdir()
    schema = (
        "zi int, yi int, xi int, channel int, z int,"
        " height int, width int, voxels array<long>"
    )

    def rows(z0, z1):
        return [
            (0, 0, 0, 0, z, dims[1], dims[2], [int(v) for v in vol[z].ravel()])
            for z in range(z0, z1)
        ]

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(indir / "*"))
        q = (
            streaming_cascade(stream, dims, "arthur")
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not drain"

    # first half of the volume, then the query goes away entirely
    spark.createDataFrame(rows(0, 4), schema).coalesce(1).write.parquet(
        str(indir / "a")
    )
    run_once()
    # mid-volume state (partial level buffers) now lives ONLY in the
    # checkpoint; the rest of the volume arrives after the restart
    spark.createDataFrame(rows(4, 8), schema).coalesce(1).write.parquet(
        str(indir / "b")
    )
    run_once()

    got = {
        (r["level"], r["z"]): np.array(r["voxels"]).reshape(
            r["height"], r["width"]
        )
        for r in spark.read.parquet(outdir).collect()
    }
    want = _np_pyramid(vol.copy(), "arthur")
    n_expected = sum(want[lv].shape[0] for lv in range(1, len(want)))
    assert len(got) == n_expected, sorted(got)
    for lv in range(1, len(want)):
        for cz in range(want[lv].shape[0]):
            assert np.array_equal(got[(lv, cz)], want[lv][cz]), (lv, cz)
    # the post-restart run really did resume from checkpointed state:
    # the deepest child needs parents from BOTH halves of the volume
    assert (len(want) - 1, 0) in got


def test_streaming_dedup_restart_preserves_and_expires_state(
    spark, tmp_path
):
    """VERDICT r11 #8 (in-suite half; tools/soak_stream.py holds the
    SIGKILL half): the LIVE dropDuplicatesWithinWatermark wrapper,
    stopped and restarted from its checkpoint, must (a) keep dropping
    a re-crawl whose fingerprint entered state BEFORE the restart —
    the fingerprint lives only in the checkpointed state store — and
    (b) RE-EMIT a re-crawl arriving after the watermark expired the
    fingerprint, the re-emit-past-horizon semantics the batch dual
    (stream_dedup) pins against DuckDB."""
    import json
    import os
    import time as _time

    from hortacloud_importer_spark.streaming.windows import streaming_dedup

    indir = str(tmp_path / "docs")
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(indir)

    def write(name: str, rows: list, mtime: float) -> None:
        p = f"{indir}/{name}"
        with open(p, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        os.utime(p, (mtime, mtime))

    def run_once() -> None:
        docs = (
            spark.readStream.schema(
                "doc_id long, ts timestamp, text string"
            )
            .option("maxFilesPerTrigger", 1)
            .json(indir)
        )
        q = (
            streaming_dedup(docs, watermark="5 minutes")
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), "stream did not drain"

    base = _time.time() - 600
    phase1 = [
        {"doc_id": i, "ts": f"2026-01-01 10:{i:02d}:00",
         "text": f"text number {i}"}
        for i in range(10)
    ]
    write("a.json", phase1, base)
    run_once()
    # the query object is GONE; watermark (10:04) and the fingerprint
    # state live only in the checkpoint now. Four one-doc batches:
    # doc 10 re-crawls doc 9 INSIDE the horizon (fingerprint held in
    # restored state -> dropped); docs 11 and 13 advance the
    # watermark past doc 1's expiry — TWO batches, because state
    # cleanup runs after each batch's input with the watermark
    # computed from the batch BEFORE it (measured; an entry expiring
    # at 10:06 is evicted at the end of the first batch whose
    # pre-batch watermark exceeds it); doc 12 then re-crawls doc 1
    # PAST the horizon (fingerprint evicted -> re-emitted).
    write("b1.json", [{"doc_id": 10, "ts": "2026-01-01 10:10:00",
                       "text": "text number 9"}], base + 1)
    write("b2.json", [{"doc_id": 11, "ts": "2026-01-01 10:12:00",
                       "text": "text number 11"}], base + 2)
    write("b3.json", [{"doc_id": 13, "ts": "2026-01-01 10:13:00",
                       "text": "text number 13"}], base + 3)
    write("b4.json", [{"doc_id": 12, "ts": "2026-01-01 10:30:00",
                       "text": "text number 1"}], base + 4)
    run_once()

    got = sorted(
        r["doc_id"] for r in spark.read.parquet(outdir).collect()
    )
    assert got == [*range(10), 11, 12, 13], got
