"""Python DataSource front door (sources/datasource.py).

The chunk-store reader must give back the NumPy volume a store was
written from; the stream reader must deliver slices in z order across
micro-batches.
Partition planning (grouping + filter pruning) is unit-tested on the
reader objects directly — it is driver-side pure Python.
"""

from __future__ import annotations

import gzip
import json
import zlib

import numpy as np
import pytest
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, In, LessThan

from hortacloud_importer_spark.sources.datasource import (
    _ChunkReader,
    _TiffSliceReader,
    register_volume_sources,
)
from hortacloud_importer_spark.sources.tiff import encode_tiff


def _write_n5(root, vol: np.ndarray, block_xyz, codec="gzip"):
    dz, dy, dx = vol.shape
    bx, by, bz = block_xyz
    root.mkdir(parents=True, exist_ok=True)
    (root / "attributes.json").write_text(
        json.dumps(
            {
                "dimensions": [dx, dy, dz],
                "blockSize": [bx, by, bz],
                "dataType": "uint16",
                "compression": {"type": codec},
            }
        )
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
                payload = blk.astype(">u2").tobytes()
                if codec == "gzip":
                    payload = gzip.compress(payload)
                d = root / str(gx) / str(gy)
                d.mkdir(parents=True, exist_ok=True)
                (d / str(gz_i)).write_bytes(header + payload)


def _write_zarr(root, vol: np.ndarray, chunks_zyx):
    dz, dy, dx = vol.shape
    cz, cy, cx = chunks_zyx
    root.mkdir(parents=True, exist_ok=True)
    (root / ".zarray").write_text(
        json.dumps(
            {
                "zarr_format": 2,
                "shape": [dz, dy, dx],
                "chunks": [cz, cy, cx],
                "dtype": "<u2",
                "compressor": {"id": "zlib", "level": 1},
                "order": "C",
                "fill_value": 0,
                "filters": None,
            }
        )
    )
    for gz_i in range((dz + cz - 1) // cz):
        for gy in range((dy + cy - 1) // cy):
            for gx in range((dx + cx - 1) // cx):
                # zarr chunks are stored FULL-size (fill past the edge)
                full = np.zeros((cz, cy, cx), dtype="<u2")
                blk = vol[
                    gz_i * cz : (gz_i + 1) * cz,
                    gy * cy : (gy + 1) * cy,
                    gx * cx : (gx + 1) * cx,
                ]
                full[: blk.shape[0], : blk.shape[1], : blk.shape[2]] = blk
                (root / f"{gz_i}.{gy}.{gx}").write_bytes(
                    zlib.compress(full.tobytes())
                )


def _vol(dz, dy, dx):
    return ((np.arange(dz * dy * dx).reshape(dz, dy, dx) * 7) % 65521).astype(
        np.uint16
    )


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _vol_rows(vol):
    """The (z, y, x, intensity) rows of a NumPy volume."""
    return {(z, y, x, int(v)) for (z, y, x), v in np.ndenumerate(vol)}


@pytest.fixture(scope="module")
def registered(spark):
    register_volume_sources(spark)
    return spark


def test_n5_datasource_matches_mapinpandas_reader(registered, tmp_path):
    vol = _vol(6, 5, 7)  # non-divisible -> partial edge chunks
    root = tmp_path / "vol.n5"
    _write_n5(root, vol, (4, 4, 4))
    via_ds = registered.read.format("n5_volume").load(str(root))
    assert _rows(via_ds) == _vol_rows(vol)
    assert via_ds.count() == 6 * 5 * 7


def test_zarr_datasource_matches_mapinpandas_reader(registered, tmp_path):
    vol = _vol(5, 6, 4)
    root = tmp_path / "vol.zarr"
    _write_zarr(root, vol, (4, 4, 4))
    via_ds = registered.read.format("zarr_volume").load(str(root))
    assert _rows(via_ds) == _vol_rows(vol)
    assert via_ds.count() == 5 * 6 * 4


def test_datasource_filtered_read_is_exact(registered, tmp_path):
    vol = _vol(8, 8, 8)
    root = tmp_path / "f.n5"
    _write_n5(root, vol, (4, 4, 4))
    got = (
        registered.read.format("n5_volume")
        .load(str(root))
        .filter("z >= 4 AND x < 4 AND y = 2")
        .collect()
    )
    want = {
        (z, 2, x, int(vol[z, 2, x])) for z in range(4, 8) for x in range(4)
    }
    assert {tuple(r) for r in got} == want


def test_n5_pushed_filters_prune_chunk_partitions(tmp_path):
    vol = _vol(8, 8, 8)
    root = tmp_path / "p.n5"
    _write_n5(root, vol, (4, 4, 4))
    # chunk-per-partition so partition count == surviving chunk count
    reader = _ChunkReader({"path": str(root), "target_partition_bytes": 1})
    assert len(reader.partitions()) == 8
    unsupported = reader.pushFilters(
        [GreaterThanOrEqual(("z",), 4), LessThan(("x",), 4), EqualTo(("y",), 2)]
    )
    # pruning-only pushdown: every filter is handed back for row-level eval
    assert len(list(unsupported)) == 3
    parts = reader.partitions()
    assert len(parts) == 1  # (gz=1, gy=0, gx=0) only
    (chunk,) = parts[0].chunks
    assert chunk == ("0/0/1", 1, 0, 0)  # N5 key x/y/z; gz, gy, gx


def test_zarr_in_filter_prunes(tmp_path):
    vol = _vol(8, 4, 4)
    root = tmp_path / "p.zarr"
    _write_zarr(root, vol, (4, 4, 4))
    reader = _ChunkReader({"path": str(root), "target_partition_bytes": 1})
    assert len(reader.partitions()) == 2
    reader.pushFilters([In(("z",), (1, 2))])
    parts = reader.partitions()
    assert len(parts) == 1
    assert parts[0].chunks[0][1:] == (0, 0, 0)  # gz, gy, gx


def test_partition_grouping_targets_bytes(tmp_path):
    vol = _vol(8, 8, 8)
    root = tmp_path / "g.n5"
    _write_n5(root, vol, (4, 4, 4))
    opts = {"path": str(root)}
    # default 8 MiB target -> all 8 chunks (128 voxel-bytes each) in 1
    assert len(_ChunkReader(opts).partitions()) == 1
    # 2 chunks' decoded bytes per partition -> 4 partitions
    two_chunks = 2 * 4 * 4 * 4 * 2
    reader = _ChunkReader({**opts, "target_partition_bytes": two_chunks})
    parts = reader.partitions()
    assert len(parts) == 4
    assert all(len(p.chunks) == 2 for p in parts)


def _write_slices(d, vols):
    d.mkdir(parents=True, exist_ok=True)
    for z, sl in enumerate(vols):
        (d / f"default.0.{z:03d}.tif").write_bytes(encode_tiff(sl[None, ...]))


def test_tiff_slice_batch_read(registered, tmp_path):
    vol = (_vol(3, 4, 5) % 251).astype(np.uint8)
    _write_slices(tmp_path / "slices", list(vol))
    df = registered.read.format("tiff_volume").load(str(tmp_path / "slices"))
    want = {
        (z, y, x, int(vol[z, y, x]))
        for z in range(3)
        for y in range(4)
        for x in range(5)
    }
    assert _rows(df) == want


def test_tiff_slice_z_filter_prunes_files(tmp_path):
    vol = (_vol(4, 2, 2) % 251).astype(np.uint8)
    _write_slices(tmp_path / "s2", list(vol))
    reader = _TiffSliceReader({"path": str(tmp_path / "s2")})
    assert len(reader.partitions()) == 4
    reader.pushFilters([EqualTo(("z",), 2)])
    parts = reader.partitions()
    assert len(parts) == 1
    assert parts[0].slices[0][1] == 2


def test_tiff_stream_reads_slices_in_z_order(registered, tmp_path):
    import time

    vol = (_vol(5, 3, 3) % 251).astype(np.uint8)
    _write_slices(tmp_path / "stream", list(vol))
    # Python micro-batch sources don't support Trigger.AvailableNow
    # (single-batch fallback), so poll a processing-time trigger until
    # all 5 slices (3 micro-batches of <=2) are consumed.
    q = (
        registered.readStream.format("tiff_volume")
        .option("max_slices_per_batch", 2)
        .load(str(tmp_path / "stream"))
        .writeStream.format("memory")
        .queryName("tiff_stream_ds")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    expected_rows = 5 * 3 * 3

    def rows_seen():
        return sum(p.numInputRows for p in q.recentProgress)

    deadline = time.time() + 90
    while rows_seen() < expected_rows and time.time() < deadline:
        time.sleep(0.3)
    time.sleep(1)  # let the last batch commit to the sink
    q.stop()
    q.awaitTermination(30)
    got = registered.sql("SELECT * FROM tiff_stream_ds")
    want = {
        (z, y, x, int(vol[z, y, x]))
        for z in range(5)
        for y in range(3)
        for x in range(3)
    }
    assert _rows(got) == want


def test_tiff_stream_restart_resumes_from_checkpoint(registered, tmp_path):
    """Stop after the first slices, append more files, restart on the
    SAME checkpoint: the partition-planning stream reader must resume
    at the committed offset — every slice exactly once, z order kept."""
    import time

    vol = (_vol(6, 2, 2) % 251).astype(np.uint8)
    _write_slices(tmp_path / "restream", list(vol[:3]))
    out = str(tmp_path / "re_out")

    def run_until(nrows):
        q = (
            registered.readStream.format("tiff_volume")
            .option("max_slices_per_batch", 2)
            .load(str(tmp_path / "restream"))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "re_ckpt"))
            .trigger(processingTime="300 milliseconds")
            .start()
        )

        def count():
            try:
                return registered.read.parquet(out).count()
            except Exception:
                return 0

        deadline = time.time() + 90
        while count() < nrows and time.time() < deadline:
            time.sleep(0.3)
        time.sleep(1)
        q.stop()
        q.awaitTermination(30)

    run_until(3 * 4)
    _write_slices(tmp_path / "restream", list(vol))  # now all 6 slices
    run_until(6 * 4)  # restart must pick up only slices 3-5

    rows = registered.read.parquet(out).collect()
    got = sorted((r["z"], r["y"], r["x"], r["intensity"]) for r in rows)
    want = sorted(
        (z, y, x, int(vol[z, y, x]))
        for z in range(6)
        for y in range(2)
        for x in range(2)
    )
    # every slice exactly once across the restart: the committed
    # offset survived (no replay into the sink, no skipped z)
    assert got == want


def test_ktx_writer_datasource_roundtrip(registered, tmp_path):
    """A8 through the KTX block write (``write_ktx_block`` plus one
    manifest commit): blobs land with idempotent names, the manifest
    shard records the committed set, and binaryFile +
    ktx_decode_blocks recovers the voxels."""
    from pyarrow import fs as pafs
    from pyspark.sql import functions as F

    from hortacloud_importer_spark.sources import manifest
    from hortacloud_importer_spark.sources.ktx import (
        ktx_decode_blocks,
        ktx_encode_blocks,
    )
    from hortacloud_importer_spark.volume import blockify, synthetic_volume
    from tests.store_fixtures import commit_ktx_rows

    out = tmp_path / "ktx_ds_out"
    v = synthetic_volume(registered, 4, 4, 4, channels=2)
    blocks = blockify(v, (4, 4, 4)).withColumn("level", F.lit(0))
    commit_ktx_rows(str(out), ktx_encode_blocks(blocks).collect())

    fs = pafs.LocalFileSystem()
    assert sorted(manifest.committed_files(fs, str(out))) == [
        "block_0_0_0_ch0.ktx",
        "block_0_0_0_ch1.ktx",
    ]
    assert manifest.run_totals(fs, str(out))["n_files"] == 2

    bin_df = (
        registered.read.format("binaryFile")
        .load(str(out / "*.ktx"))
        .select(F.col("content").alias("ktx"))
    )
    decoded = ktx_decode_blocks(bin_df)
    want = {
        (r["channel"], r["z"], r["y"], r["x"]): r["intensity"]
        for r in v.collect()
    }
    got = {}
    for r in decoded.filter(F.col("level") == 0).collect():
        arr = np.array(r["voxels"]).reshape(4, 4, 4)
        for z in range(4):
            for y in range(4):
                for x in range(4):
                    got[(r["channel"], z, y, x)] = int(arr[z, y, x])
    assert got == want


def test_ktx_writer_append_merges_manifest(registered, tmp_path):
    """A second conversion into the same KTX store (an incremental
    conversion, one octree depth per run) must keep the first run's
    files visible in the committed set — one immutable shard per run,
    union on read — and report the union as its file count."""
    from pyarrow import fs as pafs

    from hortacloud_importer_spark.pipelines import (
        build_octree,
        tiff_octree_to_ktx,
    )
    from hortacloud_importer_spark.sources import manifest
    from hortacloud_importer_spark.volume import synthetic_volume

    store, out = str(tmp_path / "octree"), str(tmp_path / "ktx_merge_out")
    v = synthetic_volume(registered, 4, 4, 4, channels=2)
    build_octree(registered, v, store, nlevels=2, filter_="max", dims=(4, 4, 4))
    fs = pafs.LocalFileSystem()
    leaves = {f for f in manifest.committed_files(fs, store) if "/" in f}
    counts = [
        tiff_octree_to_ktx(
            registered, store, out, (2, 2, 2), 1, depth=depth,
            with_metadata=False,
        ).first()["n_files"]
        for depth in (1, 0)  # two incremental runs: leaves, then root
    ]
    names = manifest.committed_files(fs, out)
    assert len(names) == len(leaves) + 2 == counts[1]
    assert counts[0] == len(leaves)
    assert {n for n in names if "_d1_" not in n} == {
        "block_0_0_0_ch0.ktx", "block_0_0_0_ch1.ktx",
    }
    # two commits -> two shards; neither rewrote the other, and no
    # name is committed twice
    assert len(manifest.summary_files(fs, out)) == 2
    assert manifest.run_totals(fs, out)["n_files"] == len(names)


def test_tiff_stream_slices_feed_the_stateful_cascade(registered, tmp_path):
    """I1 + I2 end-to-end the way the reference runs them
    (ktx_from_rendered_tiff.py:323-391): real TIFF slice files -> the
    tiff_volume stream source with emit=slices -> the bounded-state
    mipmap cascade -> every deeper level matches the pure-NumPy
    kernel fed the same slices directly."""
    import time

    from pyspark.sql import functions as F

    from hortacloud_importer_spark.streaming.cascade import (
        MipmapCascade,
        streaming_cascade,
    )

    dims = (4, 4, 4)
    vol = (_vol(*dims) % 251).astype(np.uint8)
    _write_slices(tmp_path / "cascade_in", list(vol))

    slices = (
        registered.readStream.format("tiff_volume")
        .option("emit", "slices")
        .option("max_slices_per_batch", 1)  # one slice per micro-batch
        .load(str(tmp_path / "cascade_in"))
        .select(
            F.lit(0).alias("zi"),
            F.lit(0).alias("yi"),
            F.lit(0).alias("xi"),
            F.lit(0).alias("channel"),
            "z",
            "height",
            "width",
            "voxels",
        )
    )
    q = (
        streaming_cascade(slices, dims, "arthur")
        .writeStream.format("memory")
        .queryName("tiff_cascade_e2e")
        .option("checkpointLocation", str(tmp_path / "cascade_ckpt"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )

    def rows_seen():
        return sum(p.numInputRows for p in q.recentProgress)

    deadline = time.time() + 90
    while rows_seen() < dims[0] and time.time() < deadline:
        time.sleep(0.3)
    time.sleep(1.5)
    q.stop()
    q.awaitTermination(30)

    oracle = MipmapCascade(dims, "arthur")
    want = {}
    for z in range(dims[0]):
        for level, oz, daughter in oracle.feed(z, vol[z].astype(np.int64)):
            want[(level, oz)] = daughter
    got = {
        (r["level"], r["z"]): np.array(r["voxels"]).reshape(
            r["height"], r["width"]
        )
        for r in registered.sql("SELECT * FROM tiff_cascade_e2e").collect()
    }
    assert set(got) == set(want)
    for k, arr in want.items():
        np.testing.assert_array_equal(got[k], arr)


def test_corrupt_chunk_names_the_file(registered, tmp_path):
    """A truncated chunk must fail with the offending PATH in the
    message, not a bare numpy reshape error."""
    vol = _vol(4, 4, 4)
    root = tmp_path / "bad.n5"
    _write_n5(root, vol, (4, 4, 4), codec="raw")
    (root / "0" / "0" / "0").write_bytes(b"\x00\x00\x00\x03trunc")
    with pytest.raises(Exception, match=r"bad N5 chunk .*bad\.n5/0/0/0"):
        registered.read.format("n5_volume").load(str(root)).collect()


def test_truncated_slice_names_the_file():
    """A truncated slice fails with its path in the message — both a
    file shorter than a TIFF header and a half-length one — and keeps
    the codec's named error class."""
    from hortacloud_importer_spark.sources.datasource import _slice_array
    from hortacloud_importer_spark.sources.tiff import TiffParseError

    data = encode_tiff(np.arange(64 * 64, dtype=np.uint16).reshape(1, 64, 64))
    path = "/x/slice_00003.tif"
    for cut in (data[:7], data[: len(data) // 2]):
        with pytest.raises(TiffParseError, match=r"^/x/slice_00003\.tif: "):
            _slice_array(cut, path)


def test_multipage_slice_names_the_file():
    """A slice file holding two pages fails the one-page-per-slice
    check with its path and shape in the message."""
    from hortacloud_importer_spark.sources.datasource import _slice_array

    data = encode_tiff(np.ones((2, 4, 4), dtype=np.uint16))
    with pytest.raises(
        ValueError, match=r"^/x/stack\.tif: slice file has shape \(2, 4, 4, 1\)"
    ):
        _slice_array(data, "/x/stack.tif")


def _strip_tiff(page: np.ndarray, rows_per_strip: int, deflate: bool) -> bytes:
    """A classic little-endian uint16 TIFF of one page cut into strips
    of ``rows_per_strip`` rows, raw or deflated: IFD first, then the
    strip offset and count arrays, then the strips."""
    import struct

    h, w = page.shape
    strips = [
        page[y : y + rows_per_strip].astype("<u2").tobytes()
        for y in range(0, h, rows_per_strip)
    ]
    if deflate:
        strips = [zlib.compress(b) for b in strips]
    n = len(strips)
    tags = 8
    arrays = 8 + 2 + 12 * tags + 4
    data = arrays + 8 * n
    offsets = [data + sum(map(len, strips[:i])) for i in range(n)]

    def entry(tag, ftype, count, value):
        return struct.pack("<HHII", tag, ftype, count, value)

    ifd = b"".join(
        [
            struct.pack("<H", tags),
            entry(256, 4, 1, w),
            entry(257, 4, 1, h),
            struct.pack("<HHIHH", 258, 3, 1, 16, 0),
            struct.pack("<HHIHH", 259, 3, 1, 8 if deflate else 1, 0),
            entry(273, 4, n, arrays),
            struct.pack("<HHIHH", 277, 3, 1, 1, 0),
            entry(278, 4, 1, rows_per_strip),
            entry(279, 4, n, arrays + 4 * n),
            struct.pack("<I", 0),
        ]
    )
    return (
        b"II*\x00" + struct.pack("<I", 8) + ifd
        + struct.pack(f"<{n}I", *offsets)
        + struct.pack(f"<{n}I", *map(len, strips))
        + b"".join(strips)
    )


@pytest.mark.parametrize("deflate", [False, True], ids=["raw", "deflate"])
def test_windowed_slice_read_decodes_only_touched_strips(tmp_path, deflate):
    """A 40x24 slice in ten 4-row strips: the window rows 6..15,
    columns 5..17 decodes the three strips it touches (rows 4..15) and
    no other, reading their payload alone (of a raw strip, only the
    window's rows), and equals that crop of the whole page."""
    from hortacloud_importer_spark.sources.datasource import _read_slice

    page = np.random.default_rng(7).integers(0, 1 << 16, (40, 24)).astype(np.uint16)
    path = tmp_path / "slice.tif"
    path.write_bytes(_strip_tiff(page, 4, deflate))
    first = (str(path), (40, 24))
    stats: dict = {}
    win = _read_slice(str(path), first, window=(6, 16, 5, 17), stats=stats)
    assert np.array_equal(win, page[6:16, 5:17])
    assert (stats["blocks_decoded"], stats["blocks_total"]) == (3, 10)
    whole: dict = {}
    assert np.array_equal(_read_slice(str(path), first, stats=whole), page)
    assert whole["bytes_read"] == whole["bytes_total"] == stats["bytes_total"]
    if deflate:
        sizes = [len(zlib.compress(page[y : y + 4].astype("<u2").tobytes())) for y in (4, 8, 12)]
        assert stats["bytes_read"] == sum(sizes)
    else:
        assert stats["bytes_read"] == 10 * 24 * 2  # rows 6..15 only
    # a window wholly past the page reads nothing and is empty
    none: dict = {}
    assert _read_slice(str(path), first, window=(40, 48, 0, 24), stats=none).size == 0
    assert none.get("bytes_read", 0) == 0


def test_scan_n5_query_on_truly_vanilla_session():
    """The driver runs queries in a session built by a plain
    ``SparkSession.builder`` (no session.py factory), where
    spark.sql.python.filterPushdown.enabled defaults to false —
    register_volume_sources must enable it itself (VERDICT r2 #1).
    A cloned newSession() inherits too much state to model that, so
    this builds a genuinely fresh session in a subprocess."""
    import os
    import subprocess
    import sys

    script = """
from pyspark.sql import SparkSession
from hortacloud_importer_spark.queries.scans import scan_n5_datasource

spark = SparkSession.builder.master("local[2]").appName("vanilla").getOrCreate()
df = scan_n5_datasource(spark, "unused-sf-dir")
rows = df.collect()
assert spark.conf.get("spark.sql.python.filterPushdown.enabled") == "true"
want = {
    (z, y, x, (7 * (z * 35 + y * 7 + x)) % 65521)
    for z in range(2, 6)
    for y in range(5)
    for x in range(4)
}
assert {tuple(r) for r in rows} == want, sorted(tuple(r) for r in rows)[:5]
print("VANILLA_OK")
spark.stop()
"""
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": repo_root}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=repo_root,
        env=env,
    )
    assert "VANILLA_OK" in proc.stdout, proc.stdout[-2000:] + proc.stderr[-4000:]


def test_register_falls_back_to_no_pushdown_readers(spark, tmp_path):
    """If the conf can't be set (locked-down session), registration
    swaps in readers without pushFilters: pruning is lost, results
    identical via row-level filter re-eval."""

    class _LockedConf:
        def set(self, *a, **k):
            raise RuntimeError("conf locked")

        def get(self, *a, **k):
            return "false"

    class _Proxy:
        conf = _LockedConf()

        def __getattr__(self, name):
            return getattr(spark, name)

    conf_key = "spark.sql.python.filterPushdown.enabled"
    try:
        # same-session re-registration overwrites, so this swaps the
        # parent session's formats to the no-pushFilters reader classes
        register_volume_sources(_Proxy())
        from pyspark.sql.datasource import DataSourceReader

        from hortacloud_importer_spark.sources.datasource import (
            _ChunkReaderNoPushdown,
        )

        assert (
            getattr(_ChunkReaderNoPushdown, "pushFilters", None)
            is DataSourceReader.pushFilters
        )
        vol = _vol(6, 5, 7)
        root = tmp_path / "nopd.n5"
        _write_n5(root, vol, (4, 4, 4))
        # with pushdown disabled a pushFilters reader would refuse to
        # plan; the no-pushdown reader must run and filter row-level
        spark.conf.set(conf_key, "false")
        got = (
            spark.read.format("n5_volume")
            .load(str(root))
            .filter("z >= 2 AND x < 3")
            .collect()
        )
        want = {
            (z, y, x, int(vol[z, y, x]))
            for z in range(2, 6)
            for y in range(5)
            for x in range(3)
        }
        assert {tuple(r) for r in got} == want
    finally:
        spark.conf.set(conf_key, "true")
        register_volume_sources(spark)  # restore pushdown formats


def test_tiff_slice_channel_option_selects_one_channel(registered, tmp_path):
    """A 2-channel slice dir (default.{ch}.{z}.tif) read without the
    channel option would sort channel-major and misnumber z; with it,
    each channel scans its own files in z order."""
    d = tmp_path / "two_ch"
    d.mkdir()
    vols = {}
    rng = np.random.default_rng(31)
    for ch in range(2):
        vol = (rng.integers(1, 250, (3, 2, 2))).astype(np.uint8)
        vols[ch] = vol
        for z in range(3):
            (d / f"default.{ch}.{z:03d}.tif").write_bytes(
                encode_tiff(vol[z][None, ...])
            )
    for ch in range(2):
        df = (
            registered.read.format("tiff_volume")
            .option("channel", str(ch))
            .load(str(d))
        )
        got = _rows(df)
        want = {
            (z, y, x, int(vols[ch][z, y, x]))
            for z in range(3)
            for y in range(2)
            for x in range(2)
        }
        assert got == want, f"channel {ch}"
