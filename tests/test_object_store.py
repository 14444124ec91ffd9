"""Object-store integration evidence (SURVEY A3/A6/A11): the engine's
IO runs against S3-style stores, not just the local filesystem.

Every engine surface reads and writes through pyarrow (Python
DataSource scans, chunk-store probes, listings and reads, hierarchy
discovery, the octree build's block writes and manifest commit,
resume probes); here they run against a real in-process S3 REST
endpoint (tests/s3_stub.py) over ``s3://`` URIs — ListObjectsV2 with
and without a delimiter, ranged GETs, multipart uploads, the lot.
Also pins the ``s3a:// -> s3://`` alias (clusters configure the
Hadoop spelling; pyarrow only speaks ``s3://``).
"""

from __future__ import annotations

import os
import re
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(__file__))
from s3_stub import S3Stub  # noqa: E402

from hortacloud_importer_spark.sources.datasource import (  # noqa: E402
    _pa_fs,
    register_volume_sources,
)
from hortacloud_importer_spark.sources.tiff import (  # noqa: E402
    decode_tiff,
    encode_tiff,
)


def test_s3a_alias_maps_to_pyarrow_s3():
    from pyarrow.fs import S3FileSystem

    fs, path = _pa_fs("s3a://bucket/key?endpoint_override=http://127.0.0.1:1")
    assert isinstance(fs, S3FileSystem)
    assert path == "bucket/key"


def test_s3_tiff_volume_scan(spark):
    """A1/A2 over an object store: slice TIFFs live only in the S3
    endpoint; the tiff_volume DataSource lists and decodes them on
    executors through pyarrow's S3 client."""
    with S3Stub() as s3:
        s3.store.buckets.add("vol")
        want = {}
        for z in range(4):
            arr = ((np.arange(64) * (z + 1)) % 251).astype(np.uint8)
            want[z] = arr
            s3.store.objects[("vol", f"stack/default.0.{z:03d}.tif")] = (
                encode_tiff(arr.reshape(1, 8, 8))
            )
        register_volume_sources(spark)
        vox = (
            spark.read.format("tiff_volume")
            .load(s3.uri("vol", "stack"))
            .groupBy("z")
            .agg({"intensity": "sum", "*": "count"})
            .collect()
        )
        got = {r["z"]: (r["sum(intensity)"], r["count(1)"]) for r in vox}
        assert got == {
            z: (int(a.sum()), 64) for z, a in want.items()
        }


def test_s3_tiff_blocks_sink_writes_multipart(spark):
    """A6/A11 sink to an object store: build_octree from a DataFrame
    into an ``s3://`` root. The subtree kernel writes every TIFF block
    as ONE upload of its final key (no ``.tmp`` key anywhere: rename is
    copy+delete there), the driver appends a manifest shard, and the
    blocks read back through the same endpoint equal the NumPy pyramid
    (np_downsample). The build resumes by default, so the fresh store's
    probe must find nothing committed and let every block be built."""
    from hortacloud_importer_spark.pipelines import build_octree
    from hortacloud_importer_spark.sources import manifest
    from hortacloud_importer_spark.sources.block_store import tiff_block_rel
    from tests.test_octree_pipeline import expected_blocks

    rng = np.random.default_rng(5)
    vol = rng.integers(1, 4096, size=(8, 8, 8), dtype=np.int64)
    voxels = spark.createDataFrame(
        [
            (z, y, x, 0, int(vol[z, y, x]))
            for z, y, x in np.ndindex(*vol.shape)
        ],
        "z int, y int, x int, channel int, intensity int",
    )
    with S3Stub() as s3:
        s3.store.buckets.add("out")
        root = s3.uri("out", "octree")
        summary = build_octree(
            spark, voxels, root, nlevels=2, filter_="max", dims=(8, 8, 8),
            channels=1,
        ).collect()
        assert {r["level"]: r["n_blocks_written"] for r in summary} == {
            0: 8, 1: 1,
        }
        keys = sorted(k for (_, k) in s3.store.objects)
        assert not [k for k in keys if ".tmp" in k], keys
        assert [k for k in keys if k.endswith(".files.txt")], keys
        # byte-level read-back through the endpoint vs the NumPy pyramid
        want = {
            tiff_block_rel(zi, yi, xi, ch, depth + 1): blk
            for (depth, zi, yi, xi, ch), blk in expected_blocks(
                [vol], 2, (4, 4, 4), "max"
            ).items()
        }
        filesystem, base = _pa_fs(root)
        assert manifest.committed_files(filesystem, base) == set(want)
        for rel, blk in want.items():
            with filesystem.open_input_stream(f"{base}/{rel}") as fh:
                pages = decode_tiff(fh.read())
            assert np.array_equal(pages[..., 0].astype(np.int64), blk), rel


def test_s3_chunk_stores_read_and_crop(spark, tmp_path):
    """A3 over an object store: an N5 dataset and a sharded Zarr v3
    array live only in the S3 endpoint. The store probe finds each
    (the CLI's input detection), its DataSource reads it, and
    ``crop_chunk_store`` exports a window of it; every read equals the
    NumPy volume."""
    from hortacloud_importer_spark.pipelines import crop_chunk_store
    from hortacloud_importer_spark.sources.n5 import chunk_store
    from tests.test_n5_zarr import _write_n5, _write_zarr_v3_sharded

    rng = np.random.default_rng(17)
    vol = rng.integers(1, 65535, (6, 7, 8), dtype=np.uint16)
    _write_n5(tmp_path / "a.n5", vol, (4, 3, 2), "gzip")
    _write_zarr_v3_sharded(tmp_path / "b.zarr", vol, (4, 4, 4), (2, 4, 4), [])
    window = ((1, 5), (2, 6), (3, 8))
    (z0, z1), (y0, y1), (x0, x1) = window
    with S3Stub() as s3:
        s3.store.buckets.add("cs")
        for name, fmt, kind in (
            ("a.n5", "n5_volume", "n5"), ("b.zarr", "zarr_volume", "zarr3")
        ):
            for f in (tmp_path / name).rglob("*"):
                if f.is_file():
                    rel = f.relative_to(tmp_path).as_posix()
                    s3.store.objects[("cs", rel)] = f.read_bytes()
            root = s3.uri("cs", name)
            assert chunk_store(root, missing_ok=True).kind == kind
            got = np.zeros(vol.shape, dtype=np.int64)
            rows = spark.read.format(fmt).load(root).collect()
            assert len(rows) == vol.size, name
            for r in rows:
                got[r["z"], r["y"], r["x"]] = r["intensity"]
            assert np.array_equal(got, vol), name
            out = tmp_path / f"crop_{name}"
            crop_chunk_store(spark, root, str(out), window).collect()
            crop = np.stack(
                [
                    decode_tiff((out / f"default.0.{z:05d}.tif").read_bytes())[
                        0, :, :, 0
                    ]
                    for z in range(z1 - z0)
                ]
            )
            assert np.array_equal(crop, vol[z0:z1, y0:y1, x0:x1]), name


def test_s3_resume_probe_fresh_store():
    """A11 resume: the pyarrow existence probe recognizes a fresh
    object-store prefix (nothing committed -> run everything) without
    needing a JVM S3 connector: no manifest and no committed ids."""
    from hortacloud_importer_spark.sources import manifest

    with S3Stub() as s3:
        s3.store.buckets.add("rs")
        root = s3.uri("rs", "store")
        filesystem, base = _pa_fs(root)
        assert manifest.committed_files(filesystem, base) is None
        assert manifest.committed_ids(filesystem, base, re.compile("(.+)")) == set()
        # the probe only reads: the fresh prefix stays empty
        assert not [k for (b, k) in s3.store.objects if b == "rs"]


def test_s3_hierarchy_discovery_and_level_read(spark, tmp_path):
    """A3 discovery over an object store: a c{i}/s{j} N5 hierarchy
    lives only in the S3 endpoint. ``discover_hierarchy`` lists its
    groups through pyarrow, under the ``s3://`` URI and its ``s3a://``
    alias, and an octree build of its level 0 reads every channel's
    chunks through the same endpoint, each channel's blocks tagged
    with its group's id."""
    from hortacloud_importer_spark.pipelines import build_octree
    from hortacloud_importer_spark.sources.hierarchy import discover_hierarchy
    from hortacloud_importer_spark.sources.listing import hierarchy_volume
    from tests.test_n5_zarr import _write_n5

    rng = np.random.default_rng(23)
    vols = {ch: rng.integers(1, 65535, (4, 4, 4), dtype=np.uint16) for ch in (0, 1)}
    for ch, vol in vols.items():
        _write_n5(tmp_path / "h" / f"c{ch}" / "s0", vol, (4, 2, 2), "gzip")
    _write_n5(tmp_path / "h" / "c0" / "s1", vols[0][::2, ::2, ::2], (2, 2, 2), "gzip")
    with S3Stub() as s3:
        s3.store.buckets.add("hs")
        for f in (tmp_path / "h").rglob("*"):
            if f.is_file():
                s3.store.objects[("hs", f.relative_to(tmp_path).as_posix())] = (
                    f.read_bytes()
                )
        root = s3.uri("hs", "h")
        assert discover_hierarchy(root) == {0: [0, 1], 1: [0]}
        assert discover_hierarchy("s3a://" + root[len("s3://"):]) == {0: [0, 1], 1: [0]}
        assert discover_hierarchy(s3.uri("hs", "nope")) == {}
        out = str(tmp_path / "oct")
        build_octree(spark, hierarchy_volume(root), out, nlevels=1).collect()
    for ch, vol in vols.items():
        got = decode_tiff((tmp_path / "oct" / f"default.{ch}.tif").read_bytes())
        assert np.array_equal(got[..., 0], vol), ch
