"""The reference-flag CLI front door (cli.py): argument mapping plus
an end-to-end octree + KTX run over real slice/stack files."""

from __future__ import annotations

import glob
import json

import numpy as np
import pytest

from hortacloud_importer_spark.cli import FILTER_ALIASES, build_parser, main
from hortacloud_importer_spark.sources.tiff import decode_tiff, encode_tiff


def test_filter_aliases_cover_reference_names():
    # tiff2octree.py:1177: "downsample method: 2ndmax, area,
    # aa(anti-aliasing), spline"
    assert {"2ndmax", "area", "aa", "spline"} <= set(FILTER_ALIASES)
    assert FILTER_ALIASES["area"] == "mean"
    assert FILTER_ALIASES["2ndmax"] == "arthur"
    assert FILTER_ALIASES["spline"] == "spline3"


def test_parser_defaults_match_reference():
    args = build_parser().parse_args(["octree", "-i", "in", "-o", "out"])
    assert args.level == -1 and args.downsample == "area"
    assert args.origin == (0.0, 0.0, 0.0)
    assert args.voxsize == (1.0, 1.0, 1.0)
    assert not args.resume


def test_octree_requires_exactly_one_input(tmp_path, capsys):
    with pytest.raises(SystemExit):
        main(["octree", "-o", str(tmp_path / "o")])


def test_cli_octree_from_slices_then_ktx(spark, tmp_path, capsys):
    rng = np.random.default_rng(23)
    vol = rng.integers(1, 250, (8, 8, 8), dtype=np.uint8)
    d = tmp_path / "slices"
    d.mkdir()
    for z in range(8):
        (d / f"default.0.{z:03d}.tif").write_bytes(encode_tiff(vol[z][None, ...]))
    out = str(tmp_path / "oct")
    ktx_out = str(tmp_path / "ktx")

    rc = main(
        [
            "octree",
            "-i",
            str(d),
            "-o",
            out,
            "-l",
            "2",
            "-d",
            "2ndmax",
            "--voxsize",
            "0.5,0.5,1.0",
            "--ktx",
            "--ktxout",
            ktx_out,
            "--mips",
            "2",
        ]
    )
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert {r["level"]: r["n_blocks_written"] for r in res["levels"]} == {
        0: 8,
        1: 1,
    }
    assert res["ktx"]["n_files"] == 9  # one KTX per block, both levels
    assert (tmp_path / "oct" / "transform.txt").exists()
    assert (tmp_path / "ktx" / "transform.txt").exists()
    assert len(glob.glob(f"{ktx_out}/**/*.ktx", recursive=True)) == 9

    # leaf octant 1 (zi=yi=xi=0) holds the original corner voxels
    got = decode_tiff((tmp_path / "oct" / "1" / "default.0.tif").read_bytes())[
        ..., 0
    ]
    assert np.array_equal(got, vol[:4, :4, :4].astype(np.uint16))


def test_cli_octree_from_stack_auto_levels(spark, tmp_path, capsys):
    """-f stack ingestion: pages become z slices; -l -1 resolves to
    the reference's optimal-level rule (1 for a tiny stack)."""
    rng = np.random.default_rng(29)
    vol = rng.integers(1, 250, (4, 8, 8), dtype=np.uint8)
    stack = tmp_path / "stack.tif"
    stack.write_bytes(encode_tiff(vol))
    out = str(tmp_path / "oct_stack")

    rc = main(["octree", "-f", str(stack), "-o", out, "-d", "area"])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [r["level"] for r in res["levels"]] == [0]
    got = decode_tiff((tmp_path / "oct_stack" / "default.0.tif").read_bytes())[
        ..., 0
    ]
    assert np.array_equal(got, vol.astype(np.uint16))


def test_cli_octree_from_n5_store(spark, tmp_path, capsys):
    """-i pointing at an N5 root auto-detects (tiff2octree.py:319-328
    parity) and builds through the n5_volume DataSource."""
    from tests.test_datasource import _write_n5

    rng = np.random.default_rng(31)
    vol = rng.integers(1, 60000, (4, 4, 4)).astype(np.uint16)
    root = tmp_path / "n5"
    _write_n5(root, vol, (4, 4, 4))
    out = str(tmp_path / "oct_n5")

    rc = main(["octree", "-i", str(root), "-o", out, "-l", "1", "-d", "area"])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [r["level"] for r in res["levels"]] == [0]
    got = decode_tiff((tmp_path / "oct_n5" / "default.0.tif").read_bytes())[
        ..., 0
    ]
    assert np.array_equal(got, vol)


def test_cli_octree_from_zarr_v3_array(spark, tmp_path, capsys):
    """-i pointing at a Zarr v3 array (zarr.json) auto-detects like an
    N5 root and builds through the zarr_volume DataSource."""
    from tests.test_n5_zarr import _write_zarr_v3

    rng = np.random.default_rng(37)
    vol = rng.integers(1, 60000, (8, 8, 8)).astype(np.uint16)
    root = tmp_path / "v3.zarr"
    _write_zarr_v3(
        root, vol, (4, 4, 4), [{"name": "gzip", "configuration": {"level": 1}}]
    )
    out = tmp_path / "oct_v3"

    rc = main(["octree", "-i", str(root), "-o", str(out), "-l", "1", "-d", "area"])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [r["n_blocks_written"] for r in res["levels"]] == [1]
    got = decode_tiff((out / "default.0.tif").read_bytes())[..., 0]
    assert np.array_equal(got, vol)


def _block_digests(root) -> dict[str, str]:
    """sha256 of every TIFF block file of an octree store, by relative
    path (manifests and transform.txt excluded)."""
    import hashlib
    import pathlib

    root = pathlib.Path(root)
    return {
        p.relative_to(root).as_posix(): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in root.rglob("*.tif")
    }


def test_chunk_store_imports_match_slice_import(spark, tmp_path, capsys):
    """One volume imported from a slice directory, a raw and a gzip N5
    dataset, a Zarr v2 array, a sharded Zarr v3 array (chunk grids
    that do not match the block grid), one TIFF stack and a glob of two
    stacks writes the same block files, byte for byte; a 2-channel
    c{i}/s0 hierarchy matches the 2-channel slice import the same
    way."""
    from tests.test_n5_zarr import _write_n5, _write_zarr, _write_zarr_v3_sharded

    rng = np.random.default_rng(53)
    vols = []
    for _ in range(2):
        v = rng.integers(1, 60000, (8, 16, 16)).astype(np.uint16)
        v[rng.random(v.shape) < 0.3] = 0
        v[:, 8:, 8:] = 0  # two all-zero leaf blocks, which are skipped
        vols.append(v)
    vol = vols[0]

    def imported(label, *flags):
        out = tmp_path / f"oct_{label}"
        rc = main(
            ["octree", "-o", str(out), "-l", "2", "-d", "2ndmax", *flags]
        )
        assert rc == 0
        capsys.readouterr()
        return _block_digests(out)

    for name, channels in (("slices1", 1), ("slices2", 2)):
        d = tmp_path / name
        d.mkdir()
        for ch in range(channels):
            for z in range(vol.shape[0]):
                (d / f"default.{ch}.{z:03d}.tif").write_bytes(
                    encode_tiff(vols[ch][z][None, ...])
                )
    want = imported("slices1", "-i", str(tmp_path / "slices1"))
    assert len(want) == 7  # 6 leaf blocks + the root
    _write_n5(tmp_path / "raw.n5", vol, (5, 6, 3), "raw")
    _write_n5(tmp_path / "gzip.n5", vol, (5, 6, 3), "gzip")
    _write_zarr(tmp_path / "v2.zarr", vol, (3, 5, 6), {"id": "zlib", "level": 1})
    _write_zarr_v3_sharded(
        tmp_path / "v3s.zarr", vol, (4, 8, 8), (2, 4, 8),
        [{"name": "blosc", "configuration": {"cname": "lz4"}}],
    )
    for name in ("raw.n5", "gzip.n5", "v2.zarr", "v3s.zarr"):
        assert imported(name, "-i", str(tmp_path / name)) == want, name
    (tmp_path / "stack.tif").write_bytes(encode_tiff(vol, compression="zlib"))
    assert imported("stack", "-f", str(tmp_path / "stack.tif")) == want
    (tmp_path / "stacks").mkdir()
    for i in range(2):
        (tmp_path / "stacks" / f"part{i}.tif").write_bytes(
            encode_tiff(vol[4 * i : 4 * i + 4], tile=(8, 8))
        )
    glob_ = str(tmp_path / "stacks" / "part*.tif")
    assert imported("stacks", "-f", glob_) == want

    want2 = imported("slices2", "-i", str(tmp_path / "slices2"), "--channels", "2")
    assert len(want2) == 14
    for ch in range(2):
        _write_n5(tmp_path / "hier" / f"c{ch}" / "s0", vols[ch], (5, 6, 3), "gzip")
    assert imported("hier", "-i", str(tmp_path / "hier")) == want2


def test_truncated_chunk_fails_the_import_and_commits_nothing(
    spark, tmp_path, capsys
):
    """An N5 import whose chunk is cut to half its bytes fails in the
    first pass's kernel with a ChunkStoreError naming the chunk, and
    commits nothing: the store has no manifest shard and its readers
    see no leftover block."""
    from hortacloud_importer_spark.sources import manifest
    from hortacloud_importer_spark.sources.block_store import (
        block_files,
        store_channels,
    )
    from hortacloud_importer_spark.sources.datasource import _pa_fs
    from tests.test_n5_zarr import _write_n5

    rng = np.random.default_rng(61)
    vol = rng.integers(1, 60000, (8, 16, 16)).astype(np.uint16)
    _write_n5(tmp_path / "cut.n5", vol, (8, 8, 4), "gzip")
    bad = tmp_path / "cut.n5" / "1" / "0" / "1"
    bad.write_bytes(bad.read_bytes()[: bad.stat().st_size // 2])
    out = str(tmp_path / "oct_cut")
    with pytest.raises(Exception) as err:
        main(["octree", "-i", str(tmp_path / "cut.n5"), "-o", out, "-l", "2"])
    msg = str(err.value)
    assert f"ChunkStoreError: bad N5 chunk {bad}: " in msg, msg[-2000:]
    assert manifest.committed_files(*_pa_fs(out)) == set()
    assert block_files(out) == [] and store_channels(out) == []


def test_zarr_fill_value_builds_the_filled_pyramid(spark, tmp_path, capsys):
    """A Zarr v2 array with fill_value 7 and one never-written chunk
    builds the blocks of the NumPy pyramid of the filled volume."""
    from tests.test_n5_zarr import _write_zarr
    from tests.test_octree_pipeline import _assert_store, expected_blocks

    rng = np.random.default_rng(67)
    vol = rng.integers(1, 60000, (8, 16, 16)).astype(np.uint16)
    _write_zarr(tmp_path / "f.zarr", vol, (4, 8, 8), None, fill=7, skip=[(1, 0, 1)])
    filled = vol.astype(np.int64)
    filled[4:, :8, 8:] = 7
    out = str(tmp_path / "oct_fill")
    src = str(tmp_path / "f.zarr")
    assert main(["octree", "-i", src, "-o", out, "-l", "2", "-d", "max"]) == 0
    _assert_store(out, expected_blocks([filled], 2, (4, 8, 8), "max"))


def test_hierarchy_of_unequal_channel_shapes_fails_before_any_job(
    spark, tmp_path
):
    """A c{i}/s0 hierarchy whose channels' s0 shapes differ fails at
    listing, before any Spark job, naming both groups, and creates no
    output store."""
    from hortacloud_importer_spark.sources.n5 import ChunkStoreError
    from tests.test_n5_zarr import _write_n5

    _write_n5(tmp_path / "h" / "c0" / "s0", np.ones((4, 8, 8), np.uint16), (4, 4, 4))
    _write_n5(tmp_path / "h" / "c1" / "s0", np.ones((4, 8, 4), np.uint16), (4, 4, 4))
    out = tmp_path / "oct_h"
    tracker = spark.sparkContext.statusTracker()
    jobs = set(tracker.getJobIdsForGroup(None))
    msg = r"c1/s0 shape \(4, 8, 4\) != .*c0/s0 shape \(4, 8, 8\)"
    with pytest.raises(ChunkStoreError, match=msg):
        main(["octree", "-i", str(tmp_path / "h"), "-o", str(out)])
    assert set(tracker.getJobIdsForGroup(None)) == jobs
    assert not out.exists()


def test_stack_voxels_multi_file_z_offsets(tmp_path):
    """A glob of uniform stacks concatenates along z in sorted-path
    order (dask imread parity); non-uniform stacks are rejected at
    listing, before any Spark job, naming the file."""
    from hortacloud_importer_spark.sources.listing import stack_volume
    from tests.test_listing import read_volume

    rng = np.random.default_rng(41)
    vols = [
        rng.integers(1, 250, (2, 4, 4), dtype=np.uint8) for _ in range(3)
    ]
    for i, v in enumerate(vols):
        (tmp_path / f"s{i:02d}.tif").write_bytes(encode_tiff(v))
    volume = stack_volume(str(tmp_path / "s*.tif"))
    assert volume.dims == (6, 4, 4)
    assert np.array_equal(read_volume(volume)[0], np.concatenate(vols))

    (tmp_path / "s99.tif").write_bytes(
        encode_tiff(rng.integers(1, 9, (3, 4, 4), dtype=np.uint8))
    )
    with pytest.raises(ValueError, match="s99.tif.*uniform"):
        stack_volume(str(tmp_path / "s*.tif"))
    # a page of another shape inside one file fails the same way
    (tmp_path / "s99.tif").unlink()
    pages = [encode_tiff(vols[0][:1]), encode_tiff(np.ones((1, 4, 5), np.uint8))]
    (tmp_path / "s50.tif").write_bytes(_two_page_tiff(*pages))
    with pytest.raises(ValueError, match=r"s50.tif shape \(2, 4, 5\)"):
        stack_volume(str(tmp_path / "s*.tif"))


def _two_page_tiff(a: bytes, b: bytes) -> bytes:
    """Two one-page little-endian classic TIFFs as one two-page file:
    ``b`` appended, its offsets shifted, and ``a``'s next-IFD pointer
    aimed at ``b``'s IFD (the writer needs one shape for all pages)."""
    import io
    import struct

    from hortacloud_importer_spark.sources.tiff import tiff_page_table

    shift = len(a)
    (ifd_b,) = struct.unpack_from("<I", b, 4)
    out = bytearray(a) + bytearray(b)
    # a's IFD chain ends with a zero pointer right after its entries
    (ifd_a,) = struct.unpack_from("<I", a, 4)
    (n_a,) = struct.unpack_from("<H", a, ifd_a)
    struct.pack_into("<I", out, ifd_a + 2 + 12 * n_a, ifd_b + shift)
    (n_b,) = struct.unpack_from("<H", b, ifd_b)
    for e in range(n_b):
        pos = shift + ifd_b + 2 + 12 * e
        tag, ftype, count = struct.unpack_from("<HHI", out, pos)
        # StripOffsets and every out-of-line value move with b
        if tag == 273 or (count * {3: 2, 4: 4}.get(ftype, 1) > 4):
            (v,) = struct.unpack_from("<I", out, pos + 8)
            struct.pack_into("<I", out, pos + 8, v + shift)
    assert len(tiff_page_table(io.BytesIO(bytes(out)))[1]) == 2
    return bytes(out)


def test_cli_kernel_build_with_ktx_falls_back_to_arthur_mips(
    spark, tmp_path, capsys
):
    """-d aa --ktx must not crash: the KTX pass's mip chain is a group
    aggregate, so it runs with the reference's default 'arthur' filter
    while the octree build itself uses the aa kernel."""
    rng = np.random.default_rng(43)
    vol = rng.integers(1, 250, (8, 8, 8), dtype=np.uint8)
    d = tmp_path / "slices_k"
    d.mkdir()
    for z in range(8):
        (d / f"default.0.{z:03d}.tif").write_bytes(encode_tiff(vol[z][None, ...]))
    out = str(tmp_path / "oct_k")
    rc = main(
        [
            "octree", "-i", str(d), "-o", out, "-l", "2", "-d", "aa",
            "--ktx", "--ktxout", str(tmp_path / "ktx_k"), "--mips", "2",
        ]
    )
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["ktx"]["n_files"] == 9


def test_cli_octree_from_n5_hierarchy_with_pixel_resolution(
    spark, tmp_path, capsys
):
    """c{i}/s0 hierarchy input (check_n5_levels/check_n5_channels
    parity): both channels build, and the root pixelResolution
    attribute defaults --voxsize into transform.txt."""
    from tests.test_datasource import _write_n5

    rng = np.random.default_rng(47)
    root = tmp_path / "h"
    vols = {}
    for ch in range(2):
        vols[ch] = rng.integers(1, 60000, (4, 4, 4)).astype(np.uint16)
        _write_n5(root / f"c{ch}" / "s0", vols[ch], (4, 4, 4))
    (root / "attributes.json").write_text(
        json.dumps({"pixelResolution": {"dimensions": [0.4, 0.4, 1.0]}})
    )
    out = str(tmp_path / "oct_h")

    rc = main(["octree", "-i", str(root), "-o", out, "-l", "1", "-d", "area"])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [r["n_blocks_written"] for r in res["levels"]] == [2]
    for ch in range(2):
        got = decode_tiff(
            (tmp_path / "oct_h" / f"default.{ch}.tif").read_bytes()
        )[..., 0]
        assert np.array_equal(got, vols[ch]), ch
    txt = (tmp_path / "oct_h" / "transform.txt").read_text()
    assert "sx: 400" in txt and "sz: 1000" in txt  # um * 1000 * 2^0


def test_cli_ktx_subcommand_interleave_autodetect(spark, tmp_path, capsys):
    """Standalone ktx subcommand: block dims auto-read from the store,
    --interleave packs both channels into one GL_RG KTX per block."""
    from hortacloud_importer_spark.pipelines import build_octree
    from hortacloud_importer_spark.sources.ktx import decode_ktx
    from hortacloud_importer_spark.volume import synthetic_volume

    store = str(tmp_path / "store2ch")
    v = synthetic_volume(spark, 4, 4, 4, channels=2)
    build_octree(
        spark, v, store, nlevels=1, filter_="max", dims=(4, 4, 4),
        voxel_size_um=(0.5, 0.5, 1.0),
    )
    out = str(tmp_path / "ktx2ch")
    rc = main(["ktx", "-i", store, "-o", out, "--mips", "2", "--interleave"])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["n_files"] == 1  # one interleaved file for both channels
    blob = glob.glob(f"{out}/*.ktx")
    assert len(blob) == 1
    header, mipmaps = decode_ktx(open(blob[0], "rb").read())
    assert header.metadata[b"channel_ids"].rstrip(b"\x00") == b"0,1"
    assert len(mipmaps) == 2


def test_cli_crop_window_round_trips(spark, tmp_path, capsys):
    """crop exports a voxel window of the leaf level as a slice dir
    (window-local z), pruning non-window block files before decode."""
    from hortacloud_importer_spark.pipelines import build_octree
    from hortacloud_importer_spark.volume import synthetic_volume

    store = str(tmp_path / "crop_store")
    v = synthetic_volume(spark, 8, 8, 8)
    build_octree(spark, v, store, nlevels=2, filter_="max", dims=(8, 8, 8))

    out = str(tmp_path / "crop_out")
    rc = main(
        ["crop", "-i", store, "-o", out, "--z", "2,6", "--y", "1,7", "--x", "0,8"]
    )
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["n_slices"] == 4

    want = np.zeros((8, 8, 8), dtype=np.int64)
    for r in synthetic_volume(spark, 8, 8, 8).collect():
        want[r["z"], r["y"], r["x"]] = r["intensity"]
    for lz, z in enumerate(range(2, 6)):
        got = decode_tiff(
            (tmp_path / "crop_out" / f"default.0.{lz:05d}.tif").read_bytes()
        )[0, :, :, 0]
        assert np.array_equal(got.astype(np.int64), want[z, 1:7, 0:8]), z


def test_window_prune_filters_before_decode(spark, tmp_path):
    """The window filter runs on path-derived coordinates before the
    Python decode — on the driver's listing, so the plan is the decode
    over a local relation of the touched files alone, and a crop of a
    huge store never opens another block file (corrupted here)."""
    import glob
    from hortacloud_importer_spark.pipelines import build_octree
    from hortacloud_importer_spark.sources.block_store import (
        read_tiff_block_store,
    )
    from hortacloud_importer_spark.volume import synthetic_volume

    store = str(tmp_path / "prune_store")
    v = synthetic_volume(spark, 8, 8, 8)
    build_octree(spark, v, store, nlevels=2, filter_="max", dims=(8, 8, 8))

    win = ((0, 4), (0, 4), (0, 4))  # exactly one leaf octant
    for p in glob.glob(f"{store}/[2-8]/default.0.tif"):
        with open(p, "wb") as fh:
            fh.write(b"not a tiff")
    df = read_tiff_block_store(
        spark, store, window=win, block_dims=(4, 4, 4), depth=1
    )
    rows = df.collect()
    assert [(r["zi"], r["yi"], r["xi"]) for r in rows] == [(0, 0, 0)]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "LocalTableScan" in plan, plan
    assert "Filter" not in plan, plan


def test_crop_writes_zero_slices_for_skipped_blocks(spark, tmp_path):
    """Skip-empty stores drop all-zero blocks; a crop over such a
    region must still export dense zero slices (the assembly canvas
    zero-fills — no densify grid join)."""
    from pyspark.sql import functions as F

    from hortacloud_importer_spark.pipelines import build_octree, crop_octree
    from hortacloud_importer_spark.volume import synthetic_volume

    store = str(tmp_path / "zero_store")
    v = synthetic_volume(spark, 8, 8, 8).withColumn(
        "intensity",
        # zero the whole z<4 half: its 4 leaf blocks are skipped
        F.when(F.col("z") < 4, F.lit(0)).otherwise(F.col("intensity")),
    )
    build_octree(spark, v, store, nlevels=2, filter_="max", dims=(8, 8, 8))

    out = str(tmp_path / "zero_out")
    res = {
        (r["z"], r["channel"]): r["n_nonzero"]
        for r in crop_octree(
            spark,
            store,
            out,
            window=((0, 6), (0, 8), (0, 8)),
            depth=1,
            block_dims=(4, 4, 4),
        ).collect()
    }
    assert set(res) == {(z, 0) for z in range(6)}
    for z in range(4):  # the zeroed half: dense zero slices on disk
        assert res[(z, 0)] == 0
        page = decode_tiff(
            (tmp_path / "zero_out" / f"default.0.{z:05d}.tif").read_bytes()
        )[0, :, :, 0]
        assert page.shape == (8, 8) and not page.any()
    assert res[(4, 0)] > 0


def test_crop_non_contiguous_channel_ids(spark, tmp_path):
    """ADVICE r5: a store with channel ids {0, 2} must export those
    ids — not drop channel 2 and emit a zero slice for a phantom
    channel 1 from a 0..n-1 assumption."""
    from hortacloud_importer_spark.pipelines import crop_octree
    from tests.store_fixtures import commit_tiff_blocks

    store = str(tmp_path / "chan_store")
    commit_tiff_blocks(
        store,
        [
            (0, 0, 0, 0, np.full((2, 2, 2), 10)),
            (0, 0, 0, 2, np.full((2, 2, 2), 20)),
        ],
    )

    out = str(tmp_path / "chan_out")
    res = {
        (r["z"], r["channel"]): r["n_nonzero"]
        for r in crop_octree(
            spark,
            store,
            out,
            window=((0, 2), (0, 2), (0, 2)),
            depth=1,
            block_dims=(2, 2, 2),
        ).collect()
    }
    assert set(res) == {(z, ch) for z in range(2) for ch in (0, 2)}
    assert all(v == 4 for v in res.values())
    page = decode_tiff(
        (tmp_path / "chan_out" / "default.2.00000.tif").read_bytes()
    )[0, :, :, 0]
    assert (page == 20).all()
    assert not (tmp_path / "chan_out" / "default.1.00000.tif").exists()


def test_crop_accounting_counts_after_dtype_cast(spark, tmp_path):
    """ADVICE r5: n_nonzero must describe the bytes WRITTEN — a value
    that wraps to 0 in the output dtype (256 -> uint8) is zero on
    disk and must not be counted."""
    from hortacloud_importer_spark.pipelines import crop_octree
    from tests.store_fixtures import commit_tiff_blocks

    store = str(tmp_path / "wrap_store")
    # z-plane 0: one 256 (wraps to 0 in uint8) and one 7 (survives)
    vox = np.array([256, 7, 0, 0] + [0] * 4).reshape(2, 2, 2)
    commit_tiff_blocks(store, [(0, 0, 0, 0, vox)])

    out = str(tmp_path / "wrap_out")
    res = {
        r["z"]: r["n_nonzero"]
        for r in crop_octree(
            spark,
            store,
            out,
            window=((0, 2), (0, 2), (0, 2)),
            depth=1,
            block_dims=(2, 2, 2),
            dtype="uint8",
        ).collect()
    }
    assert res[0] == 1  # the 256 wrapped to zero; only the 7 counts
    page = decode_tiff(
        (tmp_path / "wrap_out" / "default.0.00000.tif").read_bytes()
    )[0, :, :, 0]
    assert int(np.count_nonzero(page)) == 1


def test_stack_voxels_intermediate_segment_glob(tmp_path):
    """ADVICE r6: Hadoop-style globs in INTERMEDIATE path segments
    (run*/stack.tif) expand against directories level by level — the
    binaryFile reader supported these and the stack lister must
    too."""
    from hortacloud_importer_spark.sources.listing import stack_volume
    from tests.test_listing import read_volume

    rng = np.random.default_rng(47)
    vols = [
        rng.integers(1, 250, (2, 4, 4), dtype=np.uint8) for _ in range(2)
    ]
    for i, v in enumerate(vols):
        d = tmp_path / f"run{i}"
        d.mkdir()
        (d / "stack.tif").write_bytes(encode_tiff(v))
    # a decoy that must NOT match
    decoy = tmp_path / "other"
    decoy.mkdir()
    (decoy / "stack.tif").write_bytes(
        encode_tiff(rng.integers(1, 9, (3, 4, 4), dtype=np.uint8))
    )

    volume = stack_volume(str(tmp_path / "run*" / "stack.tif"))
    assert volume.dims == (4, 4, 4)
    assert np.array_equal(read_volume(volume)[0], np.concatenate(vols))

    # glob in BOTH an intermediate and the final segment
    assert stack_volume(str(tmp_path / "run*" / "*.tif")).dims == (4, 4, 4)


def test_stack_voxels_literal_path_with_glob_chars(tmp_path):
    """Review r7: a CONCRETE directory whose name contains glob
    characters (set[1]) must keep resolving as a literal path — glob
    expansion only applies when the literal path does not exist."""
    from hortacloud_importer_spark.sources.listing import stack_volume
    from tests.test_listing import read_volume

    rng = np.random.default_rng(53)
    vol = rng.integers(1, 250, (2, 4, 4), dtype=np.uint8)
    d = tmp_path / "set[1]"
    d.mkdir()
    (d / "stack.tif").write_bytes(encode_tiff(vol))
    volume = stack_volume(str(d / "stack.tif"))
    assert volume.dims == (2, 4, 4)
    assert np.array_equal(read_volume(volume)[0], vol)
    assert stack_volume(str(d)).dims == (2, 4, 4)


def test_cli_crop_from_zarr_store(spark, tmp_path, capsys):
    """`crop -i <zarr store>` auto-detects the chunk-store input and
    exports the window without needing an octree store."""
    import json as _json

    from hortacloud_importer_spark.cli import main

    rng = np.random.default_rng(59)
    vol = rng.integers(1, 60000, (4, 4, 4)).astype(np.uint16)
    root = tmp_path / "in.zarr"
    root.mkdir()
    (root / ".zarray").write_text(
        _json.dumps(
            {
                "zarr_format": 2,
                "shape": [4, 4, 4],
                "chunks": [2, 2, 2],
                "dtype": "<u2",
                "compressor": None,
                "order": "C",
                "fill_value": 0,
            }
        )
    )
    for gz in range(2):
        for gy in range(2):
            for gx in range(2):
                blk = vol[
                    gz * 2 : gz * 2 + 2, gy * 2 : gy * 2 + 2, gx * 2 : gx * 2 + 2
                ].astype("<u2")
                (root / f"{gz}.{gy}.{gx}").write_bytes(blk.tobytes())
    out = tmp_path / "win"
    rc = main(
        [
            "crop", "-i", str(root), "-o", str(out),
            "--z", "1,3", "--y", "0,4", "--x", "2,4",
        ]
    )
    assert rc == 0
    res = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["n_slices"] == 2
    got = decode_tiff((out / "default.0.00000.tif").read_bytes())[0, :, :, 0]
    assert np.array_equal(got, vol[1, 0:4, 2:4])
