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
    dataset, a Zarr v2 array and a sharded Zarr v3 array (chunk grids
    that do not match the block grid) writes the same block files, byte
    for byte; a 2-channel c{i}/s0 hierarchy matches the 2-channel slice
    import the same way."""
    from tests.test_n5_zarr import _write_n5, _write_zarr, _write_zarr_v3_sharded

    rng = np.random.default_rng(53)
    vols = []
    for _ in range(2):
        v = rng.integers(1, 60000, (8, 16, 16)).astype(np.uint16)
        v[rng.random(v.shape) < 0.3] = 0
        v[:, 8:, 8:] = 0  # two all-zero leaf blocks, which are skipped
        vols.append(v)
    vol = vols[0]

    def imported(src, *flags):
        out = tmp_path / f"oct_{src.name}"
        rc = main(
            ["octree", "-i", str(src), "-o", str(out), "-l", "2", "-d", "2ndmax",
             *flags]
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
    want = imported(tmp_path / "slices1")
    assert len(want) == 7  # 6 leaf blocks + the root
    _write_n5(tmp_path / "raw.n5", vol, (5, 6, 3), "raw")
    _write_n5(tmp_path / "gzip.n5", vol, (5, 6, 3), "gzip")
    _write_zarr(tmp_path / "v2.zarr", vol, (3, 5, 6), {"id": "zlib", "level": 1})
    _write_zarr_v3_sharded(
        tmp_path / "v3s.zarr", vol, (4, 8, 8), (2, 4, 8),
        [{"name": "blosc", "configuration": {"cname": "lz4"}}],
    )
    for name in ("raw.n5", "gzip.n5", "v2.zarr", "v3s.zarr"):
        assert imported(tmp_path / name) == want, name

    want2 = imported(tmp_path / "slices2", "--channels", "2")
    assert len(want2) == 14
    for ch in range(2):
        _write_n5(tmp_path / "hier" / f"c{ch}" / "s0", vols[ch], (5, 6, 3), "gzip")
    assert imported(tmp_path / "hier", "--channels", "2") == want2


def test_stack_voxels_multi_file_z_offsets(spark, tmp_path):
    """A glob of uniform stacks concatenates along z in sorted-path
    order (dask imread parity); non-uniform stacks are rejected."""
    from hortacloud_importer_spark.pipelines import stack_voxels

    rng = np.random.default_rng(41)
    vols = [
        rng.integers(1, 250, (2, 4, 4), dtype=np.uint8) for _ in range(3)
    ]
    for i, v in enumerate(vols):
        (tmp_path / f"s{i:02d}.tif").write_bytes(encode_tiff(v))
    vox, dims = stack_voxels(spark, str(tmp_path / "s*.tif"))
    assert dims == (6, 4, 4)
    got = np.zeros(dims, dtype=np.int64)
    for r in vox.collect():
        got[r["z"], r["y"], r["x"]] = r["intensity"]
    assert np.array_equal(got, np.concatenate(vols).astype(np.int64))

    (tmp_path / "s99.tif").write_bytes(
        encode_tiff(rng.integers(1, 9, (3, 4, 4), dtype=np.uint8))
    )
    # non-uniform stacks now fail FAST at plan time (the driver's
    # page-table walk sees every file's geometry before any decode)
    with pytest.raises(Exception, match="uniform"):
        stack_voxels(spark, str(tmp_path / "s*.tif"))


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


def test_stack_voxels_intermediate_segment_glob(spark, tmp_path):
    """ADVICE r6: Hadoop-style globs in INTERMEDIATE path segments
    (run*/stack.tif) expand against directories level by level — the
    binaryFile reader supported these and the page-grain planner must
    too."""
    from hortacloud_importer_spark.pipelines import stack_voxels

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

    vox, dims = stack_voxels(spark, str(tmp_path / "run*" / "stack.tif"))
    assert dims == (4, 4, 4)
    got = np.zeros(dims, dtype=np.int64)
    for r in vox.collect():
        got[r["z"], r["y"], r["x"]] = r["intensity"]
    assert np.array_equal(got, np.concatenate(vols).astype(np.int64))

    # glob in BOTH an intermediate and the final segment
    vox2, dims2 = stack_voxels(spark, str(tmp_path / "run*" / "*.tif"))
    assert dims2 == (4, 4, 4)


def test_stack_voxels_literal_path_with_glob_chars(spark, tmp_path):
    """Review r7: a CONCRETE directory whose name contains glob
    characters (set[1]) must keep resolving as a literal path — glob
    expansion only applies when the literal path does not exist."""
    from hortacloud_importer_spark.pipelines import stack_voxels

    rng = np.random.default_rng(53)
    vol = rng.integers(1, 250, (2, 4, 4), dtype=np.uint8)
    d = tmp_path / "set[1]"
    d.mkdir()
    (d / "stack.tif").write_bytes(encode_tiff(vol))
    vox, dims = stack_voxels(spark, str(d / "stack.tif"))
    assert dims == (2, 4, 4)
    assert vox.count() == 32


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
