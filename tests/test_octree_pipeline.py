"""End-to-end octree build: slice TIFFs -> leaf blocks -> pyramid ->
octree-of-ZLIB-TIFF store with manifest + resume — the reference's
main-program flow (tiff2octree.py:1236-1366) as one composition."""

from __future__ import annotations

import glob
import os

import numpy as np
import pytest
from pyarrow import fs as pafs

from hortacloud_importer_spark.sources import manifest
from hortacloud_importer_spark.sources.tiff import decode_tiff, encode_tiff

_FS = pafs.LocalFileSystem()


def _write_slices(d, vol):
    d.mkdir(parents=True, exist_ok=True)
    for z, sl in enumerate(vol):
        (d / f"default.0.{z:03d}.tif").write_bytes(encode_tiff(sl[None, ...]))


def test_build_octree_end_to_end_with_resume(spark, tmp_path):
    from hortacloud_importer_spark.pipelines import build_octree

    rng = np.random.default_rng(17)
    vol = rng.integers(1, 250, (8, 8, 8), dtype=np.uint8)  # all non-zero
    _write_slices(tmp_path / "slices", list(vol))
    out = str(tmp_path / "octree")

    summary = {
        r["level"]: (r["n_blocks_written"], r["n_voxels"])
        for r in build_octree(
            spark, str(tmp_path / "slices"), out, nlevels=2, filter_="max"
        ).collect()
    }
    # level 0: 2^3 leaf blocks; level 1: the root block
    assert summary[0] == (8, 512)
    assert summary[1] == (1, 64)

    committed = sorted(manifest.committed_files(_FS, out))
    files = sorted(
        p.split(f"{out}/")[1] for p in glob.glob(f"{out}/**/*.tif", recursive=True)
    )
    assert files == committed
    assert files == [f"{d}/default.0.tif" for d in "12345678"] + ["default.0.tif"]

    # leaf blocks hold the original voxels at the right octant
    for zi in range(2):
        for yi in range(2):
            for xi in range(2):
                digit = 1 + xi + 2 * yi + 4 * zi
                got = decode_tiff(
                    (tmp_path / "octree" / str(digit) / "default.0.tif").read_bytes()
                )[..., 0]
                want = vol[
                    zi * 4 : zi * 4 + 4, yi * 4 : yi * 4 + 4, xi * 4 : xi * 4 + 4
                ]
                assert np.array_equal(got, want.astype(np.uint16))

    # the root block is the 2x2x2 non-zero max (zero-is-NULL max; all
    # values non-zero here, so the plain window max)
    root = decode_tiff((tmp_path / "octree" / "default.0.tif").read_bytes())[..., 0]
    want_root = vol.reshape(4, 2, 4, 2, 4, 2).max(axis=(1, 3, 5))
    assert np.array_equal(root, want_root.astype(np.uint16))

    # resume: a second run skips every committed block (the manifest
    # paths are cogrouped into the subtree kernel)
    resumed = {
        r["level"]: r["n_blocks_written"]
        for r in build_octree(
            spark, str(tmp_path / "slices"), out, nlevels=2, filter_="max"
        ).collect()
    }
    assert resumed == {0: 0, 1: 0}
    assert sorted(manifest.committed_files(_FS, out)) == committed


def test_build_octree_pads_non_divisible_dims_multichannel(spark, tmp_path):
    """dims (7,6,5) x 2 channels, nlevels=2: edge blocks zero-pad to
    the (4,3,3) block grid instead of scrambling or crashing; every
    stored voxel matches the padded source per channel."""
    from hortacloud_importer_spark.pipelines import build_octree
    from hortacloud_importer_spark.sources.block_store import (
        read_tiff_block_store,
    )

    rng = np.random.default_rng(23)
    vol = rng.integers(1, 60000, (2, 7, 6, 5), dtype=np.uint16)  # (ch, z, y, x)
    rows = [
        (int(z), int(y), int(x), int(c), int(vol[c, z, y, x]))
        for c in range(2)
        for z in range(7)
        for y in range(6)
        for x in range(5)
    ]
    voxels = spark.createDataFrame(
        rows, "z int, y int, x int, channel int, intensity int"
    )
    out = str(tmp_path / "odd_octree")
    summary = {
        r["level"]: r["n_blocks_written"]
        for r in build_octree(
            spark, voxels, out, nlevels=2, filter_="max", dims=(7, 6, 5)
        ).collect()
    }
    assert summary == {0: 16, 1: 2}  # 8 leaf blocks + root, per channel

    padded = np.zeros((2, 8, 6, 6), dtype=np.uint16)
    padded[:, :7, :, :5] = vol
    back = read_tiff_block_store(spark, out)
    leaf = [r for r in back.collect() if r["depth"] == 1]
    assert len(leaf) == 16
    assert all(r["shape"] == [4, 3, 3] for r in leaf)
    for r in leaf:
        zi, yi, xi, c = r["zi"], r["yi"], r["xi"], r["channel"]
        want = padded[
            c, zi * 4 : zi * 4 + 4, yi * 3 : yi * 3 + 3, xi * 3 : xi * 3 + 3
        ]
        assert np.array_equal(
            np.array(r["voxels"], dtype=np.uint16).reshape(4, 3, 3), want
        ), (zi, yi, xi, c)


def test_tiff_octree_to_ktx_full_chain(spark, tmp_path):
    """The reference's second main program: TIFF octree -> per-block
    mip chains -> KTX store. Verifies mip 0 equals the stored block
    and mip 1 equals the independent NumPy window-max."""
    from pyspark.sql import functions as F

    from hortacloud_importer_spark.pipelines import (
        build_octree,
        tiff_octree_to_ktx,
    )
    from hortacloud_importer_spark.sources.ktx import ktx_decode_blocks

    rng = np.random.default_rng(29)
    vol = rng.integers(1, 60000, (8, 8, 8), dtype=np.uint16)  # all non-zero
    rows = [
        (int(z), int(y), int(x), 0, int(vol[z, y, x]))
        for z in range(8)
        for y in range(8)
        for x in range(8)
    ]
    voxels = spark.createDataFrame(
        rows, "z int, y int, x int, channel int, intensity int"
    )
    store = str(tmp_path / "tiff_store")
    build_octree(spark, voxels, store, nlevels=2, filter_="max", dims=(8, 8, 8))

    ktx_out = str(tmp_path / "ktx_store")
    summary = tiff_octree_to_ktx(
        spark, store, ktx_out, block_dims=(4, 4, 4), n_mips=3,
        filter_="max", depth=1,
    ).first()
    assert summary["n_files"] == 8  # one KTX per leaf block
    assert summary["n_blocks"] == 8

    decoded = ktx_decode_blocks(
        spark.read.format("binaryFile")
        .load(f"{ktx_out}/*.ktx")
        .select(F.col("content").alias("ktx"))
    ).collect()
    assert len(decoded) == 8 * 3  # 3 mips per block
    for r in decoded:
        # recover block coords from the metadata-free decode: match by
        # payload against every block at this mip level
        if r["level"] == 0:
            arr = np.array(r["voxels"], dtype=np.uint16).reshape(4, 4, 4)
            found = any(
                np.array_equal(
                    arr,
                    vol[zi * 4 : zi * 4 + 4, yi * 4 : yi * 4 + 4, xi * 4 : xi * 4 + 4],
                )
                for zi in range(2)
                for yi in range(2)
                for xi in range(2)
            )
            assert found
        elif r["level"] == 1:
            arr = np.array(r["voxels"], dtype=np.uint16).reshape(2, 2, 2)
            found = any(
                np.array_equal(
                    arr,
                    vol[zi * 4 : zi * 4 + 4, yi * 4 : yi * 4 + 4, xi * 4 : xi * 4 + 4]
                    .reshape(2, 2, 2, 2, 2, 2)
                    .max(axis=(1, 3, 5)),
                )
                for zi in range(2)
                for yi in range(2)
                for xi in range(2)
            )
            assert found
        else:
            assert len(r["voxels"]) == 1  # 1^3 root mip


def test_build_octree_from_two_channel_slices(spark, tmp_path):
    """channels=2: per-channel z-ordered scans feed one build; each
    channel's leaf files land beside each other under the octants."""
    from hortacloud_importer_spark.pipelines import build_octree

    rng = np.random.default_rng(37)
    d = tmp_path / "slices2"
    d.mkdir()
    vols = {}
    for ch in range(2):
        vol = rng.integers(1, 250, (4, 4, 4)).astype(np.uint8)
        vols[ch] = vol
        for z in range(4):
            (d / f"default.{ch}.{z:03d}.tif").write_bytes(
                encode_tiff(vol[z][None, ...])
            )
    out = str(tmp_path / "oct2")
    summary = {
        r["level"]: r["n_blocks_written"]
        for r in build_octree(
            spark, str(d), out, nlevels=2, filter_="max", channels=2
        ).collect()
    }
    assert summary == {0: 16, 1: 2}
    for ch in range(2):
        for zi, yi, xi in [(0, 0, 0), (1, 1, 1)]:
            digit = 1 + xi + 2 * yi + 4 * zi
            got = decode_tiff(
                (tmp_path / "oct2" / str(digit) / f"default.{ch}.tif").read_bytes()
            )[..., 0]
            want = vols[ch][
                zi * 2 : zi * 2 + 2, yi * 2 : yi * 2 + 2, xi * 2 : xi * 2 + 2
            ]
            assert np.array_equal(got, want.astype(np.uint16)), (ch, zi, yi, xi)


def test_build_octree_with_neighborhood_kernel_filter(spark, tmp_path):
    """-d aa|spline parity (tiff2octree.py:244-261): non-level-0
    levels come from the neighborhood kernel applied per block, the 8
    half-size siblings tiled into each parent block — matching the
    reference's per-block map_blocks kernels. Root block must equal
    the NumPy kernel applied to each leaf block, assembled."""
    from hortacloud_importer_spark.operators.kernels import KERNELS
    from hortacloud_importer_spark.pipelines import build_octree

    rng = np.random.default_rng(53)
    vol = rng.integers(1, 60000, (8, 8, 8)).astype(np.uint16)
    _write_slices(tmp_path / "slices_aa", list(vol))

    for kernel in ("aa", "spline3"):
        out = str(tmp_path / f"oct_{kernel}")
        summary = {
            r["level"]: r["n_blocks_written"]
            for r in build_octree(
                spark,
                str(tmp_path / "slices_aa"),
                out,
                nlevels=2,
                filter_=kernel,
            ).collect()
        }
        assert summary == {0: 8, 1: 1}
        root = decode_tiff(
            (tmp_path / f"oct_{kernel}" / "default.0.tif").read_bytes()
        )[..., 0]
        want = np.zeros((4, 4, 4), dtype=np.int64)
        fn = KERNELS[kernel]
        for zi in range(2):
            for yi in range(2):
                for xi in range(2):
                    blk = vol[
                        zi * 4 : zi * 4 + 4,
                        yi * 4 : yi * 4 + 4,
                        xi * 4 : xi * 4 + 4,
                    ].astype(np.int64)
                    want[
                        zi * 2 : zi * 2 + 2,
                        yi * 2 : yi * 2 + 2,
                        xi * 2 : xi * 2 + 2,
                    ] = fn(blk)
        assert np.array_equal(root.astype(np.int64), want), kernel


def test_build_octree_rejects_bad_filters(spark, tmp_path):
    from hortacloud_importer_spark.pipelines import build_octree
    from hortacloud_importer_spark.volume import synthetic_volume

    v = synthetic_volume(spark, 4, 4, 4)
    with pytest.raises(ValueError, match="unknown filter"):
        build_octree(spark, v, str(tmp_path / "x"), 2, filter_="nope", dims=(4, 4, 4))
    # odd block dims with a neighborhood kernel would drop planes
    with pytest.raises(ValueError, match="even block dims"):
        build_octree(
            spark,
            synthetic_volume(spark, 6, 6, 6),
            str(tmp_path / "y"),
            2,
            filter_="aa",
            dims=(6, 6, 6),
        )


def test_optimal_nlevels_matches_reference_rule():
    """calc_optimal_nlevels dual (tiff2octree.py:617-625): smallest
    level count whose leaf blocks fall under 512^3."""
    from hortacloud_importer_spark.pipelines import optimal_nlevels

    assert optimal_nlevels((8, 8, 8)) == 1
    assert optimal_nlevels((512, 512, 512)) == 2
    assert optimal_nlevels((511, 511, 511)) == 1
    assert optimal_nlevels((1024, 1024, 1024)) == 3
    # non-cubic: only the PRODUCT matters
    assert optimal_nlevels((2048, 512, 128)) == 2


def _stored_blocks(root):
    """{(depth, zi, yi, xi, channel): block} for every block file of an
    octree store, with the coordinates read off the path digits."""
    out = {}
    for p in glob.glob(f"{root}/**/default.*.tif", recursive=True):
        parts = os.path.relpath(p, root).split(os.sep)
        zi = yi = xi = 0
        for digit in parts[:-1]:
            o = int(digit) - 1
            zi, yi, xi = 2 * zi + (o >> 2 & 1), 2 * yi + (o >> 1 & 1), 2 * xi + (o & 1)
        ch = int(parts[-1].split(".")[1])
        with open(p, "rb") as fh:
            block = decode_tiff(fh.read())[..., 0]
        out[(len(parts) - 1, zi, yi, xi, ch)] = block.astype(np.int64)
    return out


def expected_blocks(vols, nlevels, block_dims, filter_):
    """The same map from NumPy alone: each channel's zero-padded dense
    volume halved level by level with the loop mirror
    (tests/test_volume.py::np_downsample), cut into ``block_dims``
    blocks, all-zero blocks skipped."""
    from tests.test_volume import np_downsample

    bz, by, bx = block_dims
    out = {}
    for ch, vol in enumerate(vols):
        for level in range(nlevels):
            if level:
                vol = np_downsample(vol, filter_)
            gz, gy, gx = vol.shape[0] // bz, vol.shape[1] // by, vol.shape[2] // bx
            for zi in range(gz):
                for yi in range(gy):
                    for xi in range(gx):
                        blk = vol[
                            zi * bz : (zi + 1) * bz,
                            yi * by : (yi + 1) * by,
                            xi * bx : (xi + 1) * bx,
                        ]
                        if blk.any():
                            key = (nlevels - 1 - level, zi, yi, xi, ch)
                            out[key] = blk.astype(np.int64)
    return out


def _assert_store(root, want):
    got = _stored_blocks(root)
    assert sorted(got) == sorted(want)
    for k in want:
        assert np.array_equal(got[k], want[k]), k


def dense_volume(voxels, dims, channels=1):
    """A voxels DataFrame collected into a (channel, z, y, x) array."""
    out = np.zeros((channels, *dims), dtype=np.int64)
    for r in voxels.collect():
        out[r["channel"], r["z"], r["y"], r["x"]] = r["intensity"]
    return out


@pytest.mark.parametrize("filt", ["arthur", "mean", "max"])
def test_fused_build_matches_global_aggregate_byte_for_byte(
    spark, tmp_path, filt
):
    """The subtree kernel (np_halve over each subtree's region)
    stores every level exactly as the NumPy loop mirror halves the
    whole dense volume — including odd block extents (dims 20^3 / 3
    levels -> 5^3 blocks), where the equality rests on 2x2x2 cubes
    never crossing a parent's region. The name predates the removal
    of the global aggregate build path; the reference is now the loop
    mirror."""
    from hortacloud_importer_spark.pipelines import build_octree
    from hortacloud_importer_spark.volume import synthetic_volume

    out = str(tmp_path / f"store_{filt}")
    v = synthetic_volume(spark, 20, 20, 20, zero_fraction_mod=4)
    build_octree(
        spark, v, out, nlevels=3, filter_=filt, dims=(20, 20, 20)
    ).count()
    want = expected_blocks(
        dense_volume(v, (20, 20, 20)), 3, (5, 5, 5), filt
    )
    _assert_store(out, want)


def test_fused_kernel_build_matches_voxel_row_assembly(spark, tmp_path):
    """The subtree kernel places each aa-halved leaf at its octant of
    the root: the root equals ``_kernel_aa`` applied per leaf block
    and tiled; the leaves are the source blocks. The name predates the
    removal of the voxel-row assembly; the reference is now NumPy."""
    from hortacloud_importer_spark.operators.kernels import _kernel_aa
    from hortacloud_importer_spark.pipelines import build_octree
    from hortacloud_importer_spark.volume import synthetic_volume

    out = str(tmp_path / "kstore")
    v = synthetic_volume(spark, 16, 16, 16, zero_fraction_mod=5)
    build_octree(
        spark, v, out, nlevels=2, filter_="aa", dims=(16, 16, 16)
    ).count()
    leaves = {
        k: b
        for k, b in expected_blocks(
            dense_volume(v, (16, 16, 16)), 2, (8, 8, 8), "max"
        ).items()
        if k[0] == 1
    }
    root = np.zeros((8, 8, 8), dtype=np.int64)
    for (_, zi, yi, xi, _), blk in leaves.items():
        root[
            zi * 4 : zi * 4 + 4, yi * 4 : yi * 4 + 4, xi * 4 : xi * 4 + 4
        ] = _kernel_aa(blk)
    _assert_store(out, {**leaves, (0, 0, 0, 0, 0): root})


def test_fused_slice_ingest_matches_voxel_path(spark, tmp_path):
    """The windowed slice read of the first pass (_window_pass) stores
    the zero-padded source — odd dims exercise the y/x/z canvas padding —
    and the pyramid above it matches the NumPy mirror. The name
    predates the removal of the voxel-row ingest; the reference is
    now NumPy."""
    from hortacloud_importer_spark.pipelines import build_octree

    rng = np.random.default_rng(31)
    vol = rng.integers(0, 60000, (7, 6, 5)).astype(np.uint16)
    _write_slices(tmp_path / "fslices", list(vol))
    out = str(tmp_path / "fstore")
    build_octree(
        spark, str(tmp_path / "fslices"), out, nlevels=2, filter_="max"
    ).count()
    padded = np.zeros((8, 6, 6), dtype=np.int64)
    padded[:7, :, :5] = vol
    _assert_store(out, expected_blocks([padded], 2, (4, 3, 3), "max"))


def test_slice_with_other_dims_fails_before_any_commit(spark, tmp_path):
    """An 8-slice 32x32 directory whose slice 5 is 40x24: the build
    fails with a ValueError naming that file and both shapes, and
    nothing is committed (before, the slice was cropped and
    zero-padded into the volume and the build committed)."""
    from hortacloud_importer_spark.pipelines import build_octree

    rng = np.random.default_rng(41)
    slices = [rng.integers(1, 60000, (32, 32)).astype(np.uint16) for _ in range(8)]
    slices[5] = rng.integers(1, 60000, (40, 24)).astype(np.uint16)
    _write_slices(tmp_path / "odd", slices)
    out = str(tmp_path / "odd_store")
    with pytest.raises(Exception) as err:
        build_octree(spark, str(tmp_path / "odd"), out, nlevels=2).count()
    msg = str(err.value)
    assert "ValueError" in msg and "default.0.005.tif" in msg, msg[-2000:]
    assert "(40, 24)" in msg and "(32, 32)" in msg, msg[-2000:]
    _assert_reads_no_block(spark, out, tmp_path)


def _assert_reads_no_block(spark, out, tmp_path):
    """A build that failed inside a task committed nothing, but its
    store is opened: whatever its tasks left is read as no block by
    the block reader, the channel listing and the KTX pass."""
    from hortacloud_importer_spark.pipelines import tiff_octree_to_ktx
    from hortacloud_importer_spark.sources.block_store import (
        read_tiff_block_store,
        store_channels,
    )

    assert manifest.committed_files(_FS, out) == set()
    assert read_tiff_block_store(spark, out).count() == 0
    assert store_channels(out) == []
    ktx = str(tmp_path / "ktx_of_failed_store")
    (res,) = tiff_octree_to_ktx(spark, out, ktx, (4, 16, 16), 1).collect()
    assert res["n_files"] == 0


def test_truncated_slice_mid_volume_fails_before_any_commit(spark, tmp_path):
    """Slice 3 of 8 cut to half its bytes: the build fails in the
    first pass's kernel with the TIFF codec's named error and the
    file's path, and nothing is committed."""
    from hortacloud_importer_spark.pipelines import build_octree

    rng = np.random.default_rng(43)
    _write_slices(
        tmp_path / "cut",
        [rng.integers(1, 60000, (32, 32)).astype(np.uint16) for _ in range(8)],
    )
    bad = tmp_path / "cut" / "default.0.003.tif"
    bad.write_bytes(bad.read_bytes()[: bad.stat().st_size // 2])
    out = str(tmp_path / "cut_store")
    with pytest.raises(Exception) as err:
        build_octree(spark, str(tmp_path / "cut"), out, nlevels=2).count()
    msg = str(err.value)
    assert f"TiffParseError: {bad}: " in msg, msg[-2000:]
    _assert_reads_no_block(spark, out, tmp_path)


def test_multipage_slice_mid_volume_fails_before_any_commit(spark, tmp_path):
    """Slice 6 of 8 holds two pages: the build fails in the first
    pass's kernel with a ValueError naming the file and its shape,
    before any payload of it is decoded, and nothing is committed."""
    from hortacloud_importer_spark.pipelines import build_octree

    rng = np.random.default_rng(45)
    _write_slices(
        tmp_path / "pages",
        [rng.integers(1, 60000, (32, 32)).astype(np.uint16) for _ in range(8)],
    )
    bad = tmp_path / "pages" / "default.0.006.tif"
    bad.write_bytes(encode_tiff(np.ones((2, 32, 32), dtype=np.uint16)))
    out = str(tmp_path / "pages_store")
    with pytest.raises(Exception) as err:
        build_octree(spark, str(tmp_path / "pages"), out, nlevels=2).count()
    msg = str(err.value)
    assert f"ValueError: {bad}: slice file has shape (2, 32, 32, 1)" in msg, msg[-2000:]
    _assert_reads_no_block(spark, out, tmp_path)


def test_list_slices_reads_only_the_first_slice_header(tmp_path, monkeypatch):
    """The driver's listing takes each channel's shape from a seek-based
    header walk of its first slice: no slice is read whole, and only
    header bytes are fetched (the payload of a 64x64 uint16 slice is
    8 KiB)."""
    from hortacloud_importer_spark.sources.listing import _list_slices
    from hortacloud_importer_spark.sources import datasource

    rng = np.random.default_rng(47)
    _write_slices(
        tmp_path / "s",
        [rng.integers(1, 60000, (48, 64)).astype(np.uint16) for _ in range(3)],
    )

    def no_whole_read(path):
        raise AssertionError(f"read whole: {path}")

    fetched = []
    real_fs = datasource._pa_fs

    class Counting:
        def __init__(self, fh):
            self._fh = fh

        def read(self, n=-1):
            out = self._fh.read(n)
            fetched.append(len(out))
            return out

        def __getattr__(self, name):
            return getattr(self._fh, name)

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self._fh.close()

    class CountingFs:
        def __init__(self, fs):
            self._fs = fs

        def open_input_file(self, p):
            return Counting(self._fs.open_input_file(p))

        def __getattr__(self, name):
            return getattr(self._fs, name)

    monkeypatch.setattr(datasource, "_read_bytes", no_whole_read)
    monkeypatch.setattr(
        datasource, "_pa_fs",
        lambda p: (CountingFs(real_fs(p)[0]), real_fs(p)[1]),
    )
    files, shapes = _list_slices(str(tmp_path / "s"), 1)
    assert len(files[0]) == 3 and shapes == [(48, 64)]
    assert 0 < sum(fetched) < 48 * 64 * 2, fetched


def test_multipage_first_slice_fails_at_listing_naming_it(spark, tmp_path):
    """A first slice with two pages fails the driver's header walk,
    before any Spark job, with a ValueError naming the file."""
    from hortacloud_importer_spark.pipelines import build_octree

    rng = np.random.default_rng(49)
    _write_slices(
        tmp_path / "p0",
        [rng.integers(1, 60000, (32, 32)).astype(np.uint16) for _ in range(4)],
    )
    bad = tmp_path / "p0" / "default.0.000.tif"
    bad.write_bytes(encode_tiff(np.ones((2, 32, 32), dtype=np.uint16)))
    out = str(tmp_path / "p0_store")
    with pytest.raises(ValueError, match=f"{bad}: slice file has shape \\(2, 32, 32, 1\\)"):
        build_octree(spark, str(tmp_path / "p0"), out, nlevels=2)
    assert not os.path.exists(out)


def test_gap_in_z_fails_before_any_commit(spark, tmp_path):
    """Slices default.0.000-007 without 004: the build fails before any
    Spark job with a ValueError naming the files on both sides of the
    gap, and nothing is committed. The check is per channel."""
    from hortacloud_importer_spark.pipelines import build_octree

    rng = np.random.default_rng(47)
    vol = rng.integers(1, 60000, (8, 16, 16)).astype(np.uint16)
    _write_slices(tmp_path / "gap", list(vol))
    (tmp_path / "gap" / "default.0.004.tif").unlink()
    out = str(tmp_path / "gap_store")
    with pytest.raises(ValueError, match="slice z gap") as err:
        build_octree(spark, str(tmp_path / "gap"), out, nlevels=2)
    msg = str(err.value)
    assert "default.0.003.tif" in msg and "default.0.005.tif" in msg, msg
    assert manifest.committed_files(_FS, out) is None

    d = tmp_path / "gap2"
    d.mkdir()
    for ch in range(2):
        for z in range(4):
            if (ch, z) != (1, 2):
                (d / f"default.{ch}.{z:03d}.tif").write_bytes(
                    encode_tiff(vol[z][None, ...])
                )
    with pytest.raises(ValueError, match="default.1.001.tif.*default.1.003.tif"):
        build_octree(spark, str(d), str(tmp_path / "gap2_store"), 2, channels=2)


def test_z_gap_check_needs_an_index_on_every_name():
    """Names that do not all end in a decimal index are ordered by name
    only; consecutive indices pass, with or without zero padding."""
    from hortacloud_importer_spark.sources.listing import _check_z_run

    _check_z_run(["/d/a.tif", "/d/b7.tif", "/d/c9.tif"], ".tif")
    _check_z_run(["/d/s.000098.tif", "/d/s.000099.tif", "/d/s.000100.tif"], ".tif")
    _check_z_run(["s3://b/d/7.jp2?region=x", "s3://b/d/8.jp2?region=x"], ".jp2")
    with pytest.raises(ValueError, match=r"/d/s\.1\.tif \(index 1\) is followed by /d/s\.3\.tif"):
        _check_z_run(["/d/s.0.tif", "/d/s.1.tif", "/d/s.3.tif"], ".tif")


def test_slice_build_lists_the_directory_once(spark, tmp_path, monkeypatch):
    """One build over a 2-channel slice directory lists it once: the
    suffix, each channel's z order and the dims all come from that one
    listing."""
    from hortacloud_importer_spark.pipelines import build_octree
    from hortacloud_importer_spark.sources import datasource

    d = tmp_path / "once"
    d.mkdir()
    rng = np.random.default_rng(53)
    for ch in range(2):
        for z in range(4):
            (d / f"default.{ch}.{z:03d}.tif").write_bytes(
                encode_tiff(rng.integers(1, 250, (1, 8, 8)).astype(np.uint8))
            )
    calls = []
    listed = datasource._list_files

    def counting(root):
        calls.append(root)
        return listed(root)

    monkeypatch.setattr(datasource, "_list_files", counting)
    build_octree(
        spark, str(d), str(tmp_path / "once_store"), 2, channels=2,
        resume=False,
    ).count()
    assert calls == [str(d)]


def test_slice_build_plans_no_python_data_source_scan(spark, tmp_path, monkeypatch):
    """The first pass over a slice directory is one mapInPandas kernel
    over a local work list of subtree roots: no Python data source
    scan, no shuffle, one task per subtree up to defaultParallelism."""
    from hortacloud_importer_spark.pipelines import build_octree, octree

    rng = np.random.default_rng(59)
    _write_slices(
        tmp_path / "plan",
        [rng.integers(1, 60000, (16, 16)).astype(np.uint16) for _ in range(8)],
    )
    seen = []
    run_pass = octree._window_pass

    class _Stop(Exception):
        pass

    def first_pass(*args):
        seen.append(run_pass(*args))
        raise _Stop

    monkeypatch.setattr(octree, "_window_pass", first_pass)
    # a budget under 8 blocks: each leaf block is its own subtree
    monkeypatch.setattr(octree, "_SUBTREE_BYTES", 0)
    with pytest.raises(_Stop):
        build_octree(spark, str(tmp_path / "plan"), str(tmp_path / "plan_out"), 2)
    (out,) = seen
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "LocalTableScan" in plan, plan
    for node in ("BatchScan", "(Python)", "Exchange"):
        assert node not in plan, plan
    parallelism = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == min(8, parallelism)


def test_fused_ingest_clips_slices_beyond_padded_grid(spark, tmp_path):
    """A slice dir with more files than the caller's dims: slices past
    the padded grid are dropped — a stray z would otherwise alias onto
    an in-grid octree path — while slices inside the padding are
    kept."""
    from hortacloud_importer_spark.pipelines import build_octree

    rng = np.random.default_rng(37)
    vol = rng.integers(1, 60000, (9, 6, 5)).astype(np.uint16)
    _write_slices(tmp_path / "clipslices", list(vol))  # 9 files, dims say 7
    out = str(tmp_path / "clipstore")
    build_octree(
        spark,
        str(tmp_path / "clipslices"),
        out,
        nlevels=2,
        filter_="max",
        dims=(7, 6, 5),
    ).count()
    padded = np.zeros((8, 6, 6), dtype=np.int64)
    padded[:, :, :5] = vol[:8]
    _assert_store(out, expected_blocks([padded], 2, (4, 3, 3), "max"))


def test_slice_listing_takes_only_the_directory_own_files(spark, tmp_path):
    """An octree written inside the slice directory is not more z
    slices: the build and the ``tiff_volume`` reader list the
    directory's own files only. The slice names end in no index, so
    no z-run check could catch the extra file either."""
    from hortacloud_importer_spark.pipelines import build_octree
    from hortacloud_importer_spark.sources.datasource import (
        register_volume_sources,
    )

    rng = np.random.default_rng(61)
    vol = rng.integers(1, 60000, (4, 6, 6)).astype(np.uint16)
    d = tmp_path / "nested"
    d.mkdir()
    for name, sl in zip("abcd", vol):
        (d / f"slice_{name}.tif").write_bytes(encode_tiff(sl[None, ...]))
    (d / "out" / "1").mkdir(parents=True)
    (d / "out" / "1" / "default.0.tif").write_bytes(
        encode_tiff(np.full((1, 6, 6), 7, dtype=np.uint16))
    )
    out = str(tmp_path / "nested_store")
    summary = build_octree(spark, str(d), out, nlevels=1, filter_="max").collect()
    assert [r["n_voxels"] for r in summary] == [4 * 6 * 6]
    _assert_store(out, expected_blocks([vol.astype(np.int64)], 1, (4, 6, 6), "max"))

    register_volume_sources(spark)
    slices = spark.read.format("tiff_volume").option("emit", "slices").load(str(d))
    assert sorted(r["z"] for r in slices.select("z").collect()) == [0, 1, 2, 3]
