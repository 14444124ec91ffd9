"""The per-block KTX converter (pipelines/ktx.py::_block_converter,
run by ``_write_ktx_blocks``) across every pass-2 option, checked against
an independent NumPy reference, and its map-only physical plan.

The reference's KTX pass is one task per octree node
(ktx_from_rendered_tiff.py:331-427); the converter keeps that
block-locality — stats, requant, XY halving, mip chain, and encode all
run inside one executor kernel that reads its block's file(s) — so
the single-channel conversion plans with no payload exchange at any
store size."""

from __future__ import annotations

import glob
import os
import re

import numpy as np
import pytest

from hortacloud_importer_spark.pipelines import (
    build_octree,
    tiff_octree_to_ktx,
)
from hortacloud_importer_spark.sources.ktx import decode_ktx
from hortacloud_importer_spark.volume import geometry as G
from hortacloud_importer_spark.volume import synthetic_volume

from tests.test_octree_pipeline import dense_volume, expected_blocks
from tests.test_volume import np_downsample


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("fused") / "store")
    v = synthetic_volume(spark, 16, 16, 16, zero_fraction_mod=5)
    build_octree(
        spark, v, root, nlevels=2, filter_="arthur", dims=(16, 16, 16)
    )
    return root


def _convert(spark, store, tmp, **kw):
    out = str(tmp / f"ktx_{'_'.join(sorted(kw))}")
    tiff_octree_to_ktx(
        spark,
        store,
        out,
        block_dims=(8, 8, 8),
        n_mips=3,
        filter_="arthur",
        **kw,
    ).count()
    return out


def _files(root):
    return {
        os.path.relpath(p, root): open(p, "rb").read()
        for p in glob.glob(f"{root}/**/*.ktx", recursive=True)
    }


def _expected_ktx(vols, n_mips, downsample_intensity=False,
                  downsample_xy=False, interleave=False):
    """{file name: (mip arrays, per-channel input percentiles)} of a
    16^3 / 2-level arthur store, from NumPy alone: the octree's blocks
    from the loop mirror, requant via volume.geometry, XY halving and
    the mip chain via the loop mirror. Interleaved mips are
    (z, y, x, channel)."""
    blocks = expected_blocks(vols, 2, (8, 8, 8), "arthur")
    per_file = {}
    for (depth, zi, yi, xi, ch), blk in sorted(blocks.items()):
        pct = G.nonzero_percentiles(np.bincount(blk.ravel(), minlength=G.N_BINS))
        arr = blk
        if downsample_intensity:
            arr = G.requantize(arr, *G.intensity_downsample_params(pct))
        if downsample_xy:
            arr = np_downsample(arr, "arthur", axes=(False, True, True))
        mips = [arr]
        for _ in range(1, n_mips):
            mips.append(np_downsample(mips[-1], "arthur"))
        tag = f"_d{depth}" if depth else ""
        name = f"block_{zi}_{yi}_{xi}{tag}_ch{-1 if interleave else ch}.ktx"
        per_file.setdefault(name, []).append((mips, pct))
    return {
        name: (
            [np.stack([c[0][lv] for c in chans], axis=-1) for lv in range(n_mips)],
            [c[1] for c in chans],
        )
        for name, chans in per_file.items()
    }


def _assert_ktx(out_dir, want, itemsize):
    from hortacloud_importer_spark.sources.ktx import GL_UNSIGNED_BYTE

    got = _files(out_dir)
    assert sorted(got) == sorted(want)
    dtype = np.uint8 if itemsize == 1 else np.uint16
    for name, (mips, pcts) in want.items():
        header, payloads = decode_ktx(got[name])
        assert (header.gl_type == GL_UNSIGNED_BYTE) == (itemsize == 1)
        assert len(payloads) == len(mips), name
        for lv, (raw, m) in enumerate(zip(payloads, mips)):
            arr = np.frombuffer(raw, dtype=dtype)
            assert np.array_equal(arr, m.ravel()), (name, lv)
        # the header's quantiles describe the INPUT intensities
        for c, pct in enumerate(pcts):
            key = f"channel_{c}_intensity_quantiles".encode()
            assert header.metadata[key].rstrip(b"\x00").decode() == str(
                [int(pct[10 * p]) for p in range(11)]
            ), (name, c)


@pytest.mark.parametrize(
    "kw",
    [
        {"downsample_intensity": True, "downsample_xy": True},
        {"interleave": True},
    ],
    ids=["requant_xy_metadata", "interleave"],
)
def test_fused_matches_unfused_byte_for_byte(spark, store, tmp_path, kw):
    """Every mip of every KTX file equals the NumPy reference, and the
    header quantiles describe the input block. The name predates the
    removal of the distributed-aggregate conversion it was compared
    with."""
    vols = dense_volume(
        synthetic_volume(spark, 16, 16, 16, zero_fraction_mod=5),
        (16, 16, 16),
    )
    want = _expected_ktx(vols, 3, **kw)
    assert len(want) == 9
    _assert_ktx(
        _convert(spark, store, tmp_path, **kw),
        want,
        1 if kw.get("downsample_intensity") else 2,
    )


def _spy_kernels(monkeypatch):
    """A list that collects the kernel DataFrame of every
    ``_write_ktx_blocks`` call ``tiff_octree_to_ktx`` makes."""
    from hortacloud_importer_spark.pipelines import ktx

    real, kernels = ktx._write_ktx_blocks, []

    def spy(*args, **kwargs):
        kernels.append(real(*args, **kwargs))
        return kernels[-1]

    monkeypatch.setattr(ktx, "_write_ktx_blocks", spy)
    return kernels


def _assert_local_map_plan(kernel):
    plan = kernel._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "LocalTableScan" in plan, plan
    for node in ("Exchange", "FileScan", "Join", "FlatMapGroupsInPandas"):
        assert node not in plan, plan


def test_fused_single_channel_plan_has_no_exchange(
    spark, store, tmp_path, monkeypatch
):
    """The plan tiff_octree_to_ktx runs for one channel: MapInPandas
    over a local relation of per-file PATH rows — no grouped map, no
    exchange, no file scan, no join — spread over defaultParallelism
    tasks at most."""
    kernels = _spy_kernels(monkeypatch)
    _convert(spark, store, tmp_path)
    (kernel,) = kernels
    _assert_local_map_plan(kernel)
    parallelism = spark.sparkContext.defaultParallelism
    assert kernel.rdd.getNumPartitions() == min(9, parallelism)


def test_delete_source_reclaims_store_after_commit(spark, tmp_path):
    """delete_source (the reference's --ktxonly cleanup,
    tiff2octree.py:508-515, 1153-1162): sub-root source blocks are
    deleted after the KTX manifest commits, root default.{ch}.tif
    files move beside the KTX output's parent, and the KTX store
    itself is complete."""
    root = str(tmp_path / "reclaim" / "store")
    v = synthetic_volume(spark, 16, 16, 16, zero_fraction_mod=5)
    build_octree(
        spark, v, root, nlevels=2, filter_="arthur", dims=(16, 16, 16)
    )
    out = str(tmp_path / "reclaim" / "ktx")
    res = tiff_octree_to_ktx(
        spark,
        root,
        out,
        block_dims=(8, 8, 8),
        n_mips=2,
        filter_="arthur",
        delete_source=True,
    ).first()
    assert res["n_files"] == 9
    # all 8 leaf (depth-1) blocks reclaimed; the root file moved next
    # to the KTX output (same parent dir as the store here)
    assert glob.glob(f"{root}/*/default.*.tif") == []
    assert not os.path.exists(f"{root}/default.0.tif")
    parent = str(tmp_path / "reclaim")
    assert os.path.exists(f"{parent}/default.0.tif")
    assert len(glob.glob(f"{out}/**/*.ktx", recursive=True)) == 9


def test_delete_source_depth0_moves_root_instead_of_deleting(
    spark, tmp_path
):
    """A root-only conversion (depth=0) with delete_source must MOVE
    the root slices beside the KTX output, never delete them — the
    reference's level > 1 guard (tiff2octree.py:508)."""
    root = str(tmp_path / "d0" / "store")
    v = synthetic_volume(spark, 16, 16, 16, zero_fraction_mod=5)
    build_octree(
        spark, v, root, nlevels=2, filter_="arthur", dims=(16, 16, 16)
    )
    out = str(tmp_path / "d0" / "ktx")
    tiff_octree_to_ktx(
        spark,
        root,
        out,
        block_dims=(16, 16, 16),
        n_mips=2,
        filter_="arthur",
        depth=0,
        delete_source=True,
    ).count()
    # leaf blocks untouched, root file moved (not deleted)
    assert len(glob.glob(f"{root}/*/default.*.tif")) == 8
    assert not os.path.exists(f"{root}/default.0.tif")
    assert os.path.exists(str(tmp_path / "d0" / "default.0.tif"))


@pytest.fixture(scope="module")
def store2ch(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("fused2ch") / "store")
    v = synthetic_volume(spark, 16, 16, 16, channels=2, zero_fraction_mod=5)
    build_octree(
        spark, v, root, nlevels=2, filter_="arthur", dims=(16, 16, 16),
        channels=2,
    )
    return root


def test_filegroup_interleave_matches_unfused_byte_for_byte(
    spark, store2ch, tmp_path
):
    """SOAK.md finding: a payload-grouped interleave shuffled every
    decoded block. The converter plans per-block FILE groups (paired
    on the driver, no payload moves); the interleaved, requantized
    output of a genuinely multi-channel store must match the NumPy
    reference. The
    name predates the removal of the distributed-aggregate conversion
    it was compared with."""
    vols = dense_volume(
        synthetic_volume(spark, 16, 16, 16, channels=2, zero_fraction_mod=5),
        (16, 16, 16),
        channels=2,
    )
    kw = {"interleave": True, "downsample_intensity": True}
    want = _expected_ktx(vols, 3, **kw)
    assert len(want) == 9
    _assert_ktx(_convert(spark, store2ch, tmp_path, **kw), want, 1)


def test_filegroup_interleave_plan_has_no_exchange(
    spark, store2ch, tmp_path, monkeypatch
):
    """Interleaving pairs each block's channel files on the driver, so
    the conversion is the same MapInPandas over a local relation of
    (block, channels, paths) rows: no groupBy, no exchange, no grouped
    map over decoded payloads."""
    kernels = _spy_kernels(monkeypatch)
    _convert(spark, store2ch, tmp_path, interleave=True)
    (kernel,) = kernels
    _assert_local_map_plan(kernel)


def test_block_file_groups_depth_filter_and_channels(spark, store2ch):
    """The file-group planner: one row per block with BOTH channel
    files, path-derived coordinates, and a working depth filter."""
    from hortacloud_importer_spark.pipelines.ktx import _block_file_groups

    rows = {
        (r["zi"], r["yi"], r["xi"], r["depth"]): list(r["paths"])
        for r in _block_file_groups(spark, store2ch).collect()
    }
    # 16^3 / 2 levels: 8 leaf blocks at depth 1 + 1 root at depth 0
    assert len(rows) == 9
    assert all(len(p) == 2 for p in rows.values())  # both channels
    assert all(
        p[0].endswith("default.0.tif") and p[1].endswith("default.1.tif")
        for p in rows.values()
    )
    deep = {
        (r["zi"], r["yi"], r["xi"])
        for r in _block_file_groups(spark, store2ch, depth=1).collect()
    }
    assert deep == {(z, y, x) for z in range(2) for y in range(2) for x in range(2)}


def test_ktx_resume_skips_committed_blocks(spark, store, tmp_path):
    """A11 for the KTX pass (reference: per-file os.path.exists skip,
    tiff2octree.py:400-402): resume leaves the OUTPUT manifest's
    committed blocks out of the work list — already-converted blocks
    are neither decoded nor rewritten."""
    import os

    out = str(tmp_path / "resume_ktx")
    # first pass: one octree level only
    tiff_octree_to_ktx(
        spark, store, out, block_dims=(8, 8, 8), n_mips=3,
        filter_="arthur", depth=1,
    ).count()
    first = {
        p: os.path.getmtime(os.path.join(out, p)) for p in os.listdir(out)
        if p.endswith(".ktx")
    }
    assert len(first) == 8

    # resumed full conversion: fills in the root, leaves depth-1 alone
    res = tiff_octree_to_ktx(
        spark, store, out, block_dims=(8, 8, 8), n_mips=3,
        filter_="arthur", resume=True,
    ).first()
    now = {p for p in os.listdir(out) if p.endswith(".ktx")}
    assert len(now) == 9
    for name, mtime in first.items():
        assert os.path.getmtime(os.path.join(out, name)) == mtime, name
    assert res["n_files"] == 9  # manifest union counts everything

    # resuming again converts nothing new (all committed): files
    # untouched AND the committed set does not change
    from pyarrow import fs as pafs

    from hortacloud_importer_spark.sources import manifest

    before = manifest.committed_files(pafs.LocalFileSystem(), out)
    tiff_octree_to_ktx(
        spark, store, out, block_dims=(8, 8, 8), n_mips=3,
        filter_="arthur", resume=True,
    ).count()
    for name, mtime in first.items():
        assert os.path.getmtime(os.path.join(out, name)) == mtime, name
    assert manifest.committed_files(pafs.LocalFileSystem(), out) == before


def test_ktx_resume_never_opens_committed_source_blocks(spark, store, tmp_path):
    """Resume must be payload-free: after converting depth 1, CORRUPT
    those source blocks — a resume that re-read them would crash; the
    path-level anti-join completes and converts only the root."""
    import glob as _glob
    import os

    out = str(tmp_path / "resume_pathonly")
    tiff_octree_to_ktx(
        spark, store, out, block_dims=(8, 8, 8), n_mips=3,
        filter_="arthur", depth=1,
    ).count()
    # truncate every depth-1 source file (committed outputs exist)
    for p in _glob.glob(f"{store}/*/default.*.tif"):
        with open(p, "wb") as fh:
            fh.write(b"garbage, not a TIFF")
    try:
        tiff_octree_to_ktx(
            spark, store, out, block_dims=(8, 8, 8), n_mips=3,
            filter_="arthur", resume=True,
        ).count()
        assert len([p for p in os.listdir(out) if p.endswith(".ktx")]) == 9
    finally:
        # the module-scoped store fixture is shared: rebuild it
        import shutil

        shutil.rmtree(store, ignore_errors=True)
        v = synthetic_volume(spark, 16, 16, 16, zero_fraction_mod=5)
        build_octree(
            spark, v, store, nlevels=2, filter_="arthur", dims=(16, 16, 16)
        )


def test_ktx_resume_drops_committed_blocks_before_the_kernel(
    spark, store, tmp_path, monkeypatch
):
    """A resume of a half-converted store leaves the committed blocks
    out of the work list on the driver: the kernel's input is the one
    unconverted block (the root), as a local relation with no join,
    and the result has the bytes of one whole conversion."""
    kw = dict(block_dims=(8, 8, 8), n_mips=3, filter_="arthur")
    whole = _convert(spark, store, tmp_path)
    out = str(tmp_path / "resume_local")
    tiff_octree_to_ktx(spark, store, out, depth=1, **kw).count()

    kernels = _spy_kernels(monkeypatch)
    res = tiff_octree_to_ktx(spark, store, out, resume=True, **kw).first()
    (kernel,) = kernels
    _assert_local_map_plan(kernel)
    assert kernel.count() == 1
    assert res["n_files"] == 9
    assert _files(out) == _files(whole)


def test_ktx_resume_interleaved_skips_by_the_written_name(
    spark, store2ch, tmp_path
):
    """The resume drops a block by the name its file was written
    under, the interleaved (``ch-1``) LZ4 (``.ktx.lz4``) form too, so
    a resumed run rewrites no committed file."""
    kw = dict(
        block_dims=(8, 8, 8), n_mips=2, filter_="arthur", interleave=True, lz4=True
    )
    out = str(tmp_path / "resume_interleaved")
    tiff_octree_to_ktx(spark, store2ch, out, depth=1, **kw).count()
    first = {
        p: os.path.getmtime(os.path.join(out, p))
        for p in os.listdir(out)
        if p.startswith("block_")
    }
    assert len(first) == 8
    assert all(re.fullmatch(r"block_\d_\d_\d_d1_ch-1\.ktx\.lz4", p) for p in first)
    res = tiff_octree_to_ktx(spark, store2ch, out, resume=True, **kw).first()
    assert res["n_files"] == 9
    for name, mtime in first.items():
        assert os.path.getmtime(os.path.join(out, name)) == mtime, name


def test_block_file_groups_skip_stray_tif(spark, tmp_path):
    """ADVICE r6: grouped (interleave) mode must apply the same
    default.<n>.tif admission predicate per_channel mode does — a
    stray .tif inside a foreign (manifest-less) store previously
    crashed the fused kernel's channel parse with AttributeError."""
    import shutil

    from hortacloud_importer_spark.pipelines.ktx import (
        _block_file_groups,
        _write_ktx_blocks,
    )
    from hortacloud_importer_spark.sources.tiff import encode_tiff

    root = str(tmp_path / "store")
    v = synthetic_volume(spark, 8, 8, 8, zero_fraction_mod=5)
    build_octree(spark, v, root, nlevels=1, filter_="arthur", dims=(8, 8, 8))
    # make it a foreign store (no manifest -> the listing keeps every
    # file) and drop in a non-conforming file
    shutil.rmtree(os.path.join(root, "_manifest"))
    stray = os.path.join(root, "notes.tif")
    with open(stray, "wb") as fh:
        fh.write(
            encode_tiff(np.ones((1, 4, 4), dtype=np.uint8))
        )

    groups = _block_file_groups(spark, root)
    all_paths = [p for r in groups.collect() for p in r["paths"]]
    assert all(p.endswith("default.0.tif") for p in all_paths)
    assert not any(p.endswith("notes.tif") for p in all_paths)

    # and the fused conversion over those groups completes
    out = _write_ktx_blocks(
        _block_file_groups(spark, root), root, str(tmp_path / "ktx"),
        n_mips=2, filter_="arthur", interleave=True,
    )
    assert out.count() == 1


def test_ktx_lz4_side_compression_roundtrip(spark, store, tmp_path):
    """A8 option: lz4=True writes LZ4-frame .ktx.lz4 files (the
    reference's LZ4.exe post-pass, ktx_from_rendered_tiff.py:565-583,
    folded into the executor write); decode_ktx reads them
    transparently, and the decoded levels are byte-identical to the
    uncompressed store's."""
    from hortacloud_importer_spark.sources.ktx import ktx_decode_blocks

    plain = _convert(spark, store, tmp_path)
    lz = str(tmp_path / "ktx_lz4")
    tiff_octree_to_ktx(
        spark, store, lz, block_dims=(8, 8, 8), n_mips=3,
        filter_="arthur", lz4=True,
    ).count()

    lz_files = sorted(glob.glob(f"{lz}/*.ktx.lz4"))
    assert len(lz_files) == 9 and not glob.glob(f"{lz}/*.ktx")
    # LZ4 frame magic on every side-compressed file
    for p in lz_files:
        with open(p, "rb") as fh:
            assert fh.read(4) == b"\x04\x22\x4d\x18"

    def decoded(root, pattern):
        df = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", pattern)
            .load(root)
            .selectExpr("content as ktx", "path")
        )
        rows = ktx_decode_blocks(df).collect()
        return {
            (r["zi"], r["yi"], r["xi"], r["depth"], r["channel"], r["level"]):
                list(r["voxels"])
            for r in rows
        }

    a = decoded(plain, "*.ktx")
    b = decoded(lz, "*.ktx.lz4")
    assert a == b


def test_ktx_lz4_resume_skips_committed(spark, store, tmp_path):
    """Resume with lz4 on: the expected name the resume skips carries
    the .ktx.lz4 suffix, so committed compressed blocks are skipped."""
    import os

    out = str(tmp_path / "resume_lz4")
    tiff_octree_to_ktx(
        spark, store, out, block_dims=(8, 8, 8), n_mips=3,
        filter_="arthur", depth=1, lz4=True,
    ).count()
    first = {
        p: os.path.getmtime(os.path.join(out, p))
        for p in os.listdir(out)
        if p.endswith(".ktx.lz4")
    }
    assert len(first) == 8
    tiff_octree_to_ktx(
        spark, store, out, block_dims=(8, 8, 8), n_mips=3,
        filter_="arthur", lz4=True, resume=True,
    ).count()
    after = {
        p: os.path.getmtime(os.path.join(out, p))
        for p in os.listdir(out)
        if p.endswith(".ktx.lz4")
    }
    assert len(after) == 9  # root block added
    for p, t in first.items():
        assert after[p] == t  # committed blocks untouched
