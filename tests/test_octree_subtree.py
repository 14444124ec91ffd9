"""The subtree-fused octree build (pipelines/octree.py): passes of one
grouped kernel that assembles a subtree's region, halves it level by
level and writes every level it spans.

- Multi-pass builds (the per-task budget shrunk so every pass spans
  the fewest levels it may) store the same bytes as single-pass builds
  and match the NumPy references, for every filter, odd block dims and
  two channels; a budget under 8 blocks makes the first pass write
  each leaf alone.
- Values outside the store dtype's range fail the build instead of
  wrapping.
- A single-pass build over slices plans no exchange (each subtree
  task reads its own slice windows) and commits one manifest shard;
  a first pass of many subtrees stores the single-pass bytes, and a
  resume over it rewrites nothing.
- A build or KTX conversion that dies after writing its last pass's
  files but before committing them resumes to the same store.
"""

from __future__ import annotations

import glob
import hashlib
import os

import numpy as np
import pytest
from pyarrow import fs as pafs

from hortacloud_importer_spark.pipelines import build_octree, octree
from hortacloud_importer_spark.pipelines import tiff_octree_to_ktx
from hortacloud_importer_spark.sources import manifest
from hortacloud_importer_spark.sources.tiff import encode_tiff
from hortacloud_importer_spark.volume import synthetic_volume

from tests.test_octree_pipeline import (
    _assert_store,
    _write_slices,
    dense_volume,
    expected_blocks,
)

_FS = pafs.LocalFileSystem()


def _digests(root):
    """{relative path: sha256} of every data file (manifests left out)."""
    out = {}
    for p in glob.glob(f"{root}/**/*", recursive=True):
        rel = os.path.relpath(p, root)
        if os.path.isfile(p) and not rel.startswith("_manifest"):
            with open(p, "rb") as fh:
                out[rel] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _shards(root):
    return sorted(glob.glob(f"{root}/_manifest/commit-*.files.txt"))


@pytest.fixture
def one_level_passes(monkeypatch):
    """Every pass spans the fewest levels it may (a budget no block
    fits): 0 for the first pass over even blocks, else 1."""
    monkeypatch.setattr(octree, "_SUBTREE_BYTES", 0)


def _two_ways(spark, tmp_path, monkeypatch, source, passes, budget=0, **kw):
    """Build ``source`` single-pass and again under ``budget``; return
    the multi-pass store after checking both hold the same bytes and
    the multi-pass build committed one shard per pass."""
    single = str(tmp_path / "single")
    build_octree(spark, source, single, **kw).count()
    assert len(_shards(single)) == 1
    monkeypatch.setattr(octree, "_SUBTREE_BYTES", budget)
    multi = str(tmp_path / "multi")
    summary = build_octree(spark, source, multi, **kw).collect()
    assert len(_shards(multi)) == passes
    assert _digests(multi) == _digests(single)
    assert manifest.committed_files(_FS, multi) == manifest.committed_files(
        _FS, single
    )
    return multi, {r["level"]: r["n_blocks_written"] for r in summary}


@pytest.mark.parametrize("filt", ["arthur", "mean", "max"])
def test_multi_pass_odd_blocks_match_numpy(spark, tmp_path, monkeypatch, filt):
    """20^3 over 3 levels: 5x5x5 blocks at odd extents (roots pass
    whole to the next pass), two passes."""
    v = synthetic_volume(spark, 20, 20, 20, zero_fraction_mod=4)
    multi, summary = _two_ways(
        spark, tmp_path, monkeypatch, v, 2,
        nlevels=3, filter_=filt, dims=(20, 20, 20), channels=1,
    )
    want = expected_blocks(dense_volume(v, (20, 20, 20)), 3, (5, 5, 5), filt)
    _assert_store(multi, want)
    assert summary == {
        lv: sum(k[0] == 2 - lv for k in want) for lv in range(3)
    }


def test_multi_pass_two_channel_slices_match_numpy(spark, tmp_path, monkeypatch):
    """Two channels of slices, even 4x4x4 blocks (roots ship halved
    between passes), four levels so four passes: the first writes the
    leaves alone."""
    rng = np.random.default_rng(41)
    vols = rng.integers(0, 60000, (2, 32, 32, 32)).astype(np.uint16)
    vols[rng.random(vols.shape) < 0.3] = 0
    vols[:, :16, :16, :16] = 0  # an empty subtree
    d = tmp_path / "slices"
    d.mkdir()
    for ch in range(2):
        for z in range(32):
            (d / f"default.{ch}.{z:03d}.tif").write_bytes(
                encode_tiff(vols[ch, z][None, ...])
            )
    multi, _ = _two_ways(
        spark, tmp_path, monkeypatch, str(d), 4,
        nlevels=4, filter_="arthur", channels=2,
    )
    want = expected_blocks(list(vols.astype(np.int64)), 4, (4, 4, 4), "arthur")
    _assert_store(multi, want)


def test_multi_pass_aa_matches_kernel_tiling(spark, tmp_path, monkeypatch):
    """aa over three levels: every level is ``_kernel_aa`` applied per
    block of the level below and tiled, across a pass boundary too."""
    from hortacloud_importer_spark.operators.kernels import _kernel_aa

    rng = np.random.default_rng(43)
    vol = rng.integers(1, 60000, (16, 16, 16)).astype(np.uint16)
    _write_slices(tmp_path / "slices", list(vol))
    multi, _ = _two_ways(
        spark, tmp_path, monkeypatch, str(tmp_path / "slices"), 3,
        nlevels=3, filter_="aa",
    )
    want, level = {}, vol.astype(np.int64)
    for depth in (2, 1, 0):
        n = level.shape[0] // 4
        nxt = np.zeros((level.shape[0] // 2,) * 3, dtype=np.int64)
        for zi in range(n):
            for yi in range(n):
                for xi in range(n):
                    blk = level[
                        zi * 4 : zi * 4 + 4, yi * 4 : yi * 4 + 4, xi * 4 : xi * 4 + 4
                    ]
                    want[(depth, zi, yi, xi, 0)] = blk
                    nxt[
                        zi * 2 : zi * 2 + 2, yi * 2 : yi * 2 + 2, xi * 2 : xi * 2 + 2
                    ] = _kernel_aa(blk)
        level = nxt
    _assert_store(multi, want)


def test_pass_levels_fit_the_budget():
    """A pass spans the most levels whose region fits the budget; the
    first pass over even blocks too big for 8 at once spans none, so
    no task ever holds more than one block (a leaf, or 8 halved
    roots); odd blocks ship whole and need 8 per pass."""
    mib = 1 << 20
    assert octree._SUBTREE_BYTES == 64 * mib
    # 16x256x256 at 3 levels: 4x64x64 blocks, one pass builds it all
    assert octree._pass_levels((4, 64, 64), False) == 3
    # 128x512x512 at 3 levels: 2 MiB (int32) blocks
    assert octree._pass_levels((32, 128, 128), False) == 1
    assert octree._pass_levels((32, 128, 128), True) == 2
    # 512x1024x1024 at 3 levels: 32 MiB blocks, 8 do not fit
    assert octree._pass_levels((128, 256, 256), False) == 0
    assert octree._pass_levels((128, 256, 256), True) == 1
    # far over the budget: still one block per task
    assert octree._pass_levels((256, 512, 512), False) == 0
    assert octree._pass_levels((256, 512, 512), True) == 1
    assert octree._pass_levels((129, 257, 257), False) == 1
    assert octree._pass_levels((129, 257, 257), True) == 1
    assert octree._pass_levels((5, 5, 5), True) == 5


def test_budget_under_eight_blocks_writes_leaves_alone(
    spark, tmp_path, monkeypatch
):
    """A budget between one and eight blocks: the first pass commits
    exactly the leaves, each later pass one level; the store equals
    the single-pass store and the NumPy pyramid."""
    v = synthetic_volume(spark, 16, 16, 16, zero_fraction_mod=4)
    block = 4 * 4**3  # 4x4x4 blocks as int32
    multi, summary = _two_ways(
        spark, tmp_path, monkeypatch, v, 3, budget=2 * block,
        nlevels=3, filter_="arthur", dims=(16, 16, 16), channels=1,
    )
    assert octree._pass_levels((4, 4, 4), False) == 0
    assert octree._pass_levels((4, 4, 4), True) == 1
    want = expected_blocks(dense_volume(v, (16, 16, 16)), 3, (4, 4, 4), "arthur")
    _assert_store(multi, want)
    # one shard per level: the leaf pass commits every non-empty leaf
    # and nothing shallower
    depths = []
    for shard in _shards(multi):
        with open(shard) as fh:
            depths.append(sorted({rel.count("/") for rel in fh.read().split()}))
    assert sorted(depths) == [[0], [1], [2]]
    assert summary[0] == len(
        [r for r in manifest.committed_files(_FS, multi) if r.count("/") == 2]
    )


def test_values_over_dtype_range_fail_the_build(spark, tmp_path):
    """A DataFrame source with intensities over 16 bits and even block
    dims fails with an error naming the dtype and the remedy instead
    of storing values wrapped modulo 2^16."""
    from hortacloud_importer_spark.sources.block_store import (
        read_tiff_block_store,
    )
    from hortacloud_importer_spark.sources.datasource import write_tiff_block

    with pytest.raises(ValueError, match="uint16.*requantize"):
        write_tiff_block(
            _FS, str(tmp_path / "direct"), np.full((2, 2, 2), 70000),
            0, 0, 0, 0, 1,
        )
    assert not os.path.exists(tmp_path / "direct")
    rows = [
        (z, y, x, 0, 70000 if (z, y, x) == (1, 2, 3) else 7)
        for z in range(4) for y in range(4) for x in range(4)
    ]
    v = spark.createDataFrame(rows, "z int, y int, x int, channel int, intensity int")
    out = str(tmp_path / "store")
    with pytest.raises(Exception, match="uint16.*requantize"):
        build_octree(
            spark, v, out, nlevels=2, filter_="max", dims=(4, 4, 4), channels=1
        ).count()
    assert manifest.committed_files(_FS, out) == set()
    assert read_tiff_block_store(spark, out).count() == 0


def test_single_pass_build_plans_no_exchange(spark, tmp_path, monkeypatch):
    """The golden single-channel input builds in one pass: one manifest
    shard, and the pass's plan is one MapInPandas over a LocalTableScan
    of subtree roots — no Exchange, no grouped or cogrouped kernel. The
    returned summary is a local relation."""
    from tests.test_golden_store import _volume, _write_slices as _slices

    plans = []
    run_pass = octree._window_pass

    def spy(*args, **kw):
        out = run_pass(*args, **kw)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(octree, "_window_pass", spy)
    slices = str(tmp_path / "slices")
    _slices(slices, [_volume(5, (16, 32, 32), np.s_[:8, :16, 8:24])])
    out = str(tmp_path / "store")
    summary = build_octree(spark, slices, out, nlevels=3, filter_="arthur")
    # the per-level summary is a local relation: collecting it runs no job
    assert "LocalTableScan" in summary._jdf.queryExecution().executedPlan().toString()
    assert len(_shards(out)) == 1
    (plan,) = plans
    assert "MapInPandas" in plan and "LocalTableScan" in plan, plan
    assert "Exchange" not in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "FlatMapCoGroupsInPandas" not in plan, plan


def _write_channels(d, vols):
    """vols: one (z, y, x) uint16 volume per channel, as the
    reference's ``default.{ch}.{z}`` slices."""
    d.mkdir()
    for ch, vol in enumerate(vols):
        for z, sl in enumerate(vol):
            (d / f"default.{ch}.{z:03d}.tif").write_bytes(encode_tiff(sl[None, ...]))


@pytest.mark.parametrize("channels", [1, 2])
def test_many_subtree_first_pass_matches_single_pass(
    spark, tmp_path, monkeypatch, channels
):
    """Dims 29x27x22 over three levels: odd 8x7x6 blocks, a y/x pad of
    1 and 2 voxels and a z pad of 3. Under a budget no block fits, the
    first pass reads 8 subtree windows per channel, each task its own;
    the store is the single-pass store byte for byte and the NumPy
    pyramid."""
    rng = np.random.default_rng(67 + channels)
    vols = rng.integers(0, 60000, (channels, 29, 27, 22)).astype(np.uint16)
    vols[rng.random(vols.shape) < 0.3] = 0
    vols[:, :16, :14, :12] = 0  # an empty subtree
    _write_channels(tmp_path / "slices", vols)
    rows = []
    work = octree._window_work

    def spy(*args):
        rows.append(work(*args))
        return rows[-1]

    monkeypatch.setattr(octree, "_window_work", spy)
    multi, _ = _two_ways(
        spark, tmp_path, monkeypatch, str(tmp_path / "slices"), 2,
        nlevels=3, filter_="arthur", channels=channels,
    )
    assert [len(w) for w in rows] == [channels, 8 * channels]
    padded = np.zeros((channels, 32, 28, 24), dtype=np.int64)
    padded[:, :29, :27, :22] = vols
    _assert_store(multi, expected_blocks(list(padded), 3, (8, 7, 6), "arthur"))


def test_slice_resume_rewrites_nothing(spark, tmp_path, monkeypatch):
    """A second build over a committed store: each first-pass work row
    carries the committed names of its subtree, so no kernel writes a
    file — every committed file keeps its bytes and its mtime, and the
    summary counts no block written."""
    rng = np.random.default_rng(71)
    vol = rng.integers(1, 60000, (16, 16, 16)).astype(np.uint16)
    _write_slices(tmp_path / "slices", list(vol))
    slices, out = str(tmp_path / "slices"), str(tmp_path / "store")
    monkeypatch.setattr(octree, "_SUBTREE_BYTES", 4 * 4**3)  # one leaf
    build_octree(spark, slices, out, nlevels=3, filter_="max").count()
    committed = manifest.committed_files(_FS, out)
    digests = _digests(out)
    kept = {p: os.stat(f"{out}/{p}").st_mtime_ns for p in committed}
    rows = []
    work = octree._window_work

    def spy(*args):
        rows.append(work(*args))
        return rows[-1]

    monkeypatch.setattr(octree, "_window_work", spy)
    summary = build_octree(spark, slices, out, nlevels=3, filter_="max").collect()
    (first,) = rows
    assert len(first) == 64  # one row per leaf block
    assert sorted(r for owned in first["owned"] for r in owned) == sorted(
        r for r in committed if r.count("/") == 2
    )
    assert {r["level"]: r["n_blocks_written"] for r in summary} == {
        0: 0, 1: 0, 2: 0
    }
    assert _digests(out) == digests
    assert manifest.committed_files(_FS, out) == committed
    assert {p: os.stat(f"{out}/{p}").st_mtime_ns for p in kept} == kept


def _last_shard(root, name):
    """The shard (files list) that commits ``name``."""
    for p in _shards(root):
        with open(p) as fh:
            if name in fh.read().split():
                return p
    raise AssertionError(f"{name} is not committed under {root}")


def _uncommit(shard):
    """Simulate a crash between a pass's writes and its commit: drop
    the shard, keep its files on disk as uncommitted leftovers."""
    os.remove(shard)
    os.remove(shard[: -len(".files.txt")] + ".json")


def test_build_resumes_after_crash_before_last_commit(
    spark, tmp_path, one_level_passes
):
    from hortacloud_importer_spark.sources.block_store import (
        read_tiff_block_store,
    )

    rng = np.random.default_rng(47)
    vol = rng.integers(0, 60000, (16, 16, 16)).astype(np.uint16)
    _write_slices(tmp_path / "slices", list(vol))
    out = str(tmp_path / "store")
    build_octree(spark, str(tmp_path / "slices"), out, nlevels=3, filter_="max").count()
    digests = _digests(out)
    committed = manifest.committed_files(_FS, out)
    assert len(_shards(out)) == 3

    _uncommit(_last_shard(out, "default.0.tif"))  # the root pass
    assert committed - manifest.committed_files(_FS, out) == {"default.0.tif"}
    assert os.path.exists(f"{out}/default.0.tif")  # the leftover
    # readers see committed blocks only: the leaves and level 1
    assert {r["depth"] for r in read_tiff_block_store(spark, out).collect()} == {
        1, 2
    }

    kept = {
        p: os.stat(f"{out}/{p}").st_mtime_ns
        for p in manifest.committed_files(_FS, out)
    }
    resumed = {
        r["level"]: r["n_blocks_written"]
        for r in build_octree(
            spark, str(tmp_path / "slices"), out, nlevels=3, filter_="max"
        ).collect()
    }
    assert resumed == {0: 0, 1: 0, 2: 1}
    assert _digests(out) == digests
    assert manifest.committed_files(_FS, out) == committed
    # committed files are never rewritten
    assert {p: os.stat(f"{out}/{p}").st_mtime_ns for p in kept} == kept


def test_ktx_resumes_after_crash_before_last_commit(spark, tmp_path):
    v = synthetic_volume(spark, 16, 16, 16, zero_fraction_mod=5)
    store = str(tmp_path / "store")
    build_octree(spark, v, store, nlevels=2, filter_="arthur", dims=(16, 16, 16))
    ktx = str(tmp_path / "ktx")
    kw = dict(block_dims=(8, 8, 8), n_mips=3, filter_="arthur")
    tiff_octree_to_ktx(spark, store, ktx, depth=1, **kw).count()
    tiff_octree_to_ktx(spark, store, ktx, resume=True, **kw).count()
    digests = _digests(ktx)
    committed = manifest.committed_files(_FS, ktx)
    assert len(committed) == 9 and len(_shards(ktx)) == 2

    _uncommit(_last_shard(ktx, "block_0_0_0_ch0.ktx"))  # the root's commit
    assert manifest.committed_files(_FS, ktx) == committed - {"block_0_0_0_ch0.ktx"}
    kept = {
        p: os.stat(f"{ktx}/{p}").st_mtime_ns
        for p in manifest.committed_files(_FS, ktx)
    }
    res = tiff_octree_to_ktx(spark, store, ktx, resume=True, **kw).first()
    assert res["n_files"] == 9
    assert _digests(ktx) == digests
    assert manifest.committed_files(_FS, ktx) == committed
    assert {p: os.stat(f"{ktx}/{p}").st_mtime_ns for p in kept} == kept


def test_ktx_resumes_after_failed_rename_in_the_kernel(spark, tmp_path):
    """A level-1 block whose final ``.ktx`` name is taken by a
    directory fails its staged rename inside the conversion kernel,
    after an earlier run committed the leaves. The failed run commits
    nothing, and every visible file is a whole KTX (staged files are
    hidden); once the obstacle is gone, the resume gives the
    uninterrupted conversion's bytes without rewriting a file the
    earlier run committed."""
    from hortacloud_importer_spark.sources.ktx import decode_ktx

    v = synthetic_volume(spark, 16, 16, 16, zero_fraction_mod=5)
    store = str(tmp_path / "store")
    build_octree(spark, v, store, nlevels=3, filter_="arthur", dims=(16, 16, 16))
    kw = dict(block_dims=(4, 4, 4), n_mips=2, filter_="arthur")
    whole = str(tmp_path / "whole")
    tiff_octree_to_ktx(spark, store, whole, **kw).count()

    ktx = str(tmp_path / "ktx")
    tiff_octree_to_ktx(spark, store, ktx, depth=2, **kw).count()
    leaves = manifest.committed_files(_FS, ktx)
    assert len(leaves) == 64
    kept = {p: os.stat(f"{ktx}/{p}").st_mtime_ns for p in leaves}
    obstacle = f"{ktx}/block_1_1_1_d1_ch0.ktx"
    os.makedirs(f"{obstacle}/x")
    with pytest.raises(Exception, match="Is a directory"):
        tiff_octree_to_ktx(spark, store, ktx, resume=True, **kw).count()
    assert len(_shards(ktx)) == 1
    assert manifest.committed_files(_FS, ktx) == leaves
    for rel in (r for r in _digests(ktx) if r.endswith(".ktx")):
        with open(f"{ktx}/{rel}", "rb") as fh:
            decode_ktx(fh.read())  # whole files only

    os.rmdir(f"{obstacle}/x")
    os.rmdir(obstacle)
    res = tiff_octree_to_ktx(spark, store, ktx, resume=True, **kw).first()
    assert res["n_files"] == 64 + 8 + 1
    assert _digests(ktx) == _digests(whole)
    assert manifest.committed_files(_FS, ktx) == manifest.committed_files(_FS, whole)
    assert {p: os.stat(f"{ktx}/{p}").st_mtime_ns for p in leaves} == kept


def _resume_after_failed_rename(spark, tmp_path, obstacle, n_committed):
    """A block whose final name (``obstacle``) is taken by a directory
    fails its staged rename partway through its pass, after the passes
    below it committed ``n_committed`` files. Until the resume, the
    readers see the committed blocks only, not the files other tasks of
    the failed pass left behind; once the obstacle is gone, the resume
    gives the uninterrupted build's files and committed set without
    touching a committed file."""
    from hortacloud_importer_spark.pipelines.ktx import _block_file_groups
    from hortacloud_importer_spark.sources.block_store import (
        read_tiff_block_store,
        store_channels,
        tiff_block_rel,
    )

    rng = np.random.default_rng(53)
    vol = rng.integers(1, 60000, (16, 16, 16)).astype(np.uint16)
    _write_slices(tmp_path / "slices", list(vol))
    slices = str(tmp_path / "slices")
    whole = str(tmp_path / "whole")
    build_octree(spark, slices, whole, nlevels=3, filter_="max").count()

    out = str(tmp_path / "store")
    os.makedirs(f"{out}/{obstacle}")
    with pytest.raises(Exception, match="Is a directory"):
        build_octree(spark, slices, out, nlevels=3, filter_="max")
    failed = obstacle.count("/")  # the depth of the failed pass's files
    # opened before the first pass: set(), not None, when it commits nothing
    committed = manifest.committed_files(_FS, out)
    assert len(_shards(out)) == 2 - failed
    assert len(committed) == n_committed
    assert all(r.count("/") > failed for r in committed)
    # the root pass writes one file, the one that failed
    leftovers = set(_digests(out)) - committed
    assert bool(leftovers) == (failed > 0)
    assert all(r.count("/") == failed for r in leftovers)

    back = read_tiff_block_store(spark, out).collect()
    assert {
        tiff_block_rel(r["zi"], r["yi"], r["xi"], r["channel"], r["depth"] + 1)
        for r in back
    } == committed
    assert store_channels(out) == ([0] if committed else [])
    for per_channel in (False, True):
        groups = _block_file_groups(spark, out, per_channel=per_channel)
        assert {p for r in groups.collect() for p in r["paths"]} == committed

    os.rmdir(f"{out}/{obstacle}")
    kept = {p: os.stat(f"{out}/{p}").st_mtime_ns for p in committed}
    build_octree(spark, slices, out, nlevels=3, filter_="max").count()
    assert _digests(out) == _digests(whole)
    assert manifest.committed_files(_FS, out) == manifest.committed_files(
        _FS, whole
    )
    assert {p: os.stat(f"{out}/{p}").st_mtime_ns for p in committed} == kept


def test_build_resumes_after_failed_rename_mid_pass(
    spark, tmp_path, one_level_passes
):
    """The level-1 block (1, 1, 1) fails, after the leaf pass
    committed."""
    _resume_after_failed_rename(spark, tmp_path, "8/default.0.tif", 64)


@pytest.mark.parametrize(
    "obstacle, n_committed",
    [("8/8/default.0.tif", 0), ("default.0.tif", 64 + 8)],
    ids=["leaf", "root"],
)
def test_build_resumes_after_failed_rename_at_leaf_and_root(
    spark, tmp_path, one_level_passes, obstacle, n_committed
):
    """The leaf block (3, 3, 3) fails in the first pass, so nothing is
    committed, though the store is opened and other leaves are on
    disk; the root block fails in the last pass, after the leaves and
    level 1 committed."""
    _resume_after_failed_rename(spark, tmp_path, obstacle, n_committed)
