"""Property tests for the volume model vs a NumPy oracle.

The oracle restates the reference's downsample semantics directly
(ktx/util.py:28-181): per-child contributor sets with the
odd-dimension pivot rule, non-zero mean/max (zero-is-NULL), and
"arthur" 2nd-max with the zero fallback. Random uint16 volumes with
zeros, odd dims, and degenerate dims included.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hortacloud_importer_spark.volume import (
    blockify,
    build_pyramid,
    downsample_voxels,
    mipmap_dimension,
    octree_path,
    synthetic_volume,
    unblockify,
)

RNG = np.random.default_rng(1234)


# --- NumPy oracle -----------------------------------------------------------

def np_child_index(j: int, in_len: int) -> int:
    out = mipmap_dimension(1, in_len)
    if in_len <= 3 or out == 1:
        return 0
    if in_len == 2 * out:
        return j // 2
    p = out // 2
    if j <= 2 * p + 1:
        return j // 2
    if j == 2 * p + 2:
        return p
    return (j - 1) // 2


def np_downsample(
    vol: np.ndarray,
    filter_: str,
    axes: tuple[bool, bool, bool] = (True, True, True),
) -> np.ndarray:
    """One halving step; an axis whose ``axes`` entry is False keeps
    its extent (identity child map), the XY-only first-mip option."""
    maps = [
        [np_child_index(j, d) if h else j for j in range(d)]
        for d, h in zip(vol.shape, axes)
    ]
    odims = tuple(
        mipmap_dimension(1, d) if h else d for d, h in zip(vol.shape, axes)
    )
    buckets: dict[tuple[int, int, int], list[int]] = {}
    for z in range(vol.shape[0]):
        for y in range(vol.shape[1]):
            for x in range(vol.shape[2]):
                key = (maps[0][z], maps[1][y], maps[2][x])
                buckets.setdefault(key, []).append(int(vol[z, y, x]))
    out = np.zeros(odims, dtype=np.int64)
    for (z, y, x), vals in buckets.items():
        a = np.array(vals, dtype=np.int64)
        nz = a[a != 0]
        if filter_ == "mean":
            v = int(nz.mean()) if nz.size else 0
        elif filter_ == "max":
            v = int(nz.max()) if nz.size else 0
        else:  # arthur
            s = np.sort(a)[::-1]
            v = int(s[1]) if len(s) > 1 and s[1] != 0 else int(s[0])
        out[z, y, x] = v
    return out


# --- helpers ----------------------------------------------------------------

def vol_to_df(spark, vol: np.ndarray):
    rows = [
        (int(z), int(y), int(x), 0, int(vol[z, y, x]))
        for z in range(vol.shape[0])
        for y in range(vol.shape[1])
        for x in range(vol.shape[2])
    ]
    return spark.createDataFrame(rows, "z int, y int, x int, channel int, intensity int")


def df_to_vol(df, dims) -> np.ndarray:
    out = np.zeros(dims, dtype=np.int64)
    for r in df.collect():
        out[r["z"], r["y"], r["x"]] = r["intensity"]
    return out


def random_vol(dims) -> np.ndarray:
    vol = RNG.integers(0, 1 << 16, size=dims).astype(np.int64)
    vol[RNG.random(size=dims) < 0.3] = 0  # zero-is-NULL coverage
    return vol


DIMS = [(4, 4, 4), (5, 6, 7), (1, 3, 9), (8, 5, 2), (2, 2, 2)]


# --- tests ------------------------------------------------------------------

@pytest.mark.parametrize("dims", DIMS)
@pytest.mark.parametrize("filter_", ["mean", "max", "arthur"])
def test_downsample_matches_numpy(spark, dims, filter_):
    vol = random_vol(dims)
    got_df = downsample_voxels(vol_to_df(spark, vol), dims, filter_)
    odims = tuple(mipmap_dimension(1, d) for d in dims)
    got = df_to_vol(got_df, odims)
    want = np_downsample(vol, filter_)
    assert np.array_equal(got, want), f"{filter_} {dims}\n{got}\n!=\n{want}"


def test_pyramid_cascade_matches_numpy(spark):
    dims = (8, 6, 5)
    vol = random_vol(dims)
    nlevels = 4
    pyr = build_pyramid(vol_to_df(spark, vol), dims, nlevels, "arthur", persist=False)
    want = vol.copy()
    wdims = dims
    for lv in range(1, nlevels):
        want = np_downsample(want, "arthur")
        wdims = tuple(mipmap_dimension(1, d) for d in wdims)
        got = df_to_vol(pyr.filter(F.col("level") == lv), wdims)
        assert np.array_equal(got, want), f"level {lv}"


def test_blockify_roundtrip(spark):
    v = synthetic_volume(spark, 8, 8, 8, channels=2)
    blocks = blockify(v, (4, 4, 4))
    assert blocks.count() == 8 * 2  # 2x2x2 block grid x 2 channels
    back = unblockify(blocks)
    assert back.exceptAll(v).count() == 0
    assert v.exceptAll(back).count() == 0


def test_blockify_payload_order(spark):
    """Payload must be zyx order: voxel (z,y,x) at index (z*by+y)*bx+x."""
    v = synthetic_volume(spark, 2, 2, 2, channels=1)
    row = blockify(v, (2, 2, 2)).collect()[0]
    want = {
        (r["z"], r["y"], r["x"]): r["intensity"] for r in v.collect()
    }
    for z in range(2):
        for y in range(2):
            for x in range(2):
                assert row["voxels"][(z * 2 + y) * 2 + x] == want[(z, y, x)]


def test_octree_path(spark):
    df = spark.createDataFrame(
        [(0, 0, 0), (3, 3, 3), (1, 2, 3), (2, 0, 1)], "z int, y int, x int"
    )
    got = {
        (r["z"], r["y"], r["x"]): r["p"]
        for r in df.select("z", "y", "x", octree_path("z", "y", "x", 3).alias("p")).collect()
    }

    def ref_path(z, y, x, nlevels):  # digit per level, MSB first
        digits = []
        for bit in range(nlevels - 2, -1, -1):
            digits.append(
                str(1 + ((x >> bit) & 1) + 2 * ((y >> bit) & 1) + 4 * ((z >> bit) & 1))
            )
        return "/".join(digits)

    for (z, y, x), p in got.items():
        assert p == ref_path(z, y, x, 3), (z, y, x)


def test_synthetic_volume_deterministic(spark):
    a = synthetic_volume(spark, 4, 4, 4).orderBy("z", "y", "x", "channel").collect()
    b = synthetic_volume(spark, 4, 4, 4).orderBy("z", "y", "x", "channel").collect()
    assert a == b
    assert any(r["intensity"] == 0 for r in a)  # zeros present
    assert all(0 <= r["intensity"] < (1 << 16) for r in a)


@pytest.mark.parametrize("dims", DIMS)
@pytest.mark.parametrize("filter_", ["mean", "max", "arthur"])
def test_np_halve_matches_reference_mirror(dims, filter_):
    """The vectorized in-executor kernel (volume/downsample.np_halve,
    the fused KTX path's mip step) equals the loop-based reference
    mirror — and therefore the Catalyst downsample it is tested
    against above."""
    from hortacloud_importer_spark.volume.downsample import np_halve

    vol = random_vol(dims)
    assert np.array_equal(np_halve(vol, filter_), np_downsample(vol, filter_))
