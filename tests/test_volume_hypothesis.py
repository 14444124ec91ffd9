"""Hypothesis property tests: downsample semantics over random dims,
zero densities, and filters (SURVEY.md §5.2.2). Spark per example, so
example counts are kept small; the fixed-seed matrix in
tests/test_volume.py covers the fast path."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hortacloud_importer_spark.volume import downsample_voxels, mipmap_dimension

from tests.test_volume import df_to_vol, np_downsample, vol_to_df

dims_st = st.tuples(
    st.integers(1, 9), st.integers(1, 9), st.integers(1, 9)
)


@pytest.mark.parametrize("filter_", ["mean", "max", "arthur"])
@given(dims=dims_st, seed=st.integers(0, 2**31 - 1), zero_p=st.floats(0.0, 1.0))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_downsample_property(spark, filter_, dims, seed, zero_p):
    rng = np.random.default_rng(seed)
    vol = rng.integers(0, 1 << 16, size=dims).astype(np.int64)
    vol[rng.random(size=dims) < zero_p] = 0
    got = df_to_vol(
        downsample_voxels(vol_to_df(spark, vol), dims, filter_),
        tuple(mipmap_dimension(1, d) for d in dims),
    )
    assert np.array_equal(got, np_downsample(vol, filter_)), (dims, seed, zero_p)


@pytest.mark.parametrize("filter_", ["mean", "max", "arthur"])
@given(dims=dims_st, seed=st.integers(0, 2**31 - 1), zero_p=st.floats(0.0, 1.0))
@settings(max_examples=40, deadline=None)
def test_np_halve_property(filter_, dims, seed, zero_p):
    """The fused-kernel mip step (np_halve, pure NumPy — no Spark per
    example, so the budget is wider) equals the loop-based reference
    mirror over random dims, zero densities, and filters."""
    from hortacloud_importer_spark.volume.downsample import np_halve

    rng = np.random.default_rng(seed)
    vol = rng.integers(0, 1 << 16, size=dims).astype(np.int64)
    vol[rng.random(size=dims) < zero_p] = 0
    got = np_halve(vol, filter_)
    assert np.array_equal(got, np_downsample(vol, filter_)), (dims, seed, zero_p)


@pytest.mark.parametrize("filter_", ["mean", "max", "arthur"])
@given(
    dims=dims_st,
    seed=st.integers(0, 2**31 - 1),
    axes=st.tuples(st.booleans(), st.booleans(), st.booleans()),
)
@settings(max_examples=25, deadline=None)
def test_np_halve_axes_property(filter_, dims, seed, axes):
    """Partial-axes halving (the XY-only first-mip option) equals the
    full-halve of a volume where the untouched axes are lifted out:
    halving axis-by-axis must match the reference mirror applied to
    each kept-axis slab independently."""
    from hortacloud_importer_spark.volume.downsample import np_halve

    rng = np.random.default_rng(seed)
    vol = rng.integers(0, 1 << 16, size=dims).astype(np.int64)
    vol[rng.random(size=dims) < 0.3] = 0
    got = np_halve(vol, filter_, axes=axes)
    # reference: the loop mirror, identity maps on frozen axes
    want = np_downsample(vol, filter_, axes=axes)
    assert np.array_equal(got, want), (dims, seed, axes)


@pytest.mark.parametrize("filter_", ["mean", "max", "arthur"])
@given(
    bdims=st.tuples(
        st.integers(1, 4), st.integers(1, 4), st.integers(1, 4)
    ),
    seed=st.integers(0, 2**31 - 1),
    present_mask=st.integers(1, 255),
    zero_p=st.floats(0.0, 1.0),
)
@settings(max_examples=40, deadline=None)
def test_halve_first_boundary_property(filter_, bdims, seed, present_mask, zero_p):
    """The subtree build ships each pass's roots HALVED to the next
    pass when block dims are even, which rests on one claim: halving
    each sibling block independently then concatenating the halves
    equals halving the assembled 2x canvas — no 2-voxel group
    straddles a sibling boundary. Pinned over random
    even dims, zero densities, and every pattern of missing octants
    (skip-empty stores densify absentees to zero). Pure NumPy, so the
    example budget is wide."""
    from hortacloud_importer_spark.volume.downsample import np_halve

    bz, by, bx = (2 * d for d in bdims)  # even by construction
    rng = np.random.default_rng(seed)
    sibs = {}
    for o in range(8):
        if present_mask & (1 << o):
            s = rng.integers(0, 1 << 16, size=(bz, by, bx)).astype(np.int64)
            s[rng.random(size=s.shape) < zero_p] = 0
            sibs[o] = s
    big = np.zeros((2 * bz, 2 * by, 2 * bx), dtype=np.int64)
    for o, s in sibs.items():
        oz, oy, ox = (o >> 2) & 1, (o >> 1) & 1, o & 1
        big[
            oz * bz : (oz + 1) * bz,
            oy * by : (oy + 1) * by,
            ox * bx : (ox + 1) * bx,
        ] = s
    want = np_halve(big, filter_)

    got = np.zeros_like(want)
    hz, hy, hx = bz // 2, by // 2, bx // 2
    for o, s in sibs.items():
        oz, oy, ox = (o >> 2) & 1, (o >> 1) & 1, o & 1
        got[
            oz * hz : (oz + 1) * hz,
            oy * hy : (oy + 1) * hy,
            ox * hx : (ox + 1) * hx,
        ] = np_halve(s, filter_)
    assert np.array_equal(got, want), (bdims, seed, present_mask)


@given(
    dims=dims_st,
    seed=st.integers(0, 2**31 - 1),
    nan_p=st.floats(0.0, 0.5),
    zero_p=st.floats(0.0, 0.5),
)
@settings(max_examples=40, deadline=None)
def test_float_requant_img_as_uint_semantics(dims, seed, nan_p, zero_p):
    """The voxel boundary's float32 requant reproduces skimage
    img_as_uint semantics — round-half-even x65535 — with NaN -> 0
    (the reference's zeros-are-missing convention, ktx/util.py:151-
    158) and out-of-range values clipped instead of raising."""
    from hortacloud_importer_spark.sources.datasource import (
        _requant_float_pages,
    )

    rng = np.random.default_rng(seed)
    vol = rng.random(size=dims).astype(np.float32)
    vol[rng.random(size=dims) < zero_p] = 0.0
    vol[rng.random(size=dims) < nan_p] = np.nan
    vol.ravel()[0] = 1.5   # clips to 65535
    if vol.size > 1:
        vol.ravel()[1] = -0.25  # clips to 0
    got = _requant_float_pages(vol)
    assert got.dtype == np.uint16
    ref = np.rint(np.clip(np.nan_to_num(vol), 0.0, 1.0) * 65535.0)
    assert np.array_equal(got, ref.astype(np.uint16))
    # exactness of the k/65535 grid: requant inverts it bit-perfectly
    k = rng.integers(0, 65536, size=dims)
    assert np.array_equal(
        _requant_float_pages((k / 65535.0).astype(np.float32)), k
    )


@given(dims=dims_st, seed=st.integers(0, 2**31 - 1), nan_p=st.floats(0.0, 0.6))
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_float_ingest_then_mean_downsample_matches_nanmean(
    spark, dims, seed, nan_p
):
    """End-to-end float semantics: float32 volume -> requant-at-ingest
    -> Spark mean downsample equals the reference's float nan-mean
    formula (zeros/NaN excluded, truncating back to int) applied to
    the requantized volume."""
    rng = np.random.default_rng(seed)
    volf = rng.random(size=dims).astype(np.float32)
    volf[rng.random(size=dims) < nan_p] = np.nan
    from hortacloud_importer_spark.sources.datasource import (
        _requant_float_pages,
    )

    vol = _requant_float_pages(volf).astype(np.int64)
    got = df_to_vol(
        downsample_voxels(vol_to_df(spark, vol), dims, "mean"),
        tuple(mipmap_dimension(1, d) for d in dims),
    )
    assert np.array_equal(got, np_downsample(vol, "mean")), (dims, seed)
