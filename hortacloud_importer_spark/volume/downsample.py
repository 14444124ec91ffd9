"""2x2x2 tumbling-window downsample with the reference's three
reduction semantics (SURVEY.md §2.D1-D3).

Semantics restated from the reference (clean-room, cited):
- ``mean``: average of the *non-zero* contributing parents (zero means
  "no data"; ktx/util.py:151-158 converts zeros to NaN and nanmeans),
  NaN->0 on all-zero groups, truncated back to the integer dtype.
- ``max``: max of non-zero parents, 0 if none (ktx/util.py:159-163).
- ``arthur`` (2nd-max): sort contributing parents, take the second
  largest; if that is zero/no-data, fall back to the largest
  (ktx/util.py:164-171). Zeros are NOT excluded before sorting.

Odd-dimension rule (ktx/util.py:87-126): when a parent dimension is
``2k+1`` with child dimension ``k >= 2``, each child voxel normally
owns parents ``(2i, 2i+1)``, but one pivot child ``p = k // 2`` owns
three parents ``(2p, 2p+1, 2p+2)``; children right of the pivot shift
by one. Parent dims 1 and 3 collapse without zeroing. This mapping is
expressed below as a per-coordinate Catalyst expression, so the whole
downsample is ONE hash aggregate — partial aggregation map-side, no
window, no UDF, linear scaling at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FILTERS = ("mean", "max", "arthur")


def mipmap_dimension(level: int, full: int) -> int:
    """OpenGL mipmap dim: max(1, floor(full / 2^level)) (ktx/util.py:34-36)."""
    return max(1, full // (2**level))


def child_index(j: Column, in_len: int) -> Column:
    """Child coordinate owning parent index ``j`` along a dimension of
    size ``in_len`` (one halving step)."""
    out_len = mipmap_dimension(1, in_len)
    if in_len <= 3 or out_len == 1:
        return F.lit(0)
    if in_len == 2 * out_len:  # even: plain pairs
        return F.shiftright(j, 1)
    # odd with out_len >= 2: pivot child keeps three parents
    p = out_len // 2
    return (
        F.when(j <= 2 * p + 1, F.shiftright(j, 1))
        .when(j == 2 * p + 2, F.lit(p))
        .otherwise(F.shiftright(j - 1, 1))
    ).cast("int")


def _agg_expr(filter_: str) -> Column:
    nz = F.nullif(F.col("intensity"), F.lit(0))
    if filter_ == "mean":
        # nanmean -> nan_to_num -> astype(int): truncation, not rounding
        return F.coalesce(
            F.floor(F.avg(nz)).cast("int"), F.lit(0)
        )
    if filter_ == "max":
        return F.coalesce(F.max(nz), F.lit(0))
    if filter_ == "arthur":
        arr = F.sort_array(F.collect_list("intensity"), asc=False)
        first = F.try_element_at(arr, F.lit(1))
        second = F.try_element_at(arr, F.lit(2))
        return F.coalesce(F.nullif(second, F.lit(0)), first, F.lit(0))
    raise ValueError(f"unknown filter {filter_!r}; have {FILTERS}")


def downsample_voxels(
    voxels: DataFrame,
    dims: tuple[int, int, int],
    filter_: str = "arthur",
) -> DataFrame:
    """One halving step over a voxels DataFrame of logical size
    ``dims = (dz, dy, dx)``. Returns the child voxels (same schema).

    The plan is scan -> project (child-coordinate bit math) ->
    hash-aggregate. At scale the shuffle moves exactly one row per
    child voxel per partial — an 8x reduction per level.

    Round-14 optimization note: an 8-parity-slot rewrite of the
    ``arthur`` collect_list aggregate (8 conditional MAX slots keyed
    by (z%2, y%2, x%2), 2nd-max as a row-level sort of the slots —
    plain codegen instead of ObjectHashAggregate) was implemented,
    oracle-verified, and REJECTED on an interleaved A/B at sf0.1: the
    slot form ran ~1.5x SLOWER on the 64^3/6-level pyramid (8 sparse
    aggregate buffers + the per-child array sort cost more than the
    tiny 8-element list collection they replace). The collect_list
    form stays.
    """
    dz, dy, dx = dims
    cz = child_index(F.col("z"), dz).alias("z")
    cy = child_index(F.col("y"), dy).alias("y")
    cx = child_index(F.col("x"), dx).alias("x")
    return (
        voxels.groupBy(cz, cy, cx, "channel")
        .agg(_agg_expr(filter_).cast("int").alias("intensity"))
    )


def np_child_indices(in_len: int) -> "object":
    """Vectorized :func:`child_index`: parent index -> child index for
    one axis (identical branch structure, NumPy instead of Catalyst).
    Used by :func:`np_halve`, which the in-executor kernels run on
    voxels already local to one task: the subtree kernel of
    pipelines/octree.py and the per-block KTX converter of
    pipelines/ktx.py."""
    import numpy as np

    out_len = mipmap_dimension(1, in_len)
    j = np.arange(in_len, dtype=np.int64)
    if in_len <= 3 or out_len == 1:
        return np.zeros(in_len, dtype=np.int64)
    if in_len == 2 * out_len:
        return j >> 1
    p = out_len // 2
    return np.where(
        j <= 2 * p + 1, j >> 1, np.where(j == 2 * p + 2, p, (j - 1) >> 1)
    )


def np_halve(
    vol: "object",
    filter_: str,
    axes: tuple[bool, bool, bool] = (True, True, True),
) -> "object":
    """One halving step over a dense (z, y, x) NumPy block — the
    in-executor mirror of :func:`downsample_voxels` (same zero-is-NULL
    kernels, same odd-pivot mapping; property-tested equal in
    tests/test_volume.py). ``axes`` selects which dimensions halve
    (the XY-only first-mip option, ktx/util.py:183-192, is
    ``(False, True, True)``).

    When every halved axis is even, each output voxel reduces its
    window of 8 parents (4 when only Y and X halve) with elementwise
    ops over strided views (:func:`_halve_windows`); odd extents, whose
    pivot child owns three parents, bucket with one bincount/maximum.at
    pass per reduction.
    Neither has a Python loop, so a 512^3 block halves in tens of
    milliseconds. That is what lets one task build every pyramid level
    of an octree subtree (pipelines/octree.py: the assembled region of
    8^s blocks halves in place, level after level — with even extents
    the pairs never straddle two parents, so halving the region equals
    halving each parent's 2x2x2 children) and what makes the per-block
    KTX conversion a map-only job instead of a shuffle cascade."""
    import numpy as np

    vol = np.asarray(vol)
    if not np.issubdtype(vol.dtype, np.integer):
        vol = vol.astype(np.int64)
    odims = tuple(
        mipmap_dimension(1, d) if h else d for d, h in zip(vol.shape, axes)
    )
    if all(d == 2 * o or not h for d, o, h in zip(vol.shape, odims, axes)):
        return _halve_windows(vol, odims, filter_)
    oz, oy, ox = odims
    n = oz * oy * ox
    # int32 bucket indexes halve the dominant temporary (one index per
    # input voxel); a 512^3 block's output is ~2^24, far under 2^31
    itype = np.int32 if n < 2**31 else np.int64
    maps = [
        (np_child_indices(d) if h else np.arange(d, dtype=np.int64)).astype(
            itype
        )
        for d, h in zip(vol.shape, axes)
    ]
    idx = (
        (maps[0][:, None, None] * itype(oy) + maps[1][None, :, None])
        * itype(ox)
        + maps[2][None, None, :]
    ).ravel()
    # values keep their input dtype (comparisons and gathers only);
    # mean sums go through float64 bincount weights regardless
    v = vol.ravel()
    if filter_ == "mean":
        nzm = v != 0
        s = np.bincount(idx[nzm], weights=v[nzm].astype(np.float64), minlength=n)
        c = np.bincount(idx[nzm], minlength=n)
        out = np.zeros(n, dtype=np.int64)
        has = c > 0
        out[has] = np.floor(s[has] / c[has]).astype(np.int64)
    elif filter_ == "max":
        out = np.zeros(n, dtype=np.int64)
        nzm = v != 0
        np.maximum.at(out, idx[nzm], v[nzm])
    elif filter_ == "arthur":
        size = np.bincount(idx, minlength=n)
        m1 = np.zeros(n, dtype=np.int64)
        np.maximum.at(m1, idx, v)
        at_max = v == m1[idx]
        cnt_max = np.bincount(idx[at_max], minlength=n)
        m2 = np.zeros(n, dtype=np.int64)
        np.maximum.at(m2, idx[~at_max], v[~at_max])
        second = np.where(cnt_max >= 2, m1, m2)
        out = np.where((size > 1) & (second != 0), second, m1)
    else:
        raise ValueError(f"unknown filter {filter_!r}; have {FILTERS}")
    return out.reshape(odims)


def _halve_windows(
    vol: "object", odims: tuple[int, int, int], filter_: str
) -> "object":
    """:func:`np_halve` over even halved axes. Output voxel (i, j, k)
    reduces its window of 8 parents (4 when only Y and X halve), one
    from each strided view ``vol[a::2, b::2, c::2]``, with the same
    semantics as the bucketed form (zero is no data): elementwise ops
    over whole views, one per window position."""
    import numpy as np

    fz, fy, fx = (d // o for d, o in zip(vol.shape, odims))
    views = [
        vol[a::fz, b::fy, c::fx]
        for a in range(fz)
        for b in range(fy)
        for c in range(fx)
    ]
    if filter_ == "mean":
        # zeros add nothing to the sum; floor division equals the
        # float64 floor(sum / count) of these small integer sums
        total = sum(v.astype(np.int64) for v in views)
        count = sum((v != 0).astype(np.int8) for v in views)
        return np.where(count > 0, total // np.maximum(count, 1), 0)
    if filter_ == "max":
        out = np.zeros(odims, dtype=np.int64)
        for v in views:
            np.maximum(out, v, out=out)
        return out
    if filter_ == "arthur":
        # the window's largest and second-largest value (ties count
        # twice), kept running over the views
        first = views[0].astype(np.int64)
        second = first if len(views) == 1 else None
        for v in views[1:]:
            low = np.minimum(first, v)
            second = low if second is None else np.maximum(second, low)
            first = np.maximum(first, v)
        return np.where(second != 0, second, first)
    raise ValueError(f"unknown filter {filter_!r}; have {FILTERS}")
