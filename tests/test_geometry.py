"""volume/geometry.py vs the literal reference NumPy formulas:
octree geometry walk (ktx_from_rendered_tiff.py:147-207), non-zero
percentile accumulation (:433-479), intensity downsample params
(:481-530), pass-2 requantization (:346-365), transform.txt format
(tiff2octree.py:842-901 / ktx_from_rendered_tiff.py:34-48)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from hortacloud_importer_spark.volume import geometry as G


# --- reference mirrors written from the cited formulas ---------------------


def _ref_walk(origin, volume, path):
    """ktx_from_rendered_tiff.py:158-174, literally."""
    origin = np.array(origin, dtype="float64")
    volume = np.array(volume, dtype="float64")
    for level0 in path:
        level = level0 - 1
        volume = volume * 0.5
        if level >= 4:
            origin[2] += volume[2]
        if level in [2, 3, 6, 7]:
            origin[1] += volume[1]
        if level % 2 > 0:
            origin[0] += volume[0]
    return origin, volume


def _ref_percentiles(histogram):
    """ktx_from_rendered_tiff.py:440-476, literally (loop form)."""
    percentiles = np.zeros((101,), dtype="uint32")
    total_non_zero = 0
    min_non_zero = 0
    max_non_zero = 0
    for i in range(1, 65536):
        count = histogram[i]
        if count == 0:
            continue
        total_non_zero += count
        if min_non_zero == 0:
            min_non_zero = i
        max_non_zero = i
    accumulated = 0
    percentage = 0.0
    if total_non_zero > 0:
        for i in range(1, 65536):
            floor_percentage = percentage
            accumulated += histogram[i]
            ceil_percentage = 100.0 * accumulated / float(total_non_zero)
            percentage = ceil_percentage
            min_bin = int(floor_percentage)
            max_bin = int(ceil_percentage)
            if min_bin == max_bin:
                continue
            for p in range(min_bin + 1, max_bin + 1):
                percentiles[p] = i
    percentiles[0] = min_non_zero
    percentiles[100] = max_non_zero
    return percentiles


def _ref_params(percentiles):
    """ktx_from_rendered_tiff.py:481-530, literally."""
    mean_intensity = 0
    for p in range(20, 96):
        mean_intensity += percentiles[p]
    mean_intensity /= 76.0
    variance = 0
    for p in range(20, 96):
        d = percentiles[p] - mean_intensity
        variance += d * d
    variance /= 76.0
    stddev = math.sqrt(variance)
    white_level = int(percentiles[95] + 6.0 * stddev)
    white_level = int(max(white_level, 0.75 * percentiles[100]))
    white_level = min(white_level, percentiles[100])
    white_level = max(white_level, 254)
    black_level = percentiles[20]
    black_level = min(black_level, white_level - 253)
    black_level = max(black_level, 1)
    return black_level, white_level, 0.5


def _ref_requant(zslice, black_level, white_level, gamma):
    """ktx_from_rendered_tiff.py:350-365, literally."""
    zslice1 = np.array(zslice, dtype="float64", copy=True)
    zslice1 -= black_level
    zslice1[zslice1 <= 1] = 1
    zslice1[np.asarray(zslice) == 0] = 0
    range_ = float(white_level - black_level)
    range_ = max(1, range_)
    zslice1 *= 1.0 / range_
    zslice1[zslice1 >= 1.0] = 1.0
    zslice1 = zslice1**gamma
    zslice1 *= 254.0
    zslice1 = np.ceil(zslice1)
    return np.array(zslice1, dtype="uint8")


# --- geometry walk ---------------------------------------------------------


@pytest.mark.parametrize(
    "path", [[], [1], [8], [3, 5], [2, 7, 4], [6, 1, 8, 3]]
)
def test_walk_octree_path_matches_reference(path):
    origin0 = (10.0, -5.0, 100.0)
    volume0 = (400.0, 200.0, 800.0)
    got_o, got_v = G.walk_octree_path(origin0, volume0, path)
    want_o, want_v = _ref_walk(origin0, volume0, path)
    assert np.allclose(got_o, want_o) and np.array_equal(got_o, want_o)
    assert np.array_equal(got_v, want_v)


def test_octree_path_digits_round_trip_with_walk():
    # digit encoding 1 + x + 2y + 4z (tiff2octree.py:269): descending
    # the walk with our digits must land on the block's grid origin
    depth = 3
    vol = (8.0, 8.0, 8.0)
    for zi, yi, xi in [(0, 0, 0), (7, 7, 7), (3, 5, 6), (1, 0, 4)]:
        path = G.octree_path_digits(zi, yi, xi, depth)
        origin, volume = G.walk_octree_path((0.0, 0.0, 0.0), vol, path)
        assert np.array_equal(volume, [1.0, 1.0, 1.0])
        assert np.array_equal(origin, [float(xi), float(yi), float(zi)])


def test_block_geometry_metadata_values():
    geom = G.OctreeGeometry(
        origin_um=(0.0, 0.0, 0.0),
        volume_um=(100.0, 80.0, 60.0),
        number_of_levels=3,
        specimen_id="spec-1",
        mipmap_filter="arthur",
    )
    path = [2]  # x half shifted
    md = G.block_geometry_metadata(geom, path, pixel_whd=(64, 32, 16), n_channels=2)
    assert md["distance_units"] == "micrometers"
    assert md["multiscale_level_id"] == "1"
    assert md["multiscale_total_levels"] == "3"
    assert md["octree_path"] == "2"
    assert md["number_of_channels"] == "2"
    assert md["specimen_id"] == "spec-1"
    assert md["mipmap_filter"] == "arthur"
    assert md["relation_to_parent"] == "unchanged"
    # digit 2 -> level 1 -> bigX only: origin (50, 0, 0), size halved
    ox, oy, oz, sx, sy, sz = 50.0, 0.0, 0.0, 50.0, 40.0, 30.0
    want_xform = np.array(
        [[sx, 0, 0, ox], [0, sy, 0, oy], [0, 0, sz, oz], [0, 0, 0, 1]],
        dtype="float64",
    )
    assert md["xyz_from_texcoord_xform"] == str(want_xform)
    corners = [
        (ox + cx * sx, oy + cy * sy, oz + cz * sz)
        for cz in range(2)
        for cy in range(2)
        for cx in range(2)
    ]
    assert md["corner_xyzs"] == "[%s]" % ", ".join(str(c) for c in corners)
    assert (
        md["corner_texcoords"]
        == "[%s]"
        % ", ".join(
            str((float(cx), float(cy), float(cz)))
            for cz in range(2)
            for cy in range(2)
            for cx in range(2)
        )
    )
    center = np.array((ox + 0.5 * sx, oy + 0.5 * sy, oz + 0.5 * sz))
    assert md["bounding_sphere_center"] == str(center)
    assert md["bounding_sphere_radius"] == str(
        math.sqrt(sx * sx + sy * sy + sz * sz) / 16.0
    )
    res = [sx / 64, sy / 32, sz / 16]
    assert md["nominal_resolution"] == str(
        math.sqrt(float(np.mean(np.square(res))))
    )


def test_relation_to_parent_flags():
    geom = G.OctreeGeometry(
        origin_um=(0, 0, 0),
        volume_um=(1, 1, 1),
        number_of_levels=2,
        downsample_xy=True,
        downsample_intensity=True,
    )
    md = G.block_geometry_metadata(geom, [1], (2, 2, 2), 1)
    assert (
        md["relation_to_parent"]
        == "downsampled 2X in X & Y;rescaled intensity to 8 bits"
    )


# --- channel statistics ----------------------------------------------------


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_nonzero_percentiles_matches_reference_loop(seed):
    rng = np.random.default_rng(seed)
    hist = np.zeros(65536, dtype="int64")
    bins = rng.integers(0, 65536, 200)
    hist[bins] = rng.integers(1, 1000, 200)
    got = G.nonzero_percentiles(hist)
    want = _ref_percentiles(hist)
    assert np.array_equal(got, want)


def _loop_percentiles(histogram):
    """The per-intensity loop ``nonzero_percentiles`` replaced: each
    non-zero intensity takes the percentiles its truncated cumulative
    range covers."""
    out = np.zeros(101, dtype="uint32")
    nz = np.nonzero(histogram[1:])[0] + 1
    if nz.size == 0:
        return out
    counts = histogram[nz].astype("float64")
    cum_pct = 100.0 * np.cumsum(counts) / counts.sum()
    prev_pct = np.concatenate(([0.0], cum_pct[:-1]))
    for i, lo, hi in zip(nz, prev_pct, cum_pct):
        for p in range(int(lo) + 1, int(hi) + 1):
            if p <= 100:
                out[p] = i
    out[0] = nz[0]
    out[100] = nz[-1]
    return out


def _histograms():
    rng = np.random.default_rng(11)
    for _ in range(40):
        hist = np.zeros(65536, dtype="int64")
        n = int(rng.integers(1, 3000))
        top = int(rng.choice([2, 10, 1000, 10**6]))
        hist[rng.integers(0, 65536, n)] = rng.integers(1, top, n)
        yield hist
    single = np.zeros(65536, dtype="int64")
    single[[0, 700]] = (9, 5)
    yield single
    yield np.zeros(65536, dtype="int64")


def test_nonzero_percentiles_matches_the_per_intensity_loop():
    for hist in _histograms():
        assert np.array_equal(G.nonzero_percentiles(hist), _loop_percentiles(hist))


def test_nonzero_percentiles_all_zero_histogram():
    hist = np.zeros(65536, dtype="int64")
    hist[0] = 42  # only no-data voxels
    assert np.array_equal(G.nonzero_percentiles(hist), np.zeros(101))


@pytest.mark.parametrize("seed", [5, 6, 7])
def test_intensity_downsample_params_match_reference(seed):
    rng = np.random.default_rng(seed)
    hist = np.zeros(65536, dtype="int64")
    lo, hi = sorted(rng.integers(1, 65535, 2))
    hist[lo : hi + 1] = rng.integers(0, 50, max(1, hi + 1 - lo))
    pct = G.nonzero_percentiles(hist)
    assert G.intensity_downsample_params(pct) == _ref_params(pct)


def test_intensity_downsample_params_narrow_range_clamps():
    pct = np.full(101, 100, dtype="uint32")  # constant intensity 100
    black, white, gamma = G.intensity_downsample_params(pct)
    assert white == 254  # clamped to >= 254
    assert black == 1  # 100 > 254-253=1 -> min(100, 1) -> 1
    assert gamma == 0.5


@pytest.mark.parametrize("seed", [11, 12])
def test_requantize_matches_reference_slice_transform(seed):
    rng = np.random.default_rng(seed)
    v = rng.integers(0, 65536, (4, 5), dtype=np.uint16)
    v[0, 0] = 0  # no-data must stay 0
    black, white, gamma = 120, 30000, 0.5
    got = G.requantize(v, black, white, gamma)
    want = _ref_requant(v, black, white, gamma)
    assert got.dtype == np.uint8
    assert np.array_equal(got, want)
    assert got[0, 0] == 0
    nz = v != 0
    assert (got[nz] >= 1).all() and (got[nz] <= 254).all()


# --- transform.txt ---------------------------------------------------------


def test_transform_txt_round_trip(tmp_path):
    d = str(tmp_path / "store")
    G.write_transform_txt(
        d, origin_nm=(100.0, 200.0, 300.0), voxel_size_um=(0.25, 0.3, 1.0), nlevels=3
    )
    text = (tmp_path / "store" / "transform.txt").read_text()
    # sx = 0.25 um * 1000 * 2^(3-1) = 1000 nm at root level
    assert "ox: 100.0" in text and "oz: 300.0" in text
    assert "sx: 1000" in text and "sy: 1200" in text and "sz: 4000" in text
    assert text.splitlines()[-1] == "nl: 3"

    t = G.read_transform_txt(d)
    assert t["origin_um"] == (0.1, 0.2, 0.3)
    assert t["root_voxel_um"] == (1.0, 1.2, 4.0)
    assert t["number_of_levels"] == 3


def test_read_transform_txt_absent_returns_none(tmp_path):
    assert G.read_transform_txt(str(tmp_path / "nope")) is None


def test_geometry_from_transform_volume_extent(tmp_path):
    d = str(tmp_path / "s")
    G.write_transform_txt(d, (0, 0, 0), (0.5, 0.5, 1.0), nlevels=2)
    t = G.read_transform_txt(d)
    geom = G.OctreeGeometry.from_transform(t, block_dims=(16, 32, 64))
    # root voxel um = leaf * 2^(nl-1): (1.0, 1.0, 2.0) xyz
    # volume = root voxel * root pixel dims (x=64, y=32, z=16)
    assert geom.volume_um == (64.0, 32.0, 32.0)
    assert geom.number_of_levels == 2


# --- channel KV formatting -------------------------------------------------


def test_channel_metadata_keys_and_values():
    pct = np.arange(101, dtype="uint32") * 10
    q = G.channel_quantile_metadata(0, pct, zero_count=25, total_count=100)
    assert q["channel_0_intensity_quantiles"] == str(
        [int(pct[10 * p]) for p in range(11)]
    )
    assert q["channel_0_percent_zero_intensity"] == "25.0"
    r = G.channel_requant_metadata(1)  # identity defaults
    assert r["channel_1_intensity_gamma"] == "1.0"
    assert r["channel_1_intensity_scale"] == "1.0"
    assert r["channel_1_intensity_offset"] == "0.0"
    r2 = G.channel_requant_metadata(0, black=121.0, white=30000.0, gamma0=0.5)
    assert r2["channel_0_intensity_gamma"] == str(1.0 / 0.5)
    assert r2["channel_0_intensity_scale"] == str((30000.0 - 121.0) / 65534.0)
    assert r2["channel_0_intensity_offset"] == str((121.0 - 1.0) / 65534.0)
