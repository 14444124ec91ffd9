"""Octree -> KTX with the reference's viewer metadata payload:
KV geometry + channel statistics round-trip byte-for-byte through the
KTX container, transform.txt drives the geometry and is copied beside
the output, and the pass-2 requant / XY-downsample options reproduce
the reference NumPy formulas end-to-end
(ktx_from_rendered_tiff.py:147-251, 346-365; ktx/util.py:184-192;
tiff2octree.py:842-901)."""

from __future__ import annotations

import math

import numpy as np

from hortacloud_importer_spark.sources.ktx import (
    GL_UNSIGNED_BYTE,
    GL_UNSIGNED_SHORT,
    decode_ktx,
    ktx_encode_blocks,
)
from hortacloud_importer_spark.volume import geometry as G

_VOX_SCHEMA = "z int, y int, x int, channel int, intensity int"

# reference KV key order (_populate_octree_metadata emits geometry
# keys, then all channels' quantile keys, then all channels' requant
# triples)
_GEOM_KEYS = [
    "distance_units",
    "multiscale_level_id",
    "multiscale_total_levels",
    "octree_path",
    "number_of_channels",
    "xyz_from_texcoord_xform",
    "corner_xyzs",
    "corner_texcoords",
    "bounding_sphere_center",
    "bounding_sphere_radius",
    "nominal_resolution",
    "specimen_id",
    "mipmap_filter",
    "relation_to_parent",
]


def _meta_str(header, key: str) -> str:
    return header.metadata[key.encode()].rstrip(b"\x00").decode()


def _build_store(spark, tmp_path, vol, name="store", **kwargs):
    from hortacloud_importer_spark.pipelines import build_octree

    rows = [
        (int(z), int(y), int(x), 0, int(vol[z, y, x]))
        for z in range(vol.shape[0])
        for y in range(vol.shape[1])
        for x in range(vol.shape[2])
    ]
    voxels = spark.createDataFrame(rows, _VOX_SCHEMA)
    store = str(tmp_path / name)
    build_octree(
        spark, voxels, store, nlevels=2, filter_="max", dims=vol.shape, **kwargs
    )
    return store


def test_encode_blocks_kv_payload_round_trips(spark):
    """Golden-byte: geometry KV written by ktx_encode_blocks survives
    the container round-trip with the reference's key order and
    values."""
    rng = np.random.default_rng(41)
    vox = rng.integers(1, 60000, 64).astype(int).tolist()
    blocks = spark.createDataFrame(
        [(1, 0, 1, 1, 0, 0, [4, 4, 4], vox)],
        "zi int, yi int, xi int, depth int, channel int, level int,"
        " shape array<int>, voxels array<int>",
    )
    geom = G.OctreeGeometry(
        origin_um=(10.0, 20.0, 30.0),
        volume_um=(100.0, 80.0, 60.0),
        number_of_levels=2,
        specimen_id="spec-e2e",
        mipmap_filter="max",
    )
    out = ktx_encode_blocks(blocks, geometry=geom).collect()
    assert len(out) == 1
    header, mipmaps = decode_ktx(bytes(out[0]["ktx"]))

    keys = [k.decode() for k in header.metadata]
    assert keys[:3] == ["block_zyx", "channel", "depth"]
    assert keys[3:] == _GEOM_KEYS + [
        "channel_0_intensity_quantiles",
        "channel_0_percent_zero_intensity",
        "channel_0_intensity_gamma",
        "channel_0_intensity_scale",
        "channel_0_intensity_offset",
    ]
    # every value carries the trailing NUL (ktx/__init__.py:150-151)
    assert all(v.endswith(b"\x00") for v in header.metadata.values())

    # digits for block (zi=1, yi=0, xi=1) at depth 1: 1 + 1 + 0 + 4 = 6
    assert _meta_str(header, "octree_path") == "6"
    origin, volume = G.walk_octree_path(
        geom.origin_um, geom.volume_um, [6]
    )
    ox, oy, oz = origin
    sx, sy, sz = volume
    want_xform = np.array(
        [[sx, 0, 0, ox], [0, sy, 0, oy], [0, 0, sz, oz], [0, 0, 0, 1]],
        dtype="float64",
    )
    assert _meta_str(header, "xyz_from_texcoord_xform") == str(want_xform)
    assert _meta_str(header, "bounding_sphere_radius") == str(
        math.sqrt(sx * sx + sy * sy + sz * sz) / 16.0
    )
    assert _meta_str(header, "specimen_id") == "spec-e2e"
    assert _meta_str(header, "mipmap_filter") == "max"

    # channel stats computed from the level-0 payload inside the task
    v = np.asarray(vox, dtype="int64")
    hist = np.bincount(v, minlength=G.N_BINS)
    pct = G.nonzero_percentiles(hist)
    assert _meta_str(header, "channel_0_intensity_quantiles") == str(
        [int(pct[10 * p]) for p in range(11)]
    )
    assert _meta_str(header, "channel_0_percent_zero_intensity") == str(
        100.0 * int(hist[0]) / float(v.size)
    )
    # no intensity downsampling -> identity reconstruction triple
    assert _meta_str(header, "channel_0_intensity_gamma") == "1.0"
    assert _meta_str(header, "channel_0_intensity_scale") == "1.0"
    assert _meta_str(header, "channel_0_intensity_offset") == "0.0"


def test_octree_to_ktx_with_transform_metadata(spark, tmp_path):
    """Full chain: build_octree writes transform.txt; tiff_octree_to_ktx
    reads it, stamps every KTX header with the block's geometry +
    stats, and copies transform.txt beside the output."""
    from hortacloud_importer_spark.pipelines import tiff_octree_to_ktx

    rng = np.random.default_rng(43)
    vol = rng.integers(1, 60000, (8, 8, 8)).astype(np.uint16)
    store = _build_store(
        spark,
        tmp_path,
        vol,
        origin_nm=(1000.0, 2000.0, 3000.0),
        voxel_size_um=(0.5, 0.5, 1.0),
    )
    assert (tmp_path / "store" / "transform.txt").exists()

    ktx_out = str(tmp_path / "ktx")
    summary = tiff_octree_to_ktx(
        spark, store, ktx_out, block_dims=(4, 4, 4), n_mips=3,
        filter_="max", depth=1,
    ).first()
    assert summary["n_blocks"] == 8
    assert (tmp_path / "ktx" / "transform.txt").read_bytes() == (
        tmp_path / "store" / "transform.txt"
    ).read_bytes()

    # leaf (1,1,1) -> digit 8; root voxel um = leaf * 2^(nl-1) =
    # (1,1,2) xyz; full volume = root voxel * ROOT-BLOCK pixels (the
    # root block IS the whole volume at root resolution,
    # ktx_from_rendered_tiff.py:53-57) = (1,1,2) * (4,4,4) = (4,4,8)
    blob = (tmp_path / "ktx" / "block_1_1_1_d1_ch0.ktx").read_bytes()
    header, mipmaps = decode_ktx(blob)
    assert header.gl_type == GL_UNSIGNED_SHORT
    assert _meta_str(header, "octree_path") == "8"
    assert _meta_str(header, "multiscale_level_id") == "1"
    assert _meta_str(header, "multiscale_total_levels") == "2"
    origin, volume = G.walk_octree_path((1.0, 2.0, 3.0), (4.0, 4.0, 8.0), [8])
    assert _meta_str(header, "bounding_sphere_center") == str(
        np.array(
            (
                origin[0] + 0.5 * volume[0],
                origin[1] + 0.5 * volume[1],
                origin[2] + 0.5 * volume[2],
            )
        )
    )
    # nominal resolution: block volume (4,4,8)um over 4x4x4 pixels
    res = [volume[0] / 4, volume[1] / 4, volume[2] / 4]
    assert _meta_str(header, "nominal_resolution") == str(
        math.sqrt(float(np.mean(np.square(res))))
    )
    # stats of the stored sub-block
    sub = vol[4:, 4:, 4:]
    hist = np.bincount(sub.ravel().astype("int64"), minlength=G.N_BINS)
    pct = G.nonzero_percentiles(hist)
    assert _meta_str(header, "channel_0_intensity_quantiles") == str(
        [int(pct[10 * p]) for p in range(11)]
    )
    # payload untouched (no requant): level 0 == stored block
    got = np.frombuffer(mipmaps[0], dtype=np.uint16).reshape(4, 4, 4)
    assert np.array_equal(got, sub)


def test_octree_to_ktx_requant_pass(spark, tmp_path):
    """downsample_intensity=True: uint8 output, payload equals the
    reference requant formula with per-block params estimated from the
    block's own histogram; header reports INPUT statistics and the
    reconstruction triple."""
    from hortacloud_importer_spark.pipelines import tiff_octree_to_ktx

    rng = np.random.default_rng(47)
    vol = rng.integers(0, 60000, (8, 8, 8)).astype(np.uint16)  # has zeros
    store = _build_store(spark, tmp_path, vol)

    ktx_out = str(tmp_path / "ktx8")
    tiff_octree_to_ktx(
        spark, store, ktx_out, block_dims=(4, 4, 4), n_mips=1,
        filter_="max", depth=1, downsample_intensity=True,
    )
    for zi, yi, xi in [(0, 0, 0), (1, 0, 1)]:
        digit_block = vol[
            zi * 4 : zi * 4 + 4, yi * 4 : yi * 4 + 4, xi * 4 : xi * 4 + 4
        ]
        blob = (tmp_path / "ktx8" / f"block_{zi}_{yi}_{xi}_d1_ch0.ktx").read_bytes()
        header, mipmaps = decode_ktx(blob)
        assert header.gl_type == GL_UNSIGNED_BYTE
        assert header.gl_type_size == 1

        hist = np.bincount(digit_block.ravel().astype("int64"), minlength=G.N_BINS)
        pct = G.nonzero_percentiles(hist)
        black, white, gamma = G.intensity_downsample_params(pct)
        want = G.requantize(digit_block, black, white, gamma)
        got = np.frombuffer(mipmaps[0], dtype=np.uint8).reshape(4, 4, 4)
        assert np.array_equal(got, want), (zi, yi, xi)

        assert _meta_str(header, "relation_to_parent") == (
            "rescaled intensity to 8 bits"
        )
        assert _meta_str(header, "channel_0_intensity_gamma") == str(1.0 / gamma)
        assert _meta_str(header, "channel_0_intensity_scale") == str(
            (white - black) / 65534.0
        )
        assert _meta_str(header, "channel_0_intensity_offset") == str(
            (black - 1.0) / 65534.0
        )
        # quantiles describe the INPUT intensities, not the uint8 payload
        assert _meta_str(header, "channel_0_intensity_quantiles") == str(
            [int(pct[10 * p]) for p in range(11)]
        )


def test_octree_to_ktx_downsample_xy(spark, tmp_path):
    """downsample_xy=True: X/Y halved before the chain with the same
    zero-is-NULL kernel; header pixel dims reflect the halving."""
    from hortacloud_importer_spark.pipelines import tiff_octree_to_ktx

    rng = np.random.default_rng(53)
    vol = rng.integers(1, 60000, (8, 8, 8)).astype(np.uint16)
    store = _build_store(spark, tmp_path, vol)

    ktx_out = str(tmp_path / "ktx_xy")
    tiff_octree_to_ktx(
        spark, store, ktx_out, block_dims=(4, 4, 4), n_mips=1,
        filter_="max", depth=1, downsample_xy=True,
    )
    sub = vol[:4, :4, :4]
    want = sub.reshape(4, 2, 2, 2, 2).transpose(0, 1, 3, 2, 4).reshape(4, 4, 4)
    # max over each 1x2x2 window (all values non-zero here)
    want = sub.reshape(4, 2, 2, 2, 2).max(axis=(2, 4))
    blob = (tmp_path / "ktx_xy" / "block_0_0_0_d1_ch0.ktx").read_bytes()
    header, mipmaps = decode_ktx(blob)
    assert (header.pixel_depth, header.pixel_height, header.pixel_width) == (
        4,
        2,
        2,
    )
    got = np.frombuffer(mipmaps[0], dtype=np.uint16).reshape(4, 2, 2)
    assert np.array_equal(got, want)
    assert _meta_str(header, "relation_to_parent") == "downsampled 2X in X & Y"


def test_octree_to_ktx_without_transform_keeps_plain_metadata(spark, tmp_path):
    """A store without transform.txt (foreign/legacy) still converts —
    headers carry only the engine keys."""
    from hortacloud_importer_spark.pipelines import tiff_octree_to_ktx

    rng = np.random.default_rng(59)
    vol = rng.integers(1, 60000, (4, 4, 4)).astype(np.uint16)
    store = _build_store(spark, tmp_path, vol, write_transform=False)
    assert not (tmp_path / "store" / "transform.txt").exists()

    ktx_out = str(tmp_path / "ktx_plain")
    tiff_octree_to_ktx(
        spark, store, ktx_out, block_dims=(2, 2, 2), n_mips=1,
        filter_="max", depth=1,
    )
    blob = (tmp_path / "ktx_plain" / "block_0_0_0_d1_ch0.ktx").read_bytes()
    header, _ = decode_ktx(blob)
    assert [k.decode() for k in header.metadata] == [
        "block_zyx", "channel", "depth",
    ]
    assert not (tmp_path / "ktx_plain" / "transform.txt").exists()
