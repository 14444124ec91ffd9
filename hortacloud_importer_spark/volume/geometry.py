"""Octree block geometry + channel-statistics metadata (SURVEY.md §1.1
"Geometry structs", §2.A8/A10).

Clean-room restatement of the reference's viewer metadata:

- the per-block geometry walk — origin/size halving along the octree
  path, the 4x4 texcoord->stage transform, the 8 block corners, the
  bounding sphere and nominal resolution
  (ktx/octree/ktx_from_rendered_tiff.py:147-207);
- the per-channel non-zero percentile vector and intensity
  requantization parameters (ktx_from_rendered_tiff.py:433-530);
- the ``transform.txt`` root-metadata file the whole pass is keyed on
  (written by tiff2octree.py:842-901, read by
  ktx_from_rendered_tiff.py:34-48).

These are driver/executor-side PURE functions (no Spark): the per-block
geometry is O(levels) arithmetic done inside the KTX grouped-map encode
task, and the statistics formulas double as the NumPy mirror that the
distributed D4/D5/D10 operators (operators/percentile.py,
operators/requant.py) are property-tested against.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

N_BINS = 65536  # uint16 intensity domain (small_memory_histogram.py:23)


# --- transform.txt ---------------------------------------------------------


def write_transform_txt(
    out_dir: str,
    origin_nm: tuple[float, float, float],
    voxel_size_um: tuple[float, float, float],
    nlevels: int,
) -> str:
    """Write the root ``transform.txt`` (tiff2octree.py:842-901).

    ``origin_nm`` = volume origin in nanometers (stored verbatim),
    ``voxel_size_um`` = LEAF-level voxel size in micrometers; the
    stored s* values are the ROOT-level voxel size in nanometers:
    ``s = vox_um * 1000 * 2^(nlevels-1)`` with ``%.14g`` formatting.
    """
    from hortacloud_importer_spark.sources import manifest
    from hortacloud_importer_spark.sources.datasource import _pa_fs

    filesystem, base = _pa_fs(out_dir)
    filesystem.create_dir(base, recursive=True)
    scale = 1000.0 * (2 ** (nlevels - 1))
    lines = [
        f"ox: {origin_nm[0]}",
        f"oy: {origin_nm[1]}",
        f"oz: {origin_nm[2]}",
        f"sx: {voxel_size_um[0] * scale:.14g}",
        f"sy: {voxel_size_um[1] * scale:.14g}",
        f"sz: {voxel_size_um[2] * scale:.14g}",
        f"nl: {nlevels}",
    ]
    path = f"{base.rstrip('/')}/transform.txt"
    with manifest.staged_output(filesystem, path) as fh:
        fh.write("\n".join(lines).encode())
    return path


def read_transform_txt(root_dir: str) -> dict | None:
    """Parse ``transform.txt`` the way the reference's octree reader
    does (ktx_from_rendered_tiff.py:34-48): ``: ``-separated keys,
    nm -> um conversion. Returns None when the file is absent.

    Keys: ``origin_um`` (x, y, z), ``root_voxel_um`` (x, y, z — the
    voxel size AT THE ROOT level, i.e. already scaled by 2^(nl-1)),
    ``number_of_levels``.
    """
    from hortacloud_importer_spark.sources.datasource import _pa_fs

    filesystem, base = _pa_fs(root_dir)
    try:
        with filesystem.open_input_stream(
            f"{base.rstrip('/')}/transform.txt"
        ) as fh:
            text = fh.read().decode()
    except (FileNotFoundError, OSError):
        return None
    kv = {}
    for line in text.splitlines():
        fields = line.split(": ")
        if len(fields) != 2:
            continue
        kv[fields[0].strip()] = fields[1].strip()
    um_from_nm = 1.0 / 1000.0
    return {
        "origin_um": tuple(um_from_nm * float(kv[k]) for k in ("ox", "oy", "oz")),
        "root_voxel_um": tuple(
            um_from_nm * float(kv[k]) for k in ("sx", "sy", "sz")
        ),
        "number_of_levels": int(kv["nl"]),
    }


# --- octree geometry walk --------------------------------------------------


@dataclass
class OctreeGeometry:
    """Root-volume context every block's metadata derives from —
    the engine's dual of RenderedMouseLightOctree
    (ktx_from_rendered_tiff.py:30-72)."""

    origin_um: tuple[float, float, float]  # xyz
    volume_um: tuple[float, float, float]  # xyz, full volume extent
    number_of_levels: int
    specimen_id: str = "volume"
    mipmap_filter: str = "arthur"
    downsample_xy: bool = False
    downsample_intensity: bool = False

    @classmethod
    def from_transform(
        cls,
        transform: dict,
        block_dims: tuple[int, int, int],
        **kwargs,
    ) -> "OctreeGeometry":
        """Build from read_transform_txt() output + root block voxel
        dims (z, y, x). volume_um = root voxel size x root pixel count
        (ktx_from_rendered_tiff.py:53-57: the root block IS the whole
        volume at its resolution)."""
        bz, by, bx = block_dims
        vx, vy, vz = transform["root_voxel_um"]
        return cls(
            origin_um=transform["origin_um"],
            volume_um=(vx * bx, vy * by, vz * bz),
            number_of_levels=transform["number_of_levels"],
            **kwargs,
        )


def octree_path_digits(zi: int, yi: int, xi: int, depth: int) -> list[int]:
    """Block coords at ``depth`` -> octant digits, MSB first:
    ``1 + x_bit + 2*y_bit + 4*z_bit`` per level (tiff2octree.py:263-279).
    Block files are named by it (sources/block_store.py::tiff_block_rel,
    whose inverse is parse_block_rel there)."""
    return [
        1
        + ((xi >> bit) & 1)
        + 2 * ((yi >> bit) & 1)
        + 4 * ((zi >> bit) & 1)
        for bit in range(depth - 1, -1, -1)
    ]


def walk_octree_path(
    origin_um: tuple[float, float, float],
    volume_um: tuple[float, float, float],
    octree_path: list[int],
) -> tuple[np.ndarray, np.ndarray]:
    """(block origin, block extent) in um after descending the octant
    path — each digit halves the volume and shifts the origin for the
    right/bottom/far sub-octants (ktx_from_rendered_tiff.py:158-174)."""
    origin = np.array(origin_um, dtype="float64")
    volume = np.array(volume_um, dtype="float64")
    for digit in octree_path:  # digits 1-8
        level = digit - 1
        volume = volume * 0.5
        if level >= 4:  # far z half
            origin[2] += volume[2]
        if level in (2, 3, 6, 7):  # bottom y half
            origin[1] += volume[1]
        if level % 2 > 0:  # right x half
            origin[0] += volume[0]
    return origin, volume


def block_geometry_metadata(
    geom: OctreeGeometry,
    octree_path: list[int],
    pixel_whd: tuple[int, int, int],
    n_channels: int,
) -> dict[str, str]:
    """The geometry KV payload of one block's KTX header, key-for-key
    with _populate_octree_metadata (ktx_from_rendered_tiff.py:147-220;
    values serialized with the reference's str() policy,
    ktx/__init__.py:148-149). ``pixel_whd`` = (width, height, depth)
    of the stored level-0 payload."""
    origin, volume = walk_octree_path(
        geom.origin_um, geom.volume_um, octree_path
    )
    ox, oy, oz = (float(v) for v in origin)
    sx, sy, sz = (float(v) for v in volume)
    xform = np.array(
        [
            [sx, 0, 0, ox],
            [0, sy, 0, oy],
            [0, 0, sz, oz],
            [0, 0, 0, 1],
        ],
        dtype="float64",
    )
    corner_xyzs = []
    corner_texcoords = []
    for cz in range(2):
        for cy in range(2):
            for cx in range(2):
                corner_xyzs.append((ox + cx * sx, oy + cy * sy, oz + cz * sz))
                corner_texcoords.append((float(cx), float(cy), float(cz)))
    center = np.array((ox + 0.5 * sx, oy + 0.5 * sy, oz + 0.5 * sz))
    # the reference's exact radius formula (diagonal / 16), kept for
    # parity (ktx_from_rendered_tiff.py:198)
    radius = math.sqrt(sx * sx + sy * sy + sz * sz) / 16.0
    width, height, depth = pixel_whd
    res = [sx / width, sy / height, sz / depth]
    rms = math.sqrt(float(np.mean(np.square(res))))
    relations = []
    if geom.downsample_xy:
        relations.append("downsampled 2X in X & Y")
    if geom.downsample_intensity:
        relations.append("rescaled intensity to 8 bits")
    if not relations:
        relations.append("unchanged")
    return {
        "distance_units": "micrometers",
        "multiscale_level_id": str(len(octree_path)),
        "multiscale_total_levels": str(geom.number_of_levels),
        "octree_path": "/".join(str(d) for d in octree_path),
        "number_of_channels": str(n_channels),
        "xyz_from_texcoord_xform": str(xform),
        "corner_xyzs": "[%s]" % ", ".join(str(v) for v in corner_xyzs),
        "corner_texcoords": "[%s]" % ", ".join(str(v) for v in corner_texcoords),
        "bounding_sphere_center": str(center),
        "bounding_sphere_radius": str(radius),
        "nominal_resolution": str(rms),
        "specimen_id": geom.specimen_id,
        "mipmap_filter": geom.mipmap_filter,
        "relation_to_parent": ";".join(relations),
    }


# --- channel statistics (NumPy mirror of D4/D5/D10) ------------------------


def nonzero_percentiles(histogram: np.ndarray) -> np.ndarray:
    """101-element integer percentile vector over the NON-ZERO bins of
    an intensity histogram — the reference's accumulation loop
    (ktx_from_rendered_tiff.py:433-479): percentile p gets the first
    intensity whose cumulative non-zero percentage reaches p; p0/p100
    are the non-zero min/max. This is the formula the distributed
    operators/percentile.py::exact_percentiles computes per group."""
    out = np.zeros(101, dtype="uint32")
    nz = np.nonzero(histogram[1:])[0] + 1  # intensities with count > 0
    if nz.size == 0:
        return out
    counts = histogram[nz].astype("float64")
    total = counts.sum()
    cum_pct = 100.0 * np.cumsum(counts) / total
    # p in 1..100 goes to the first intensity whose truncated cumulative
    # percentage reaches p (the loop assigns it to the intensity whose
    # truncated range first covers p)
    first = np.searchsorted(np.trunc(cum_pct), np.arange(1, 101), side="left")
    hit = first < nz.size
    out[1:][hit] = nz[first[hit]]
    out[0] = nz[0]
    out[100] = nz[-1]
    return out


def intensity_downsample_params(
    percentiles: np.ndarray,
    min_quantile: int = 20,
    max_base_quantile: int = 95,
    max_sigma_buffer: float = 6.0,
    max_proportion: float = 0.75,
) -> tuple[int, int, float]:
    """(black_level, white_level, gamma) from the percentile vector —
    the reference's estimator (ktx_from_rendered_tiff.py:481-530),
    mirrored by operators/requant.py for the distributed path.

    Moments come from exact integer sums (s1, s2 fit a double exactly:
    76 band entries <= 65535) folded through the SAME float64
    expression tree as the Catalyst/DuckDB one-pass form
    (operators/requant.band_moments), so the in-executor KTX kernel
    and the distributed channel-statistics query (queries/flagship.py)
    produce bit-identical params — a
    two-pass sum((x-mean)^2) differs by an ulp, which a FLOOR at an
    integer boundary would amplify into a one-level white_level split
    between the two paths."""
    band = percentiles[min_quantile : max_base_quantile + 1].astype("int64")
    n = float(len(band))
    s1 = float(int(band.sum()))
    s2 = float(int((band * band).sum()))
    mean = s1 / n
    variance = max(s2 / n - mean * mean, 0.0)
    stddev = math.sqrt(variance)
    white = int(percentiles[max_base_quantile] + max_sigma_buffer * stddev)
    white = int(max(white, max_proportion * percentiles[100]))
    white = min(white, int(percentiles[100]))
    white = max(white, 254)
    black = int(percentiles[min_quantile])
    black = min(black, white - 253)
    black = max(black, 1)
    return black, white, 0.5


def requantize(
    values: np.ndarray, black: float, white: float, gamma: float
) -> np.ndarray:
    """uint16 -> uint8 intensity requantization, the reference's pass-2
    per-slice transform (ktx_from_rendered_tiff.py:346-365): shift by
    the black level, floor small values at 1, preserve zero as
    no-data, scale into [0,1], gamma-correct, expand to 0-254, ceil.
    The KTX conversion kernel
    (pipelines/ktx.py::_block_converter) calls this per block
    and channel; it is the only requantization path."""
    v = np.asarray(values)
    t = v.astype("float64") - black
    t[t <= 1] = 1
    t[v == 0] = 0
    rng = max(1.0, float(white - black))
    t *= 1.0 / rng
    t[t >= 1.0] = 1.0
    t = t**gamma
    t *= 254.0
    t = np.ceil(t)
    return t.astype("uint8")


def channel_quantile_metadata(
    channel_index: int,
    percentiles: np.ndarray,
    zero_count: int,
    total_count: int,
) -> dict[str, str]:
    """Per-channel decile quantiles + zero fraction KV keys
    (ktx_from_rendered_tiff.py:221-229). Quantile entries are plain
    ints (numpy-1.x str() rendering, which the reference emitted).
    Emitted for ALL channels before any requant keys — header key
    order matches the reference's two separate channel loops."""
    c = channel_index
    quantiles = [int(percentiles[10 * p]) for p in range(11)]
    pct_zero = 100.0 * zero_count / float(total_count)
    return {
        f"channel_{c}_intensity_quantiles": str(quantiles),
        f"channel_{c}_percent_zero_intensity": str(pct_zero),
    }


def channel_requant_metadata(
    channel_index: int,
    black: float = 1.0,
    white: float = 65535.0,
    gamma0: float = 1.0,
) -> dict[str, str]:
    """Per-channel gamma/scale/offset reconstruction triple
    (ktx_from_rendered_tiff.py:241-251): parameters a viewer needs to
    recover normalized 16-bit intensities from the stored payload.
    Defaults = the identity mapping the reference uses when intensity
    downsampling is off."""
    c = channel_index
    range_ = white - black
    scale = range_ / 65534.0
    offset = (black - 1.0) / 65534.0
    gamma = 1.0 / gamma0
    return {
        f"channel_{c}_intensity_gamma": str(gamma),
        f"channel_{c}_intensity_scale": str(scale),
        f"channel_{c}_intensity_offset": str(offset),
    }
