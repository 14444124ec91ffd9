"""KTX 1.1 binary codec + Spark sink/source (SURVEY.md §2.A8/A9).

Implements the public Khronos KTX 1.1 container (identifier,
endianness marker 0x04030201, 13 uint32 header words, padded
key/value metadata, length-prefixed 4-byte-aligned mipmap payloads)
from the spec. Reference behavior mirrored: streaming per-block write
(ktx_from_rendered_tiff.py:323-400), header parse/serialize
(ktx/__init__.py:225-355), value bytes carry a trailing NUL
(ktx/__init__.py:150-151).

Spark integration keeps the engine distributed: the writer is a
grouped-map (``applyInPandas``) over ``(block, channel)`` groups of
pyramid rows — each task serializes one block's mipmap chain to one
KTX blob, so blobs never visit the driver; the reader is a
``mapInPandas`` decode over binary rows (the ``binaryFile`` source
shape). Both move bytes through Arrow batches, not Python rows.
"""

from __future__ import annotations

import io
import struct
import sys
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

# Public OpenGL enum values (gl.h / Khronos registry).
GL_UNSIGNED_BYTE = 0x1401
GL_UNSIGNED_SHORT = 0x1403
GL_RED = 0x1903
GL_RG = 0x8227
GL_RGB = 0x1907
GL_RGBA = 0x1908
_FORMATS = {1: GL_RED, 2: GL_RG, 3: GL_RGB, 4: GL_RGBA}
_INTERNAL = {
    (GL_RED, 1): 0x8229,  # GL_R8
    (GL_RED, 2): 0x822A,  # GL_R16
    (GL_RG, 1): 0x822B,  # GL_RG8
    (GL_RG, 2): 0x822C,  # GL_RG16
    (GL_RGB, 1): 0x8051,  # GL_RGB8
    (GL_RGB, 2): 0x8054,  # GL_RGB16
    (GL_RGBA, 1): 0x8058,  # GL_RGBA8
    (GL_RGBA, 2): 0x805B,  # GL_RGBA16
}

_IDENTIFIER = b"\xabKTX 11\xbb\r\n\x1a\n"
_ENDIAN_LE = b"\x01\x02\x03\x04"
_ENDIAN_BE = b"\x04\x03\x02\x01"


class KtxParseError(ValueError):
    pass


@dataclass
class KtxHeader:
    little_endian: bool = True
    gl_type: int = GL_UNSIGNED_SHORT
    gl_type_size: int = 2
    gl_format: int = GL_RED
    gl_internal_format: int = 0x822A
    gl_base_internal_format: int = GL_RED
    pixel_width: int = 0
    pixel_height: int = 0
    pixel_depth: int = 0
    number_of_array_elements: int = 0
    number_of_faces: int = 0
    number_of_mipmap_levels: int = 1
    metadata: dict[bytes, bytes] = field(default_factory=dict)

    @classmethod
    def for_array(
        cls,
        shape_zyx: tuple[int, int, int],
        itemsize: int,
        channels: int,
        mipmap_levels: int,
        metadata: dict[str, str] | None = None,
    ) -> "KtxHeader":
        if itemsize not in (1, 2):
            raise ValueError("only uint8/uint16 payloads supported")
        if channels not in _FORMATS:
            raise ValueError("1-4 channels supported")
        fmt = _FORMATS[channels]
        h = cls(
            little_endian=sys.byteorder == "little",
            gl_type=GL_UNSIGNED_BYTE if itemsize == 1 else GL_UNSIGNED_SHORT,
            gl_type_size=itemsize,
            gl_format=fmt,
            gl_internal_format=_INTERNAL[(fmt, itemsize)],
            gl_base_internal_format=fmt,
            pixel_width=shape_zyx[2],
            pixel_height=shape_zyx[1],
            pixel_depth=shape_zyx[0],
            number_of_mipmap_levels=mipmap_levels,
        )
        # Value bytes carry a trailing NUL (matches ktx/__init__.py:150-151).
        for k, v in (metadata or {}).items():
            h.metadata[k.encode()] = v.encode() + b"\x00"
        return h

    # --- serialization -----------------------------------------------------

    def _ec(self) -> str:
        return "<" if self.little_endian else ">"

    def write_stream(self, out: io.BufferedIOBase) -> None:
        out.write(_IDENTIFIER)
        out.write(_ENDIAN_LE if self.little_endian else _ENDIAN_BE)
        words = (
            self.gl_type,
            self.gl_type_size,
            self.gl_format,
            self.gl_internal_format,
            self.gl_base_internal_format,
            self.pixel_width,
            self.pixel_height,
            self.pixel_depth,
            self.number_of_array_elements,
            self.number_of_faces,
            self.number_of_mipmap_levels,
        )
        out.write(struct.pack(self._ec() + "11I", *words))
        kv = io.BytesIO()
        for key, value in self.metadata.items():
            blob = key + b"\x00" + value
            pad = 3 - ((len(blob) + 3) % 4)
            kv.write(struct.pack(self._ec() + "I", len(blob)))
            kv.write(blob)
            kv.write(b"\x00" * pad)
        out.write(struct.pack(self._ec() + "I", len(kv.getvalue())))
        out.write(kv.getvalue())

    @classmethod
    def read_stream(cls, src: io.BufferedIOBase) -> "KtxHeader":
        if src.read(12) != _IDENTIFIER:
            raise KtxParseError("bad KTX identifier")
        endian = src.read(4)
        if endian == _ENDIAN_LE:
            le = True
        elif endian == _ENDIAN_BE:
            le = False
        else:
            raise KtxParseError(f"bad endian marker {endian!r}")
        ec = "<" if le else ">"
        words = struct.unpack(ec + "11I", src.read(44))
        h = cls(le, *words)
        kv_bytes = struct.unpack(ec + "I", src.read(4))[0]
        remaining = kv_bytes
        while remaining > 4:
            size = struct.unpack(ec + "I", src.read(4))[0]
            blob = src.read(size)
            pad = 3 - ((size + 3) % 4)
            src.read(pad)
            remaining -= 4 + size + pad
            nul = blob.find(b"\x00")
            h.metadata[blob[:nul]] = blob[nul + 1:]
        return h


def encode_ktx(header: KtxHeader, mipmaps: list[bytes]) -> bytes:
    """Serialize header + length-prefixed, 4-byte-padded mipmap levels."""
    out = io.BytesIO()
    header.write_stream(out)
    ec = header._ec()
    for level in mipmaps:
        out.write(struct.pack(ec + "I", len(level)))
        out.write(level)
        out.write(b"\x00" * (3 - ((len(level) + 3) % 4)))
    return out.getvalue()


_LZ4_FRAME_MAGIC = b"\x04\x22\x4d\x18"  # LZ4 frame, little-endian


def decode_ktx(data: bytes) -> tuple[KtxHeader, list[bytes]]:
    if data[:4] == _LZ4_FRAME_MAGIC:
        # .ktx.lz4 side-compression (the reference's dev shell-out to
        # LZ4.exe, ktx_from_rendered_tiff.py:565-583, writes LZ4
        # frames): transparently decompress, so every reader —
        # ktx_decode_blocks over binaryFile rows included — handles
        # compressed stores with no extra plumbing
        from hortacloud_importer_spark.sources.codecs import (
            lz4_frame_decompress,
        )

        data = lz4_frame_decompress(data)
    src = io.BytesIO(data)
    header = KtxHeader.read_stream(src)
    mipmaps = []
    for _ in range(max(1, header.number_of_mipmap_levels)):
        size = struct.unpack(header._ec() + "I", src.read(4))[0]
        mipmaps.append(src.read(size))
        src.read(3 - ((size + 3) % 4))
    return header, mipmaps


# --- Spark plumbing --------------------------------------------------------

KTX_SCHEMA = (
    "zi int, yi int, xi int, depth int, channel int, n_levels int, ktx binary"
)


def interleave_channels(arrays: list[np.ndarray]) -> np.ndarray:
    """Interleave same-shaped flat channel payloads element-wise:
    [z y x]-ordered per-channel arrays -> one [z y x c]-ordered array
    — the reference's multi-channel texel layout
    (interleave_channel_arrays, ktx/util.py:242-262), restated on the
    flat zyx payload blockify() produces."""
    if len(arrays) == 1:
        return arrays[0]
    return np.stack(arrays, axis=-1).ravel()


def _viewer_metadata(
    geometry,
    zi: int,
    yi: int,
    xi: int,
    depth: int,
    shape_zyx: tuple[int, int, int],
    per_channel: list[dict],
) -> dict[str, str]:
    """Assemble the reference's full KV payload for one block, in the
    reference's key order (geometry walk -> all channels' quantiles ->
    all channels' requant triples — ktx_from_rendered_tiff.py:147-251).
    ``per_channel`` entries: {"percentiles": np.ndarray(101),
    "zero_count", "total_count", and optionally "black"/"white"/
    "gamma0" when intensity downsampling produced real params}."""
    from hortacloud_importer_spark.volume import geometry as G

    path = G.octree_path_digits(zi, yi, xi, depth)
    md = G.block_geometry_metadata(
        geometry,
        path,
        pixel_whd=(shape_zyx[2], shape_zyx[1], shape_zyx[0]),
        n_channels=len(per_channel),
    )
    for c, st in enumerate(per_channel):
        md.update(
            G.channel_quantile_metadata(
                c, st["percentiles"], st["zero_count"], st["total_count"]
            )
        )
    for c, st in enumerate(per_channel):
        md.update(
            G.channel_requant_metadata(
                c,
                black=st.get("black", 1.0),
                white=st.get("white", 65535.0),
                gamma0=st.get("gamma0", 1.0),
            )
        )
    return md


def _channel_stats(voxels: np.ndarray, downsample_intensity: bool) -> dict:
    """Stats for one channel of one block, from its INPUT intensities
    (the reference reports pre-requant statistics) via the NumPy
    mirror of D4/D5/D10 (volume/geometry.py); with
    ``downsample_intensity`` also the requant black/white/gamma."""
    from hortacloud_importer_spark.volume import geometry as G

    v = np.asarray(voxels, dtype="int64").ravel()
    hist = np.bincount(v, minlength=G.N_BINS)
    st = {
        "percentiles": G.nonzero_percentiles(hist),
        "zero_count": int(hist[0]),
        "total_count": int(v.size),
    }
    if downsample_intensity:
        b, w, g = G.intensity_downsample_params(st["percentiles"])
        st["black"], st["white"], st["gamma0"] = float(b), float(w), g
    return st


def _single_block_row(
    zi: int,
    yi: int,
    xi: int,
    depth: int,
    ch: int,
    mip_bytes: list[bytes],
    shape: tuple[int, int, int],
    itemsize: int,
    geometry,
    stats,
    has_depth: bool,
) -> dict:
    """One encoded single-channel block row — shared by the grouped-map
    encode (``ktx_encode_blocks``) and the fused per-block converter
    (pipelines/ktx.py), so both paths emit byte-identical blobs."""
    metadata = {"block_zyx": f"{zi},{yi},{xi}", "channel": str(ch)}
    if has_depth:
        metadata["depth"] = str(depth)
    if geometry is not None:
        metadata.update(
            _viewer_metadata(geometry, zi, yi, xi, depth, shape, [stats])
        )
    header = KtxHeader.for_array(
        shape,
        itemsize,
        channels=1,
        mipmap_levels=len(mip_bytes),
        metadata=metadata,
    )
    return {
        "zi": zi,
        "yi": yi,
        "xi": xi,
        "depth": depth,
        "channel": ch,
        "n_levels": len(mip_bytes),
        "ktx": encode_ktx(header, mip_bytes),
    }


def _interleaved_block_row(
    zi: int,
    yi: int,
    xi: int,
    depth: int,
    chans: list[int],
    mip_bytes: list[bytes],
    shape: tuple[int, int, int],
    itemsize: int,
    geometry,
    stats_list,
    has_depth: bool,
) -> dict:
    """One encoded multi-channel block row (texel-interleaved) —
    shared for the same byte-identity reason as _single_block_row."""
    metadata = {
        "block_zyx": f"{zi},{yi},{xi}",
        "channel_ids": ",".join(str(c) for c in chans),
    }
    if has_depth:
        metadata["depth"] = str(depth)
    if geometry is not None:
        metadata.update(
            _viewer_metadata(geometry, zi, yi, xi, depth, shape, stats_list)
        )
    header = KtxHeader.for_array(
        shape,
        itemsize,
        channels=len(chans),
        mipmap_levels=len(mip_bytes),
        metadata=metadata,
    )
    return {
        "zi": zi,
        "yi": yi,
        "xi": xi,
        "depth": depth,
        "channel": -1,
        "n_levels": len(mip_bytes),
        "ktx": encode_ktx(header, mip_bytes),
    }


def ktx_encode_blocks(
    pyramid_blocks: DataFrame,
    itemsize: int = 2,
    interleave: bool = False,
    geometry=None,
) -> DataFrame:
    """A8: per-block KTX blobs from pyramid block rows.

    Input schema: (zi, yi, xi, channel, level, voxels array<int>,
    shape array<int>) — i.e. blockify() output per pyramid level.
    One grouped-map task serializes one block's level chain; the blob
    never touches the driver. Metadata records the block coordinate
    (the reference stores geometry the same way,
    ktx_from_rendered_tiff.py:208-251).

    ``interleave=False``: one single-channel KTX per (block, channel).
    ``interleave=True``: one multi-channel KTX per block — channels
    are interleaved per texel (GL_RG/RGB/RGBA formats, the reference's
    default 2-channel specimen case, ktx_from_rendered_tiff.py:312);
    the output row's ``channel`` is -1 and the original channel ids
    ride in the ``channel_ids`` metadata key.

    ``geometry`` (a volume.geometry.OctreeGeometry) switches on the
    reference's full viewer KV payload per block — octree geometry
    walk, corners, bounding sphere, nominal resolution, per-channel
    quantiles / zero fraction / intensity-reconstruction triple
    (ktx_from_rendered_tiff.py:147-251). The block's octree depth is
    taken from a ``depth`` input column when present (part of the
    group key), else 0 (a root-only conversion). Channel statistics
    are derived from the level-0 payload inside the encode task.
    """
    dtype = np.uint8 if itemsize == 1 else np.uint16
    cols = pyramid_blocks.columns
    has_depth = "depth" in cols
    dsi = bool(geometry is not None and geometry.downsample_intensity)

    def encode(key, pdf):
        if has_depth:  # groupBy(zi, yi, xi, depth, channel)
            zi, yi, xi, depth, ch = (int(k) for k in key)
        else:
            (zi, yi, xi, ch), depth = (int(k) for k in key), 0
        pdf = pdf.sort_values("level")
        mipmaps = [
            np.asarray(row.voxels, dtype=dtype).tobytes()
            for row in pdf.itertuples()
        ]
        shape = tuple(int(s) for s in pdf.iloc[0]["shape"])
        st = None
        if geometry is not None:
            first = pdf.iloc[0]
            st = _channel_stats(first["voxels"], dsi)
        # whole-store conversions carry blocks at several octree
        # levels; same (zi,yi,xi) can exist at each, so the level
        # must ride the metadata (and the sink file name)
        return pd.DataFrame(
            [
                _single_block_row(
                    zi, yi, xi, depth, ch, mipmaps, shape,
                    itemsize, geometry, st, has_depth,
                )
            ]
        )

    def encode_interleaved(key, pdf):
        if has_depth:
            zi, yi, xi, depth = (int(k) for k in key)
        else:
            (zi, yi, xi), depth = (int(k) for k in key), 0
        chans = sorted(int(c) for c in pdf["channel"].unique())
        levels = sorted(int(v) for v in pdf["level"].unique())
        mipmaps = []
        for lv in levels:
            sub = pdf[pdf["level"] == lv]
            per_ch = {
                int(r.channel): np.asarray(r.voxels, dtype=dtype)
                for r in sub.itertuples()
            }
            mipmaps.append(
                interleave_channels([per_ch[c] for c in chans]).tobytes()
            )
        lvl0 = pdf[pdf["level"] == levels[0]]
        shape = tuple(int(s) for s in lvl0.iloc[0]["shape"])
        per_channel = None
        if geometry is not None:
            per_channel = []
            for c in chans:
                row = lvl0[lvl0["channel"] == c].iloc[0]
                per_channel.append(_channel_stats(row["voxels"], dsi))
        return pd.DataFrame(
            [
                _interleaved_block_row(
                    zi, yi, xi, depth, chans, mipmaps, shape,
                    itemsize, geometry, per_channel, has_depth,
                )
            ]
        )

    key = ["zi", "yi", "xi"] + (["depth"] if has_depth else [])
    if interleave:
        return pyramid_blocks.groupBy(*key).applyInPandas(
            encode_interleaved, KTX_SCHEMA
        )
    return pyramid_blocks.groupBy(*key, "channel").applyInPandas(
        encode, KTX_SCHEMA
    )


def ktx_block_name(
    zi: int, yi: int, xi: int, depth: int, channel: int, lz4: bool = False
) -> str:
    """Sink file name for one encoded block. Single-level conversions
    (``depth`` 0) keep the flat ``block_{z}_{y}_{x}_ch{c}.ktx`` name;
    whole-store conversions add ``_d{depth}`` — without it the root
    block and the (0,0,0) block of every other octree level would
    collide on one file, silently dropping levels (the reference
    disambiguates the same way, by encoding the octree path into the
    name, tiff2octree.py:401)."""
    tag = f"_d{depth}" if depth else ""
    sfx = ".ktx.lz4" if lz4 else ".ktx"
    return f"block_{zi}_{yi}_{xi}{tag}_ch{channel}{sfx}"


DECODE_SCHEMA = (
    "zi int, yi int, xi int, depth int, channel int, level int, n_bytes int,"
    " pixel_depth int, pixel_height int, pixel_width int, voxels array<int>"
)


def ktx_decode_blocks(ktx_df: DataFrame, itemsize: int = 2) -> DataFrame:
    """A9: binary KTX rows -> one row per mipmap level with payload.

    mapInPandas keeps decode on executors; works identically over
    ``spark.read.format("binaryFile")`` rows (rename ``content`` to
    ``ktx``).
    """
    dtype = np.uint8 if itemsize == 1 else np.uint16
    n_channels_of = {fmt: n for n, fmt in _FORMATS.items()}

    def decode(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                header, mipmaps = decode_ktx(bytes(row.ktx))
                z, y, x = (
                    int(v)
                    for v in header.metadata[b"block_zyx"].rstrip(b"\x00").split(b",")
                )
                d_raw = header.metadata.get(b"depth")
                block_depth = int(d_raw.rstrip(b"\x00")) if d_raw else 0
                nch = n_channels_of.get(header.gl_format, 1)
                if nch == 1:
                    ch_ids = [int(header.metadata[b"channel"].rstrip(b"\x00"))]
                else:
                    ch_ids = [
                        int(c)
                        for c in header.metadata[b"channel_ids"]
                        .rstrip(b"\x00")
                        .split(b",")
                    ]
                for lv, payload in enumerate(mipmaps):
                    texels = np.frombuffer(payload, dtype=dtype).reshape(-1, nch)
                    for ci, ch in enumerate(ch_ids):
                        out.append(
                            {
                                "zi": z,
                                "yi": y,
                                "xi": x,
                                "depth": block_depth,
                                "channel": ch,
                                "level": lv,
                                "n_bytes": len(payload) // nch,
                                "pixel_depth": header.pixel_depth,
                                "pixel_height": header.pixel_height,
                                "pixel_width": header.pixel_width,
                                "voxels": texels[:, ci].astype(np.int32),
                            }
                        )
            yield pd.DataFrame(out)

    return ktx_df.mapInPandas(decode, DECODE_SCHEMA)
