"""JPEG 2000 slice ingest (SURVEY.md §2.A1; reference
tiff2octree.py:673-678, 281-292 — ``get_cropped_image_rasterio`` on
``.jp2`` slice directories).

Clean-room split, mirroring sources/tiff.py's design:

- :func:`jp2_shape` — geometry from the JP2 container's ``ihdr`` box
  (or a raw J2K codestream's SIZ marker segment), written from the
  public ISO/IEC 15444-1 box/marker layout. No codec needed: the
  slice-directory dims probe (one header walk, not a decode) works on
  JP2 stores even in codec-less environments.
- :func:`decode_jp2` — full entropy decode. Both reversible (5/3
  lossless) and irreversible (9/7 scalar-quantized) codestreams —
  single-tile or tiled, tile-part-split, multi-layer — decode
  through the clean-room from-spec codec in sources/j2k.py, the only
  JP2 decoder. Features outside its scope (e.g. spec-reserved
  code-block style bits, non-maxshift RGN, >16-bit components) raise
  ``NotImplementedError`` naming the feature — the honest-gate contract used for every
  partially-covered codec in this repo.
- :func:`encode_jp2` — the fixture/writer dual: wraps
  j2k.encode_j2k's codestream in a minimal spec-shaped JP2 container
  (signature, ftyp, jp2h/ihdr, jp2c), so slice directories can be
  built and round-tripped entirely in-container.

The Spark-side plumbing (listing, partition planning, per-slice
executor decode, window pushdown) is identical to TIFF and fully
tested.
"""

from __future__ import annotations

import struct

import numpy as np


class Jp2ParseError(ValueError):
    pass


# ISO/IEC 15444-1: every JP2 file starts with the 12-byte signature
# box; a raw codestream starts with the SOC marker.
JP2_SIGNATURE = b"\x00\x00\x00\x0cjP  \r\n\x87\n"
SOC_MARKER = b"\xff\x4f"
_SIZ_MARKER = b"\xff\x51"


def _codestream_shape(data: bytes) -> tuple[int, int, int]:
    """(height, width, n_components) from the SIZ marker segment that
    must immediately follow SOC in a J2K codestream."""
    if data[:2] != SOC_MARKER:
        raise Jp2ParseError("no SOC marker at codestream start")
    if data[2:4] != _SIZ_MARKER:
        raise Jp2ParseError("SOC not followed by SIZ marker")
    # SIZ: Lsiz(2) Rsiz(2) Xsiz(4) Ysiz(4) XOsiz(4) YOsiz(4)
    #      XTsiz(4) YTsiz(4) XTOsiz(4) YTOsiz(4) Csiz(2)
    if len(data) < 4 + 38:
        raise Jp2ParseError("truncated SIZ segment")
    (xsiz, ysiz, xosiz, yosiz) = struct.unpack(">IIII", data[8:24])
    (csiz,) = struct.unpack(">H", data[40:42])
    return ysiz - yosiz, xsiz - xosiz, csiz


def _unpack_depth(raw: int, where: str) -> tuple[int, bool]:
    """ISO/IEC 15444-1 sample-precision byte (Ssiz / ihdr BPC / bpcc
    entry) -> (bit_depth, signed): low 7 bits are depth-1, the high
    bit flags two's-complement samples."""
    depth = (raw & 0x7F) + 1
    signed = bool(raw & 0x80)
    if depth < 1 or depth > 38:
        raise Jp2ParseError(f"invalid sample depth {depth} in {where}")
    return depth, signed


def _codestream_sample_format(data: bytes) -> tuple[int, bool]:
    if data[:2] != SOC_MARKER or data[2:4] != _SIZ_MARKER or len(data) < 42:
        raise Jp2ParseError("truncated SIZ component table")
    csiz_end = 42 + 3 * struct.unpack(">H", data[40:42])[0]
    if len(data) < csiz_end:
        raise Jp2ParseError("truncated SIZ component table")
    # per-component Ssiz(1) XRsiz(1) YRsiz(1) triples after Csiz
    depth, signed = 0, False
    for off in range(42, csiz_end, 3):
        d, s = _unpack_depth(data[off], "SIZ Ssiz")
        depth, signed = max(depth, d), signed or s
    return depth, signed


def jp2_sample_format(data: bytes) -> tuple[int, bool]:
    """(bit_depth, signed) from headers only — the JP2 analog of
    TIFF's BitsPerSample/SampleFormat tags (sources/tiff.py
    ``_page_dtype``). Reads the ihdr BPC field (or the ``bpcc`` box
    when BPC=255 declares per-component depths, taking the widest),
    or a raw codestream's per-component Ssiz bytes. Lets a slice
    directory's ingest reject >16-bit or signed JP2 samples at plan
    time instead of silently wrapping them into uint16 tiles."""
    if data[:2] == SOC_MARKER:
        return _codestream_sample_format(data)
    if data[: len(JP2_SIGNATURE)] != JP2_SIGNATURE:
        raise Jp2ParseError("neither a JP2 signature box nor a J2K codestream")
    for tbox, p0, p1 in _iter_boxes(data, len(JP2_SIGNATURE), len(data)):
        if tbox != b"jp2h":
            continue
        bpc = None
        bpcc: bytes | None = None
        for t2, q0, q1 in _iter_boxes(data, p0, p1):
            if t2 == b"ihdr":
                if q1 - q0 < 11:
                    raise Jp2ParseError("short ihdr box")
                bpc = data[q0 + 10]
            elif t2 == b"bpcc":
                bpcc = data[q0:q1]
        if bpc is None:
            raise Jp2ParseError("jp2h box without ihdr")
        if bpc != 0xFF:
            return _unpack_depth(bpc, "ihdr BPC")
        if not bpcc:
            raise Jp2ParseError("ihdr BPC=255 but no bpcc box")
        depth, signed = 0, False
        for raw in bpcc:
            d, s = _unpack_depth(raw, "bpcc")
            depth, signed = max(depth, d), signed or s
        return depth, signed
    raise Jp2ParseError("no jp2h box")


def check_jp2_uint16(data: bytes, path: str = "<jp2>") -> None:
    """Raise unless every component is unsigned <=16-bit — the same
    admission rule TIFF ingest enforces via ``_page_dtype`` (uint8/
    uint16 only). Called at plan time (sources/listing.py
    ``_list_slices``) so a 32-bit or signed JP2 slice fails the build
    up front rather than being narrowed to the uint16 store inside the
    first pass's kernel (``_window_pass``)."""
    depth, signed = jp2_sample_format(data)
    if signed or depth > 16:
        raise Jp2ParseError(
            f"{path}: JP2 samples are {'signed ' if signed else ''}"
            f"{depth}-bit; octree ingest supports unsigned <=16-bit "
            "samples only (the uint16 store would wrap the values)"
        )


def _iter_boxes(data: bytes, start: int, end: int):
    """Yield (box_type, payload_offset, payload_end) walking the JP2
    box sequence in ``data[start:end]``."""
    pos = start
    while pos + 8 <= end:
        (lbox,) = struct.unpack(">I", data[pos : pos + 4])
        tbox = data[pos + 4 : pos + 8]
        payload = pos + 8
        if lbox == 1:  # XLBox: 64-bit extended length follows
            if pos + 16 > end:
                raise Jp2ParseError("truncated XLBox header")
            (xlbox,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
            payload = pos + 16
            box_end = pos + xlbox
        elif lbox == 0:  # box extends to the end of the container
            box_end = end
        else:
            box_end = pos + lbox
        if box_end < payload or box_end > end:
            raise Jp2ParseError(f"box {tbox!r} overruns container")
        yield tbox, payload, box_end
        pos = box_end


def jp2_shape(data: bytes) -> tuple[int, int, int]:
    """(height, width, n_components) from the headers only — the JP2
    analog of tiff.tiff_shape: an ``ihdr``-box walk (or raw-codestream
    SIZ read), no entropy decode, so a 100 TB slice directory's
    geometry probe reads one file's first kilobytes."""
    if data[:2] == SOC_MARKER:
        return _codestream_shape(data)
    if data[: len(JP2_SIGNATURE)] != JP2_SIGNATURE:
        raise Jp2ParseError("neither a JP2 signature box nor a J2K codestream")
    for tbox, p0, p1 in _iter_boxes(data, len(JP2_SIGNATURE), len(data)):
        if tbox != b"jp2h":
            continue
        for t2, q0, q1 in _iter_boxes(data, p0, p1):
            if t2 == b"ihdr":
                # ihdr: HEIGHT(4) WIDTH(4) NC(2) BPC(1) C(1) UnkC(1) IPR(1)
                if q1 - q0 < 10:
                    raise Jp2ParseError("short ihdr box")
                h, w, nc = struct.unpack(">IIH", data[q0 : q0 + 10])
                return h, w, nc
        raise Jp2ParseError("jp2h box without ihdr")
    raise Jp2ParseError("no jp2h box")


def extract_codestream(data: bytes) -> bytes:
    """The raw J2K codestream: ``data`` itself when it starts with
    SOC, else the ``jp2c`` box payload of a JP2 container."""
    if data[:2] == SOC_MARKER:
        return data
    if data[: len(JP2_SIGNATURE)] != JP2_SIGNATURE:
        raise Jp2ParseError("neither a JP2 signature box nor a J2K codestream")
    for tbox, p0, p1 in _iter_boxes(data, len(JP2_SIGNATURE), len(data)):
        if tbox == b"jp2c":
            return data[p0:p1]
    raise Jp2ParseError("JP2 container has no jp2c codestream box")


def encode_jp2(img: np.ndarray, levels: int = 2, **kw) -> bytes:
    """uint8/uint16 (h, w[, nc]) -> a minimal spec-shaped ``.jp2``
    file (signature, ftyp, jp2h/ihdr+colr, jp2c around a lossless
    5/3 codestream from j2k.encode_j2k). The writer dual of
    :func:`decode_jp2`; any conforming reader opens the output."""
    from hortacloud_importer_spark.sources.j2k import encode_j2k

    cs = encode_j2k(img, levels=levels, **kw)
    h, w = img.shape[:2]
    nc = img.shape[2] if img.ndim == 3 else 1
    bpc = (8 if img.dtype == np.uint8 else 16) - 1

    def _box(tbox: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + tbox + payload

    ftyp = _box(b"ftyp", b"jp2 " + b"\x00" * 4 + b"jp2 ")
    ihdr = _box(b"ihdr", struct.pack(">IIHBBBB", h, w, nc, bpc, 7, 0, 0))
    # colr: METH=1 (enumerated), EnumCS 16=sRGB / 17=greyscale
    colr = _box(b"colr", struct.pack(">BBBI", 1, 0, 0, 16 if nc == 3 else 17))
    jp2h = _box(b"jp2h", ihdr + colr)
    return JP2_SIGNATURE + ftyp + jp2h + _box(b"jp2c", cs)


def decode_jp2(data: bytes) -> np.ndarray:
    """Full decode -> (pages, height, width, samples), matching
    tiff.decode_tiff's shape contract. Reversible (5/3) and
    scalar-quantized irreversible (9/7) streams — single-tile or
    tiled, tile-part-split, multi-layer — decode through the
    clean-room codec in sources/j2k.py. A spec-legal feature outside
    its scope raises ``NotImplementedError`` naming the feature;
    corrupt data raises :class:`Jp2ParseError`."""
    from hortacloud_importer_spark.sources.j2k import (
        J2kParseError,
        J2kUnsupported,
        decode_j2k,
    )

    h, w, nc = jp2_shape(data)  # validate + fail with real geometry
    try:
        return _normalize(decode_j2k(extract_codestream(data)))
    except J2kUnsupported as exc:
        raise NotImplementedError(
            f"JP2 decode ({h}x{w}, {nc} component(s)): the codestream "
            f"uses {exc} — outside the clean-room codec's scope (5/3 "
            "lossless and scalar-quantized 9/7, tiled/tile-part/layered)"
        ) from exc
    except J2kParseError as exc:
        raise Jp2ParseError(
            f"JP2 decode failed ({h}x{w}, {nc} component(s)): {exc}"
        ) from exc


def _normalize(arr: np.ndarray) -> np.ndarray:
    if arr.ndim == 2:
        return arr[None, :, :, None]
    if arr.ndim == 3:  # (h, w, c)
        return arr[None, ...]
    return arr
