"""Minimal clean-room TIFF 6.0 reader/writer (SURVEY §2.A1/A2/A7 front door).

The reference's entire ingestion path is TIFF page decode
(slice_to_dask_array / stack_to_dask_array, tiff2octree.py:653-691,
628-651), and its *output* path writes every block as ZLIB-compressed
TIFF (``compression=("ZLIB", 6)``, tiff2octree.py:315, 385, 441, 544)
and rewrites large slices as 256x256-tiled TIFF so windowed reads are
cheap (tiff2octree.py:516-551, 1026-1030). This module implements that
subset straight from the public TIFF 6.0 + BigTIFF structures:
byte-order header (magic 42 classic / 43 BigTIFF with 8-byte
offsets — the >4 GB slice layout), IFD entry walk, strip or tile
assembly, zlib/deflate codecs
(compression tags 1, 8, 32946 — pure stdlib ``zlib``), TIFF-flavor
LZW (tag 5, early-change) and PackBits RLE (tag 32773) decode,
baseline "new-style" JPEG (tag 7, clean-room T.81 decoder in
sources/jpeg.py with JPEGTables-tag support — TIFF TechNote 2),
horizontal predictor (tag 317), grayscale or multi-sample pages in
both chunky and separate-plane layouts (PlanarConfiguration 1/2),
8/16-bit unsigned, 32-bit IEEE float (SampleFormat 3), and bilevel
CCITT fax pages (compressions 2/3/4 — T.4 MH, full Group 3, and
Group 4, clean-room in sources/ccitt.py). This is the engine's only
TIFF decoder: other compressions (old-style pointer-tag JPEG 6, JBIG,
...) raise ``TiffParseError`` naming the compression.

Spark-side use: ``binaryFile`` scan -> ``decode_tiff`` inside a
``mapInPandas`` kernel (operators/multimodal.py routes ``format in
('tiff', 'tif')`` here), so whole files move as Arrow-batched binary
and pages decode on executors.
``decode_tiff_window`` decodes only the strips/tiles a window
intersects — the read-side payoff of the reference's tiled rewrite.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# IFD entry field types -> byte width (TIFF 6.0 §2; 16-18 = BigTIFF
# LONG8/SLONG8/IFD8 per the public BigTIFF spec).
_TYPE_SIZE = {
    1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8, 11: 4,
    12: 8, 16: 8, 17: 8, 18: 8,
}
_TYPE_FMT = {
    1: "B", 3: "H", 4: "I", 7: "B", 8: "h", 9: "i", 11: "f", 12: "d",
    16: "Q", 17: "q", 18: "Q",
}

_TAG_WIDTH = 256
_TAG_LENGTH = 257
_TAG_BITS = 258
_TAG_COMPRESSION = 259
_TAG_STRIP_OFFSETS = 273
_TAG_SAMPLES_PER_PIXEL = 277
_TAG_ROWS_PER_STRIP = 278
_TAG_STRIP_COUNTS = 279
_TAG_PLANAR_CONFIG = 284
_TAG_PREDICTOR = 317
_TAG_TILE_WIDTH = 322
_TAG_TILE_LENGTH = 323
_TAG_TILE_OFFSETS = 324
_TAG_TILE_COUNTS = 325
_TAG_SAMPLE_FORMAT = 339

# Compression codes we decode: 1 = none, 8 = deflate ("Adobe"), 32946 =
# deflate (the original tag) — both are raw zlib streams; 5 = LZW and
# 32773 = PackBits are implemented below from the public TIFF 6.0 spec.
_ZLIB_CODES = (8, 32946)
_COMP_CCITT_RLE = 2  # T.4 1-D Modified Huffman, rows byte-aligned
_COMP_G3 = 3  # full Group 3 (EOL-framed; 1-D flavor supported)
_COMP_G4 = 4  # Group 4 / T.6 two-dimensional
_CCITT_CODES = (_COMP_CCITT_RLE, _COMP_G3, _COMP_G4)
_TAG_PHOTOMETRIC = 262
_TAG_FILL_ORDER = 266
_TAG_T4_OPTIONS = 292
_TAG_T6_OPTIONS = 293
_COMP_LZW = 5
_COMP_OLDJPEG = 6  # TIFF 6.0 original JPEG (deprecated by TechNote 2)
_COMP_JPEG = 7  # "new-style" JPEG (TIFF TechNote 2)
_COMP_PACKBITS = 32773
_TAG_JPEG_TABLES = 347
_TAG_JIF = 513  # JPEGInterchangeFormat (old-style JPEG pointer)
_TAG_JIF_LENGTH = 514  # JPEGInterchangeFormatLength


# max width*length*samples one IFD may declare. TIFF dims are 32-bit
# and gigapixel microscopy slices are real, so this guard is generous
# (2^32 samples = an 8.6 GiB uint16 page); it exists to reject the
# ~10^19-sample claims corrupt 32-bit dim fields produce, which would
# otherwise hit a multi-exabyte np.zeros before any strip is read.
MAX_SAMPLES = 1 << 32


class TiffParseError(ValueError):
    pass


# what a corrupt stream raises from deep in the IFD walk or a codec
# when no check names it first (a mangled offset or count field)
_MALFORMED = (
    IndexError,
    KeyError,
    OverflowError,
    TypeError,  # corrupt IFD field types decode tags as floats
    ValueError,
    struct.error,
    zlib.error,
)


def _named_errors(what: str, parse, *args):
    """``parse(*args)``, with any raw error of a corrupt stream
    re-raised as :class:`TiffParseError`: skip-on-error kernels and
    the slice readers need ONE named error."""
    try:
        return parse(*args)
    except TiffParseError:
        raise
    except _MALFORMED as exc:
        raise TiffParseError(
            f"malformed TIFF {what}: {type(exc).__name__}: {exc}"
        ) from exc


def _packbits_decompress(raw: bytes, expect: int) -> bytes:
    """PackBits RLE (TIFF 6.0 §9): n in 0..127 copies n+1 literals,
    n in -127..-1 repeats the next byte 1-n times, -128 is a no-op."""
    out = bytearray()
    i, n_raw = 0, len(raw)
    while i < n_raw and len(out) < expect:
        n = raw[i]
        i += 1
        if n < 128:
            out += raw[i : i + n + 1]
            i += n + 1
        elif n > 128:
            if i >= n_raw:
                break
            out += raw[i : i + 1] * (257 - n)
            i += 1
        # n == 128: no-op
    return bytes(out)


def _lzw_decompress(raw: bytes, expect: int) -> bytes:
    """TIFF-flavor LZW (TIFF 6.0 §13): MSB-first bit packing, codes
    start at 9 bits, ClearCode=256, EOI=257, and the code width bumps
    one entry EARLY (at table sizes 511/1023/2047). Output is capped at
    ``expect`` bytes, like the deflate path."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: list[bytes] = []
    width = 9
    prev: bytes | None = None
    acc = nbits = 0
    pos = 0

    def reset():
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9
        prev = None

    reset()
    n_raw = len(raw)
    while len(out) < expect:
        while nbits < width:
            if pos >= n_raw:
                return bytes(out)
            acc = (acc << 8) | raw[pos]
            pos += 1
            nbits += 8
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        if code == CLEAR:
            reset()
            continue
        if code == EOI:
            break
        if prev is None:
            if code >= len(table):
                raise TiffParseError(f"bad first LZW code {code}")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise TiffParseError(f"LZW code {code} beyond table")
        out += entry
        prev = entry
        # early change, decoder side: the writer's table runs one entry
        # ahead (it adds the pair BEFORE emitting the next code), so
        # the reader must widen one entry sooner than its own table
        # size suggests.
        if len(table) + 2 >= (1 << width) and width < 12:
            width += 1
    return bytes(out)


def _parse_ifd_fetch(
    fetch, ec: str, pos: int, big: bool = False
) -> tuple[dict[int, list], int]:
    """One IFD via ``fetch(offset, count) -> bytes`` — the single IFD
    walker behind both the in-memory parser and the seek-based page
    table, so tag handling can never diverge between them.

    BigTIFF IFDs: 8-byte entry count, 20-byte entries (8-byte count +
    8-byte value slot), 8-byte next pointer; classic: 2/12/4."""
    head, esize, off_fmt = (8, 20, "Q") if big else (2, 12, "I")
    if big:
        (n_entries,) = struct.unpack(ec + "Q", fetch(pos, 8))
    else:
        (n_entries,) = struct.unpack(ec + "H", fetch(pos, 2))
    table = fetch(pos + head, esize * n_entries + (8 if big else 4))
    entries: dict[int, list] = {}
    for i in range(n_entries):
        base = esize * i
        if big:
            tag, ftype, count = struct.unpack_from(ec + "HHQ", table, base)
            raw = table[base + 12 : base + 20]
        else:
            tag, ftype, count = struct.unpack_from(ec + "HHI", table, base)
            raw = table[base + 8 : base + 12]
        size = _TYPE_SIZE.get(ftype)
        if size is None or ftype not in _TYPE_FMT:
            continue  # exotic field types we don't need
        total = size * count
        inline = 8 if big else 4
        if total <= inline:
            payload = raw[:total]
        else:
            (voff,) = struct.unpack(ec + ("Q" if big else "I"), raw)
            payload = fetch(voff, total)
        entries[tag] = list(
            struct.unpack(ec + str(count) + _TYPE_FMT[ftype], payload)
        )
    (next_ifd,) = struct.unpack_from(ec + off_fmt, table, esize * n_entries)
    return entries, next_ifd


def _parse_ifd(
    data: bytes, ec: str, pos: int, big: bool = False
) -> tuple[dict[int, list], int]:
    return _parse_ifd_fetch(lambda o, c: data[o : o + c], ec, pos, big)


def _page_dtype(ec: str, ifd: dict[int, list]) -> tuple[np.dtype, int]:
    comp = ifd.get(_TAG_COMPRESSION, [1])[0]
    if comp in _CCITT_CODES:
        # bilevel fax page: BitsPerSample defaults to (and must be) 1
        bits = ifd.get(_TAG_BITS, [1])
        if bits != [1]:
            raise TiffParseError(
                f"CCITT pages are 1-bit, got BitsPerSample {bits}"
            )
        if ifd.get(_TAG_SAMPLE_FORMAT, [1])[0] != 1:
            raise TiffParseError("CCITT pages take SampleFormat 1")
        # T4Options/T6Options bit 1 (uncompressed mode allowed) needs
        # no gate: the shared 2-D line decoder handles the extension
        # code inline (sources/ccitt.py _decode_uncompressed)
        if ifd.get(_TAG_FILL_ORDER, [1])[0] not in (1, 2):
            raise TiffParseError("bad FillOrder")
        return np.dtype("u1"), 1
    bits = ifd.get(_TAG_BITS, [8])
    if len(set(bits)) != 1 or bits[0] not in (8, 12, 16, 32):
        raise TiffParseError(f"unsupported BitsPerSample {bits}")
    fmt = ifd.get(_TAG_SAMPLE_FORMAT, [1])[0]
    if fmt == 3:
        # IEEE float pages (the reference's float32 stack input,
        # tiff2octree.py:250-251). Entropy codecs stay integer-only.
        if bits[0] != 32:
            raise TiffParseError(
                f"float samples supported at 32 bits only, got {bits[0]}"
            )
        if comp in (_COMP_JPEG, _COMP_OLDJPEG):
            raise TiffParseError("JPEG compression excludes float samples")
        if ifd.get(_TAG_PREDICTOR, [1])[0] != 1:
            # predictor 2 is integer differencing; predictor 3
            # (float-split) is out of scope
            raise TiffParseError("predictors unsupported for float pages")
        return np.dtype(("<" if ec == "<" else ">") + "f4"), 32
    if fmt != 1:
        raise TiffParseError(
            "only unsigned-integer (SampleFormat 1) or IEEE-float "
            "(SampleFormat 3) samples supported"
        )
    if bits[0] == 32:
        raise TiffParseError("32-bit integer samples unsupported")
    if bits[0] == 12 and comp not in (_COMP_JPEG, _COMP_OLDJPEG):
        # 12-bit non-JPEG pages are bit-packed raster — out of scope
        raise TiffParseError(
            "12-bit samples are supported only under JPEG compression"
        )
    if bits[0] == 16 and comp in (_COMP_JPEG, _COMP_OLDJPEG):
        # T.81 has no 16-bit mode; gate per page, before any strip is
        # fetched or entropy-decoded
        raise TiffParseError(
            "JPEG compression with BitsPerSample 16 unsupported"
        )
    return np.dtype(("<" if ec == "<" else ">") + ("u1" if bits[0] == 8 else "u2")), bits[0]


def _decode_block(
    raw: bytes,
    off: int,
    compression: int,
    predictor: int,
    dtype: np.dtype,
    rows: int,
    cols: int,
    spp: int,
    jpeg_tables: bytes | None = None,
    bits: int = 8,
    ccitt: tuple[int, int, int] = (0, 0, 1),
) -> np.ndarray:
    """One strip/tile payload -> (rows, cols, spp), codec + predictor
    undone (``off`` is for error messages only)."""
    if compression in _CCITT_CODES:
        # bilevel fax strip (sources/ccitt.py). FillOrder 2 streams
        # store bits LSB-first within bytes: reverse per byte up front.
        from hortacloud_importer_spark.sources.ccitt import (
            CcittParseError,
            decode_g3,
            decode_g4,
            decode_mh,
        )

        photometric, t4opts, fill_order = ccitt
        if fill_order == 2:
            raw = np.packbits(
                np.unpackbits(
                    np.frombuffer(raw, np.uint8), bitorder="little"
                )
            ).tobytes()
        try:
            if compression == _COMP_G4:
                ink = decode_g4(raw, cols, rows)
            elif compression == _COMP_G3:
                if t4opts & 1:  # 2-D-capable G3: per-line mode bit
                    ink = decode_g3(raw, cols, rows)
                else:
                    ink = decode_mh(raw, cols, rows, eol=True)
            else:
                ink = decode_mh(raw, cols, rows)
        except CcittParseError as exc:
            raise TiffParseError(f"CCITT block at {off}: {exc}") from exc
        # ink (1 = black) -> sample values per photometric: under
        # WhiteIsZero (0) paper is sample 0; under BlackIsZero paper
        # is the max value (1).
        samples = ink if photometric == 0 else (1 - ink)
        return samples.reshape(rows, cols, 1)
    if compression == _COMP_OLDJPEG and raw[:2] == b"\xff\xd8":
        # TIFF 6.0 old-style JPEG is a mess of interchange variants,
        # but the most common real-world form stores a COMPLETE JPEG
        # stream per strip (what TechNote 2 standardized as tag 7) —
        # when the payload starts with SOI, decode it the same way;
        # the tag-6 variants with bare JPEGProc/JPEGQTables pointer
        # tags fall through to the codec gate below
        compression = _COMP_JPEG
    if compression == _COMP_JPEG:
        # new-style JPEG: the payload is a complete baseline JPEG
        # stream, tables optionally hoisted into the page-level
        # JPEGTables tag (clean-room T.81 decoder, sources/jpeg.py)
        from hortacloud_importer_spark.sources.jpeg import (
            JpegParseError,
            decode_jpeg,
        )

        try:
            arr = decode_jpeg(raw, tables_stream=jpeg_tables)
        except JpegParseError as exc:
            raise TiffParseError(
                f"bad JPEG stream in block at {off}: {exc}"
            ) from exc
        if arr.shape[2] != spp:
            raise TiffParseError(
                f"JPEG block at {off} decodes {arr.shape[2]} samples/"
                f"pixel, page declares {spp}"
            )
        if arr.shape[0] < rows or arr.shape[1] < cols:
            raise TiffParseError(
                f"JPEG block at {off} is {arr.shape[0]}x{arr.shape[1]}, "
                f"smaller than its {rows}x{cols} grid cell"
            )
        # bits==16 under JPEG is rejected per-page in _page_dtype
        if (arr.dtype == np.uint8) != (bits == 8):
            raise TiffParseError(
                f"JPEG block at {off} decodes {arr.dtype.name} samples, "
                f"page declares BitsPerSample {bits}"
            )
        return arr[:rows, :cols].astype(dtype.newbyteorder("="))
    expect_bytes = rows * cols * spp * dtype.itemsize
    if compression in _ZLIB_CODES:
        try:
            # Cap the inflate at the block's expected size: a crafted
            # stream can't balloon memory past one block (this decoder
            # sits on the generic binaryFile ingest path).
            raw = zlib.decompressobj().decompress(raw, expect_bytes)
        except zlib.error as e:
            raise TiffParseError(f"bad deflate stream in block at {off}: {e}") from e
    elif compression == _COMP_LZW:
        raw = _lzw_decompress(raw, expect_bytes)
    elif compression == _COMP_PACKBITS:
        raw = _packbits_decompress(raw, expect_bytes)
    elif compression != 1:
        raise TiffParseError(
            f"unsupported TIFF compression {compression}; built-in "
            "codecs are uncompressed (1), zlib/deflate (8, 32946), LZW (5), "
            "baseline JPEG (7), CCITT fax (2, 3, 4), and PackBits (32773)"
        )
    expect = rows * cols * spp
    arr = np.frombuffer(raw, dtype=dtype, count=min(expect, len(raw) // dtype.itemsize))
    if arr.size < expect:
        raise TiffParseError(f"truncated block at {off}: {arr.size} < {expect} samples")
    arr = arr[:expect].reshape(rows, cols, spp)
    if predictor == 2:
        # Horizontal differencing resets per scanline; modular cumsum
        # (in the sample dtype) inverts it exactly.
        arr = np.cumsum(arr, axis=1, dtype=dtype)
    elif predictor != 1:
        raise TiffParseError(f"unsupported predictor {predictor}")
    return arr.astype(dtype.newbyteorder("="))


def _required(ifd: dict[int, list], tag: int, what: str) -> list:
    if tag not in ifd or not ifd[tag]:
        raise TiffParseError(f"missing required tag {tag} ({what})")
    return ifd[tag]


def _block_grid(ifd: dict[int, list]) -> tuple[bool, int, int, int, int]:
    """-> (tiled, block_rows, block_cols, across, down) for the page."""
    width = _required(ifd, _TAG_WIDTH, "ImageWidth")[0]
    length = _required(ifd, _TAG_LENGTH, "ImageLength")[0]
    if _TAG_TILE_WIDTH in ifd:
        tw = ifd[_TAG_TILE_WIDTH][0]
        tl = ifd[_TAG_TILE_LENGTH][0]
        return True, tl, tw, -(-width // tw), -(-length // tl)
    rps = ifd.get(_TAG_ROWS_PER_STRIP, [length])[0]
    rps = min(rps, length) or length
    return False, rps, width, 1, -(-length // rps)


def _decode_oldjpeg_interchange(
    fetch,
    ifd: dict[int, list],
    dtype: np.dtype,
    length: int,
    width: int,
    spp: int,
    bits: int,
    window: tuple[int, int, int, int] | None = None,
    stats: dict | None = None,
) -> np.ndarray:
    """Decode a compression-6 page whose pixels live in the single
    JPEGInterchangeFormat (513) stream. The abbreviated variants that
    scatter tables across JPEGQTables/JPEGDCTables/JPEGACTables
    (519-521) with bare entropy strips stay gated: their strip
    payloads lack frame headers entirely and real-world writers
    disagreed on restart semantics, so a named error beats a wrong
    decode."""
    from hortacloud_importer_spark.sources.jpeg import (
        JpegParseError,
        decode_jpeg,
    )

    jif = ifd[_TAG_JIF][0]
    jlen = ifd.get(_TAG_JIF_LENGTH, [0])[0]
    if jlen <= 0:
        raise TiffParseError(
            "old-style JPEG: JPEGInterchangeFormat without a usable "
            "JPEGInterchangeFormatLength"
        )
    raw = fetch(jif, jlen)
    if raw[:2] != b"\xff\xd8":
        raise TiffParseError(
            "old-style JPEG: JPEGInterchangeFormat stream lacks SOI "
            "(abbreviated tag-519/520/521 table layout is unsupported)"
        )
    try:
        arr = decode_jpeg(raw)
    except JpegParseError as exc:
        raise TiffParseError(
            f"bad old-style JPEG interchange stream at {jif}: {exc}"
        ) from exc
    if arr.shape[2] != spp:
        raise TiffParseError(
            f"old-style JPEG stream decodes {arr.shape[2]} samples/pixel, "
            f"page declares {spp}"
        )
    if arr.shape[0] < length or arr.shape[1] < width:
        raise TiffParseError(
            f"old-style JPEG stream is {arr.shape[0]}x{arr.shape[1]}, "
            f"smaller than the declared {length}x{width} page"
        )
    if (arr.dtype == np.uint8) != (bits == 8):
        raise TiffParseError(
            f"old-style JPEG stream decodes {arr.dtype.name} samples, "
            f"page declares BitsPerSample {bits}"
        )
    if stats is not None:
        stats["blocks_decoded"] = stats.get("blocks_decoded", 0) + 1
        stats["blocks_total"] = stats.get("blocks_total", 0) + 1
        stats["bytes_read"] = stats.get("bytes_read", 0) + jlen
        stats["bytes_total"] = stats.get("bytes_total", 0) + jlen
    arr = arr[:length, :width].astype(dtype.newbyteorder("="))
    y0, y1, x0, x1 = window if window else (0, length, 0, width)
    y0, y1 = max(0, y0), min(length, y1)
    x0, x1 = max(0, x0), min(width, x1)
    if y0 >= y1 or x0 >= x1:
        return np.zeros((0, 0, spp), dtype=dtype.newbyteorder("="))
    return arr[y0:y1, x0:x1]


def _decode_page(
    fetch,
    ec: str,
    ifd: dict[int, list],
    window: tuple[int, int, int, int] | None = None,
    stats: dict | None = None,
) -> np.ndarray:
    """``fetch(offset, count) -> bytes`` supplies block payloads — a
    whole-file bytes slice for the in-memory decoders, a seek+read for
    the streaming stack reader (so a 100 GB BigTIFF never needs to be
    resident to decode one page)."""
    compression = ifd.get(_TAG_COMPRESSION, [1])[0]
    predictor = ifd.get(_TAG_PREDICTOR, [1])[0]
    jpeg_tables = (
        bytes(ifd[_TAG_JPEG_TABLES]) if _TAG_JPEG_TABLES in ifd else None
    )
    width = _required(ifd, _TAG_WIDTH, "ImageWidth")[0]
    length = _required(ifd, _TAG_LENGTH, "ImageLength")[0]
    spp = ifd.get(_TAG_SAMPLES_PER_PIXEL, [1])[0]
    if width * length * max(spp, 1) > MAX_SAMPLES:
        # decompression-bomb guard for skip-on-error crawl kernels:
        # corrupt IFD dims must not demand a multi-GiB page allocation
        raise TiffParseError(
            f"page {width}x{length}x{spp} exceeds the "
            f"{MAX_SAMPLES}-sample decode guard"
        )
    planar = ifd.get(_TAG_PLANAR_CONFIG, [1])[0]
    if spp > 1 and planar not in (1, 2):
        raise TiffParseError(
            f"PlanarConfiguration {planar} unsupported (1 = chunky, "
            "2 = separate planes)"
        )
    dtype, _bits = _page_dtype(ec, ifd)
    if compression == _COMP_OLDJPEG and _TAG_JIF in ifd:
        # TIFF 6.0 old-style JPEG, pointer flavor: tags 513/514 locate
        # ONE complete interchange stream covering the whole page (the
        # layout early scanner software wrote; TechNote 2 deprecated
        # the whole tag-6 family). Strip tables in these files are
        # frequently absent or bogus, so this path must run before the
        # strip-table requirement below.
        return _decode_oldjpeg_interchange(
            fetch, ifd, dtype, length, width, spp, _bits,
            window=window, stats=stats,
        )
    tiled, brows, bcols, across, down = _block_grid(ifd)
    if tiled:
        offsets = _required(ifd, _TAG_TILE_OFFSETS, "TileOffsets")
        counts = _required(ifd, _TAG_TILE_COUNTS, "TileByteCounts")
    else:
        offsets = _required(ifd, _TAG_STRIP_OFFSETS, "StripOffsets")
        counts = _required(ifd, _TAG_STRIP_COUNTS, "StripByteCounts")
    if spp > 1 and planar == 2:
        # Separate planes (TIFF 6.0 PlanarConfiguration 2): the block
        # tables hold all of sample 0's blocks, then sample 1's, ...
        # — decode each plane as a 1-sample grid and stack.
        per_plane = across * down
        if len(offsets) < spp * per_plane or len(counts) < spp * per_plane:
            raise TiffParseError(
                f"planar {'tile' if tiled else 'strip'} table too "
                f"short: {len(offsets)} offsets for {spp} planes of "
                f"{down}x{across}"
            )
        planes = [
            _decode_block_grid(
                fetch, ifd,
                offsets[si * per_plane : (si + 1) * per_plane],
                counts[si * per_plane : (si + 1) * per_plane],
                compression, predictor, dtype, 1, _bits, jpeg_tables,
                tiled, brows, bcols, across, down, length, width,
                window, stats,
            )
            for si in range(spp)
        ]
        return np.concatenate(planes, axis=2)
    if len(offsets) < across * down or len(counts) < across * down:
        raise TiffParseError(
            f"{'tile' if tiled else 'strip'} table too short: "
            f"{len(offsets)} offsets for a {down}x{across} grid"
        )
    return _decode_block_grid(
        fetch, ifd, offsets, counts, compression, predictor, dtype,
        spp, _bits, jpeg_tables, tiled, brows, bcols, across, down,
        length, width, window, stats,
    )


def _decode_block_grid(
    fetch,
    ifd: dict[int, list],
    offsets: list,
    counts: list,
    compression: int,
    predictor: int,
    dtype: np.dtype,
    spp: int,
    _bits: int,
    jpeg_tables: bytes | None,
    tiled: bool,
    brows: int,
    bcols: int,
    across: int,
    down: int,
    length: int,
    width: int,
    window: tuple[int, int, int, int] | None,
    stats: dict | None,
) -> np.ndarray:
    """Decode (a window of) one block grid — a chunky page, or one
    plane of a PlanarConfiguration-2 page. ``stats`` also counts the
    payload bytes fetched (``bytes_read``) against the grid's
    (``bytes_total``). An uncompressed strip is row-addressable, so
    only the rows of it the window touches are fetched."""
    y0, y1, x0, x1 = window if window else (0, length, 0, width)
    y0, y1 = max(0, y0), min(length, y1)
    x0, x1 = max(0, x0), min(width, x1)
    if y0 >= y1 or x0 >= x1:
        return np.zeros((0, 0, spp), dtype=dtype.newbyteorder("="))
    by0, by1 = y0 // brows, -(-y1 // brows)
    bx0, bx1 = x0 // bcols, -(-x1 // bcols)
    out = np.zeros(
        ((by1 - by0) * brows, (bx1 - bx0) * bcols, spp), dtype=dtype.newbyteorder("=")
    )
    row_bytes = bcols * spp * dtype.itemsize if compression == 1 and not tiled else 0
    decoded = fetched = 0
    for by in range(by0, by1):
        for bx in range(bx0, bx1):
            i = by * across + bx
            # Strips cover full width but may be short on the last row
            # of the grid; tiles are always padded to tile size.
            rows = brows if tiled else min(brows, length - by * brows)
            off, count, r0 = offsets[i], counts[i], 0
            if row_bytes:
                r0 = max(0, y0 - by * brows)
                rows = min(rows, y1 - by * brows) - r0
                off += r0 * row_bytes
                count = max(0, min(count - r0 * row_bytes, rows * row_bytes))
            block = _decode_block(
                fetch(off, count), off, compression,
                predictor, dtype, rows, bcols, spp,
                jpeg_tables=jpeg_tables, bits=_bits,
                ccitt=(
                    ifd.get(_TAG_PHOTOMETRIC, [0])[0],
                    ifd.get(_TAG_T4_OPTIONS, [0])[0],
                    ifd.get(_TAG_FILL_ORDER, [1])[0],
                ),
            )
            oy, ox = (by - by0) * brows + r0, (bx - bx0) * bcols
            out[oy : oy + rows, ox : ox + bcols] = block
            decoded += 1
            fetched += count
    if stats is not None:
        stats["blocks_decoded"] = stats.get("blocks_decoded", 0) + decoded
        stats["blocks_total"] = stats.get("blocks_total", 0) + across * down
        stats["bytes_read"] = stats.get("bytes_read", 0) + fetched
        stats["bytes_total"] = stats.get("bytes_total", 0) + sum(
            counts[: across * down]
        )
    return out[y0 - by0 * brows : y1 - by0 * brows, x0 - bx0 * bcols : x1 - bx0 * bcols]


def _parse_header(data: bytes) -> tuple[str, int, bool]:
    """Validate the TIFF header -> (endian char, first IFD pos, bigtiff).

    Magic 42 = classic (4-byte offsets), 43 = BigTIFF (8-byte offsets,
    16-byte header) — the layout any >4 GB slice file needs."""
    if len(data) < 8:
        raise TiffParseError("file shorter than a TIFF header")
    if data[:2] == b"II":
        ec = "<"
    elif data[:2] == b"MM":
        ec = ">"
    else:
        raise TiffParseError(f"bad byte-order mark {data[:2]!r}")
    (magic,) = struct.unpack_from(ec + "H", data, 2)
    if magic == 42:
        (pos,) = struct.unpack_from(ec + "I", data, 4)
        return ec, pos, False
    if magic == 43:
        if len(data) < 16:
            raise TiffParseError("file shorter than a BigTIFF header")
        offsize, zero = struct.unpack_from(ec + "HH", data, 4)
        if offsize != 8 or zero != 0:
            raise TiffParseError(
                f"bad BigTIFF header (offsize={offsize}, pad={zero})"
            )
        (pos,) = struct.unpack_from(ec + "Q", data, 8)
        return ec, pos, True
    raise TiffParseError(f"bad TIFF magic {magic}")


def decode_tiff(data: bytes) -> np.ndarray:
    """bytes -> (pages, height, width, samples) uint8/uint16/float32
    array (float32 = SampleFormat 3, raw or zlib).

    Corrupt streams always raise :class:`TiffParseError` (a mangled
    offset/count field otherwise trips a raw struct.error deep in the
    IFD walk — skip-on-error kernels need ONE named error)."""
    return _named_errors("stream", _decode_tiff_checked, data)


def _decode_tiff_checked(data: bytes) -> np.ndarray:
    def fetch(off: int, n: int) -> bytes:
        return data[off : off + n]

    ec, ifds = _page_table(fetch)
    pages = [_decode_page(fetch, ec, ifd) for ifd in ifds]
    if len({p.shape for p in pages}) != 1:
        raise TiffParseError("pages differ in shape")
    return np.stack(pages)


def tiff_probe(data: bytes) -> tuple[int, int, int, int]:
    """(pages, height, width, samples_per_pixel) from the IFD chain
    only — tiff_shape plus the channel count, for metadata-pass
    kernels that must not decode."""
    return _named_errors("header", _probe, data)


def _probe(data: bytes) -> tuple[int, int, int, int]:
    _ec, pages = _page_table(lambda o, c: data[o : o + c])
    if len({page_shape(p)[:2] for p in pages}) != 1:
        raise TiffParseError("pages differ in shape")
    return (len(pages), *page_shape(pages[0]))


def tiff_shape(data: bytes) -> tuple[int, int, int]:
    """bytes -> (pages, height, width) from the IFD chain ONLY.

    No strip/tile payload is touched, so probing a block's extent
    costs a header walk, not a decode — the metadata-read analog of
    the reference inferring geometry from one file header
    (tiff2octree.py:653-691). Corruption raises TiffParseError, same
    contract as decode_tiff."""
    return tiff_probe(data)[:3]


def tiff_page_table(fh) -> tuple[str, list[dict]]:
    """Seek-based IFD walk over a FILE-LIKE (``seek``/``read``):
    ``(endian_char, [per-page tag dict, ...])`` without ever loading
    the file — the planning half of bounded-memory stack ingest. A
    100 GB BigTIFF stack costs O(pages) small reads here; each page's
    strips are then fetched individually by :func:`decode_stack_page`.
    The returned dicts are the same tag->values shape the in-memory
    parser produces, so the page decoders are shared. Corruption
    raises TiffParseError, as in :func:`decode_tiff`."""
    return _named_errors("header", _page_table, _seek_fetch(fh))


def _seek_fetch(fh):
    def fetch(off: int, n: int) -> bytes:
        fh.seek(off)
        return fh.read(n)

    return fetch


def _page_table(fetch) -> tuple[str, list[dict]]:
    ec, pos, big = _parse_header(fetch(0, 16))
    pages: list[dict] = []
    while pos:
        entries, pos = _parse_ifd_fetch(fetch, ec, pos, big)
        pages.append(entries)
        if len(pages) > 65536:
            raise TiffParseError("IFD chain too long (cyclic?)")
    if not pages:
        raise TiffParseError("no IFDs")
    return ec, pages


def page_shape(ifd: dict[int, list]) -> tuple[int, int, int]:
    """(height, width, samples per pixel) of one page's IFD."""
    return (
        _required(ifd, _TAG_LENGTH, "ImageLength")[0],
        _required(ifd, _TAG_WIDTH, "ImageWidth")[0],
        ifd.get(_TAG_SAMPLES_PER_PIXEL, [1])[0],
    )


def decode_stack_page(
    fh,
    ec: str,
    ifd: dict[int, list],
    window: tuple[int, int, int, int] | None = None,
    stats: dict | None = None,
) -> np.ndarray:
    """One page -> (h, w, spp) from a seekable reader, reading ONLY
    that page's strip/tile payloads (pair with
    :func:`tiff_page_table`); with ``window`` (y0, y1, x0, x1), only
    the strips or tiles the window touches, cropped to it (``stats`` as
    in :func:`decode_tiff_window`). Corruption raises TiffParseError."""
    return _named_errors(
        "stream", _decode_page, _seek_fetch(fh), ec, ifd, window, stats
    )


def decode_tiff_window(
    data: bytes,
    page: int = 0,
    y: tuple[int, int] | None = None,
    x: tuple[int, int] | None = None,
    stats: dict | None = None,
) -> np.ndarray:
    """Decode only the strips/tiles of one page that a window touches.

    This is why the reference rewrites big slices as 256x256 tiles
    (tiff2octree.py:516-551): an octant-sized window over a tiled page
    decodes O(window) tiles, not the whole page. ``stats`` (optional
    dict) receives ``blocks_decoded`` / ``blocks_total`` and the payload
    ``bytes_read`` / ``bytes_total`` so callers and tests can assert
    pruning actually happened.
    """
    ec, pos, big = _parse_header(data)
    idx = 0
    while pos:
        ifd, pos = _parse_ifd(data, ec, pos, big)
        if idx == page:
            length = _required(ifd, _TAG_LENGTH, "ImageLength")[0]
            width = _required(ifd, _TAG_WIDTH, "ImageWidth")[0]
            y0, y1 = y if y else (0, length)
            x0, x1 = x if x else (0, width)
            return _decode_page(
                lambda o, c: data[o : o + c], ec, ifd,
                window=(y0, y1, x0, x1), stats=stats,
            )
        idx += 1
        if idx > 65536:
            raise TiffParseError("IFD chain too long (cyclic?)")
    raise TiffParseError(f"page {page} out of range ({idx} pages)")


def _pack_entry(
    tag: int, ftype: int, values: list[int], overflow_pos: int, big: bool = False
) -> tuple[bytes, bytes]:
    """-> (12- or 20-byte IFD entry, out-of-line payload or b'')."""
    fmt = _TYPE_FMT[ftype]
    payload = struct.pack("<" + str(len(values)) + fmt, *values)
    if big:
        if len(payload) <= 8:
            return (
                struct.pack("<HHQ8s", tag, ftype, len(values), payload.ljust(8, b"\x00")),
                b"",
            )
        return struct.pack("<HHQQ", tag, ftype, len(values), overflow_pos), payload
    if len(payload) <= 4:
        return struct.pack("<HHI4s", tag, ftype, len(values), payload.ljust(4, b"\x00")), b""
    return struct.pack("<HHII", tag, ftype, len(values), overflow_pos), payload


def encode_tiff(
    pages: np.ndarray,
    *,
    compression: str | None = None,
    tile: tuple[int, int] | None = None,
    predictor: int = 1,
    bigtiff: bool = False,
    g4_uncompressed_rows: "set | None" = None,
) -> bytes:
    """Write (pages, h, w[, samples]) uint8/uint16 as little-endian TIFF.

    ``bigtiff=True`` emits the BigTIFF layout (magic 43, 8-byte
    offsets/counts, 20-byte IFD entries) — required once a slice file
    passes 4 GB, which 100 TB stores reach routinely.

    ``compression="zlib"`` emits deflate blocks (tag 8) matching the
    reference's ``compression=("ZLIB", 6)`` output (tiff2octree.py:315);
    ``tile=(tl, tw)`` emits a tiled layout matching its 256x256 rewrite
    (tiff2octree.py:544); ``predictor=2`` applies horizontal
    differencing before the codec. Round-trips are asserted against
    hand-built golden bytes in tests/test_tiff.py, so writer bugs can't
    mask reader bugs.
    """
    if pages.ndim == 3:
        pages = pages[..., None]
    npages, h, w, spp = pages.shape
    is_float = pages.dtype == np.float32
    if pages.dtype not in (np.uint8, np.uint16) and not is_float:
        raise ValueError("uint8/uint16/float32 only")
    if compression not in (None, "zlib", "jpeg", "g4", "ccitt_rle"):
        raise ValueError(
            "compression must be None, 'zlib', 'jpeg', 'g4', or 'ccitt_rle'"
        )
    if compression in ("g4", "ccitt_rle"):
        # bilevel fax page: samples must be ink bits (0/1), written
        # with PhotometricInterpretation 0 (white paper = sample 0,
        # so the stored sample IS the ink bit)
        if spp != 1 or pages.dtype != np.uint8 or pages.max(initial=0) > 1:
            raise ValueError("CCITT compression takes 0/1 uint8 ink bits")
        if predictor != 1 or tile is not None:
            raise ValueError("CCITT compression excludes predictor/tiles")
    if g4_uncompressed_rows and compression != "g4":
        raise ValueError("uncompressed-mode rows require compression 'g4'")
    if predictor not in (1, 2):
        raise ValueError("predictor must be 1 or 2")
    if is_float and (compression == "jpeg" or predictor != 1):
        raise ValueError("float32 pages take raw/zlib and no predictor")
    jpeg_precision = 8
    if compression == "jpeg":
        if pages.dtype == np.uint16:
            # 12-bit extended-sequential (BitsPerSample 12), the
            # layout 12-bit scientific instruments write
            if spp != 1:
                raise ValueError("12-bit JPEG takes 1 sample/pixel")
            if pages.max(initial=0) > 4095:
                raise ValueError("12-bit JPEG samples must be < 4096")
            jpeg_precision = 12
        elif pages.dtype != np.uint8:
            raise ValueError("JPEG compression is 8- or 12-bit only")
        if spp not in (1, 3):
            raise ValueError("JPEG compression takes 1 or 3 samples/pixel")
        if predictor != 1:
            raise ValueError("JPEG compression excludes the predictor")
    comp_code = {
        None: 1, "zlib": 8, "jpeg": _COMP_JPEG,
        "g4": _COMP_G4, "ccitt_rle": _COMP_CCITT_RLE,
    }[compression]
    bits = 12 if jpeg_precision == 12 else pages.dtype.itemsize * 8
    if comp_code in _CCITT_CODES:
        bits = 1
    # classic: 8-byte header, 12-byte entries, 4-byte offsets;
    # BigTIFF: 16-byte header, 20-byte entries, 8-byte offsets
    head, esize, off_fmt, off_type = (
        (8, 20, "<Q", 16) if bigtiff else (2, 12, "<I", 4)
    )
    if bigtiff:
        out = bytearray(b"II+\x00" + struct.pack("<HH", 8, 0))
        out += struct.pack("<Q", 0)  # next-IFD pointer, patched per page
        next_ptr_pos = 8
    else:
        out = bytearray(b"II*\x00")
        out += struct.pack("<I", 0)  # next-IFD pointer, patched per page
        next_ptr_pos = 4
    for pi in range(npages):
        if is_float:
            arr = pages[pi].astype("<f4")
        else:
            arr = pages[pi].astype("<u1" if bits == 8 else "<u2")
        if tile:
            tl, tw = tile
            blocks = []
            for ty in range(0, h, tl):
                for tx in range(0, w, tw):
                    t = np.zeros((tl, tw, spp), dtype=arr.dtype)
                    sub = arr[ty : ty + tl, tx : tx + tw]
                    t[: sub.shape[0], : sub.shape[1]] = sub
                    blocks.append(t)
        else:
            blocks = [arr]
        if predictor == 2:
            blocks = [
                np.concatenate([b[:, :1], np.diff(b, axis=1)], axis=1).astype(arr.dtype)
                for b in blocks
            ]
        jpeg_tables_stream = None
        if comp_code == _COMP_JPEG:
            # new-style JPEG (TechNote 2): one complete scan stream
            # per strip/tile, DQT/DHT hoisted into the JPEGTables tag
            from hortacloud_importer_spark.sources.jpeg import encode_jpeg

            payloads = []
            for b in blocks:
                img = b[:, :, 0] if spp == 1 else b
                tbl, scan = encode_jpeg(
                    img, tables_external=True, precision=jpeg_precision
                )
                jpeg_tables_stream = tbl  # identical across blocks
                payloads.append(scan)
        elif comp_code in _CCITT_CODES:
            from hortacloud_importer_spark.sources.ccitt import (
                encode_g4,
                encode_mh,
            )

            if comp_code == _COMP_G4 and g4_uncompressed_rows:
                payloads = [
                    encode_g4(
                        b[:, :, 0],
                        uncompressed_rows=g4_uncompressed_rows,
                    )
                    for b in blocks
                ]
            else:
                enc = encode_g4 if comp_code == _COMP_G4 else encode_mh
                payloads = [enc(b[:, :, 0]) for b in blocks]
        else:
            payloads = [b.tobytes() for b in blocks]
            if comp_code == 8:
                payloads = [zlib.compress(p, 6) for p in payloads]
        tags: list[tuple[int, int, list[int]]] = [
            (_TAG_WIDTH, 4, [w]),
            (_TAG_LENGTH, 4, [h]),
            (_TAG_BITS, 3, [bits]),
            (_TAG_COMPRESSION, 3, [comp_code]),
            (_TAG_SAMPLES_PER_PIXEL, 3, [spp]),
        ]
        if predictor == 2:
            tags.append((_TAG_PREDICTOR, 3, [2]))
        if comp_code == _COMP_G4 and g4_uncompressed_rows:
            tags.append((_TAG_T6_OPTIONS, 4, [2]))  # uncompressed ok
        if is_float:
            tags.append((_TAG_SAMPLE_FORMAT, 3, [3]))
        if comp_code in _CCITT_CODES:
            tags.append((_TAG_PHOTOMETRIC, 3, [0]))
        if jpeg_tables_stream is not None:
            tags.append(
                (_TAG_JPEG_TABLES, 7, list(jpeg_tables_stream))
            )
        counts = [len(p) for p in payloads]
        off_tag = _TAG_TILE_OFFSETS if tile else _TAG_STRIP_OFFSETS
        otype = off_type  # LONG8 offsets/counts in BigTIFF
        if tile:
            tags += [
                (_TAG_TILE_WIDTH, 4, [tw]),
                (_TAG_TILE_LENGTH, 4, [tl]),
                (off_tag, otype, [0] * len(payloads)),  # patched below
                (_TAG_TILE_COUNTS, otype, counts),
            ]
        else:
            tags += [
                (off_tag, otype, [0] * len(payloads)),
                (_TAG_ROWS_PER_STRIP, 4, [h]),
                (_TAG_STRIP_COUNTS, otype, counts),
            ]
        tags.sort()
        ifd_pos = len(out)
        n = len(tags)
        inline = 8 if bigtiff else 4
        ifd_size = head + n * esize + (8 if bigtiff else 4)
        # Two passes: sizes first (offsets depend on overflow layout).
        overflow_size = sum(
            len(struct.pack("<" + str(len(v)) + _TYPE_FMT[ft], *v))
            for _, ft, v in tags
            if len(v) * _TYPE_SIZE[ft] > inline
        )
        data_pos = ifd_pos + ifd_size + overflow_size
        block_offsets, p = [], data_pos
        for c in counts:
            block_offsets.append(p)
            p += c
        tags = [(t, ft, block_offsets if t == off_tag else v) for t, ft, v in tags]
        entries, overflow = bytearray(), bytearray()
        opos = ifd_pos + ifd_size
        for t, ft, v in tags:
            e, extra = _pack_entry(t, ft, v, opos + len(overflow), bigtiff)
            entries += e
            overflow += extra
        struct.pack_into(off_fmt, out, next_ptr_pos, ifd_pos)
        out += struct.pack("<Q" if bigtiff else "<H", n)
        out += entries
        next_ptr_pos = len(out)
        out += struct.pack(off_fmt, 0)
        out += overflow
        for pay in payloads:
            out += pay
    return bytes(out)
