"""Clean-room baseline JPEG decoder (ITU-T T.81), for TIFF
compression 7 ("new-style JPEG", TIFF TechNote 2) and the multimodal
``jpeg`` decode hook.

The reference inherits JPEG-compressed TIFF support from tifffile
(absent in this container — FIXTURES.md); SURVEY's honesty rule kept
it gated until now. This module implements the baseline sequential
DCT process from the public spec:

- marker parse: SOI/APPn/COM/DQT/DHT/DRI/SOF0/SOS/RSTn/EOI;
- canonical Huffman tables expanded to flat 16-bit peek LUTs (one
  65,536-entry symbol/length array pair per table), so the
  per-symbol decode is two array reads;
- entropy decode per MCU with restart-interval support and 0xFF00
  byte unstuffing, DC prediction per component;
- dequantize + inverse zigzag + 2-D IDCT done VECTORIZED over all
  blocks at once (one einsum against the orthonormal DCT-II basis —
  the only per-symbol Python loop is the Huffman scan itself);
- chroma upsampling (nearest, any integer sampling factors) and
  BT.601 YCbCr->RGB for 3-component scans (JFIF convention; Adobe
  APP14 transform=0 keeps RGB as-is).

Progressive (SOF2) streams decode too: all four pass types — DC
first/refinement (interleaved or not) and AC spectral-selection /
successive-approximation with EOB-run accumulation (T.81 Annex G,
Figures G.2/G.7) — accumulate into the same per-component
coefficient grids, so the dequantize+IDCT tail is shared with the
baseline path. Most web-crawled JPEGs are progressive, so the K4
multimodal hook needs this even though microscopy TIFFs do not.

12-bit precision (extended-sequential SOF1 or progressive SOF2 —
the layout 12-bit scientific instruments write) decodes to uint16:
the level shift, clip range, output dtype, and YCbCr center all key
off the frame's precision byte, and the Pq=1 wide-DQT form parses.
TIFF pages declaring BitsPerSample 12 under compression 7 route
through it; the fixture encoder emits it with ``precision=12``.

Arithmetic-coded frames (SOF9 sequential, SOF10 progressive) decode
through the QM-coder entropy layer in sources/jpeg_arith.py — the
marker walk, coefficient stores, and IDCT tail here are shared.

Lossless (SOF3, T.81 Annex H) decodes too: per-sample Huffman DPCM
against the seven spatial predictors, modulo-2^16 arithmetic, point
transform, category-16 differences, restart-reset prediction, and
2-16-bit precision (DNG/DICOM territory). Out of scope, gated with
clear errors: hierarchical/differential frames and arithmetic-coded
lossless.

TIFF integration (sources/tiff.py): a compression-7 strip/tile is a
complete JPEG stream that may omit its tables; the page-level
``JPEGTables`` tag (347) carries a tables-only stream (SOI, DQT/DHT
segments, EOI). ``decode_jpeg(data, tables=...)`` pre-loads those
tables, then lets the strip stream override per T.81 semantics.
"""

from __future__ import annotations

import functools
import struct

import numpy as np


# max h*w*components a SOF may declare (decompression-bomb guard;
# 2^28 samples = a 256-megapixel grayscale or ~85 Mpx color frame)
MAX_SAMPLES = 1 << 28


class JpegParseError(ValueError):
    pass


_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# orthonormal DCT-II basis: pixel = C.T @ coef @ C
_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = np.cos(np.pi * _k * (2 * _n + 1) / 16) * (
            np.sqrt(1 / 8) if _k == 0 else np.sqrt(2 / 8)
        )


def _build_huff_lut(bits: list[int], vals: list[int]):
    """Canonical Huffman table -> flat 16-bit peek LUT:
    ``sym[peek16]``/``length[peek16]``. length 0 marks invalid.
    Built in numpy (fast fills), returned as ``bytes`` — the decode
    loop runs one C-level bytes index per symbol, roughly 3x faster
    than numpy scalar indexing there."""
    sym = np.zeros(1 << 16, dtype=np.uint8)
    length = np.zeros(1 << 16, dtype=np.uint8)
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            if k >= len(vals):
                raise JpegParseError("DHT counts exceed symbol list")
            if code >= (1 << ln):
                raise JpegParseError("over-subscribed Huffman table")
            lo = code << (16 - ln)
            hi = lo + (1 << (16 - ln))
            sym[lo:hi] = vals[k]
            length[lo:hi] = ln
            code += 1
            k += 1
        code <<= 1
    return sym.tobytes(), length.tobytes()


class _BitReader:
    """MSB-first bit reader over an entropy-coded segment (already
    unstuffed). Keeps a Python-int buffer topped up byte-wise; peeks
    16 bits for the LUT, consumes per decoded symbol."""

    __slots__ = ("data", "pos", "buf", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.buf = 0
        self.nbits = 0

    def _fill(self, need: int) -> None:
        # top up 4 bytes at a time — one int.from_bytes beats four
        # byte-by-byte shifts in the per-symbol hot loop
        while self.nbits < need:
            chunk = self.data[self.pos : self.pos + 4]
            if chunk:
                self.buf = (self.buf << (8 * len(chunk))) | int.from_bytes(
                    chunk, "big"
                )
                self.pos += len(chunk)
                self.nbits += 8 * len(chunk)
            else:
                self.buf <<= 8  # zero-pad past the end (T.81 F.2.2.5)
                self.nbits += 8

    def peek16(self) -> int:
        self._fill(16)
        return (self.buf >> (self.nbits - 16)) & 0xFFFF

    def skip(self, n: int) -> None:
        self.nbits -= n
        self.buf &= (1 << self.nbits) - 1

    def receive(self, n: int) -> int:
        if n == 0:
            return 0
        self._fill(n)
        v = (self.buf >> (self.nbits - n)) & ((1 << n) - 1)
        self.skip(n)
        return v


def _extend(v: int, t: int) -> int:
    # T.81 F.12: map the t-bit magnitude to its signed value
    if t == 0:
        return 0
    return v - (1 << t) + 1 if v < (1 << (t - 1)) else v


def _unstuff(data: bytes) -> bytes:
    """Drop the 0x00 stuffed after each 0xFF in entropy data."""
    return data.replace(b"\xff\x00", b"\xff")


class _Tables:
    def __init__(self):
        self.qt: dict[int, np.ndarray] = {}
        self.dc: dict[int, tuple] = {}
        self.ac: dict[int, tuple] = {}
        self.restart_interval = 0
        self.adobe_transform: int | None = None
        # DAC conditioning (T.81 B.2.4.3): table id -> (L, U) / Kx
        self.arith_dc: dict[int, tuple[int, int]] = {}
        self.arith_ac: dict[int, int] = {}


def _entropy_end(data: bytes, start: int) -> int:
    """Offset of the first marker terminating an entropy-coded
    segment: 0xFF followed by anything but 0x00 (stuffing), RSTn, or
    another 0xFF (fill)."""
    pos = start
    n = len(data)
    while True:
        pos = data.find(b"\xff", pos)
        if pos < 0 or pos + 1 >= n:
            return n
        nxt = data[pos + 1]
        if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
            pos += 2
        elif nxt == 0xFF:
            pos += 1
        else:
            return pos


def _parse_segments(data: bytes, tables: _Tables):
    """Walk marker segments; returns (sof, scans) where sof is the
    frame dict once SOF0/SOF1/SOF2 is seen and scans is a list of
    (scan_header_dict, entropy_start, entropy_end) — one entry for a
    sequential stream, one per SOS for a progressive one. Each scan
    header snapshots the Huffman LUTs and restart interval in force
    at its SOS, since later DHT/DRI segments may redefine them."""
    if data[:2] != b"\xff\xd8":
        raise JpegParseError("missing SOI marker")
    pos = 2
    sof = None
    scans: list[tuple[dict, int, int]] = []
    while pos < len(data):
        if data[pos] != 0xFF:
            raise JpegParseError(f"expected marker at offset {pos}")
        # optional 0xFF fill bytes may pad before any marker
        # (T.81 B.1.1.2) — consume the whole run, the marker is the
        # first non-FF byte
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > len(data):
            raise JpegParseError("truncated marker at end of stream")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            return sof, scans
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # standalone
        if pos + 2 > len(data):
            raise JpegParseError("truncated segment header")
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                p += 1
                if pq == 0:
                    q = np.frombuffer(seg[p : p + 64], dtype=np.uint8)
                    p += 64
                else:
                    q = np.frombuffer(seg[p : p + 128], dtype=">u2")
                    p += 128
                tables.qt[tq] = q.astype(np.int32)
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                vals = list(seg[p + 17 : p + 17 + n])
                lut = _build_huff_lut(bits, vals)
                (tables.dc if tc == 0 else tables.ac)[th] = lut
                p += 17 + n
        elif marker == 0xDD:  # DRI
            (tables.restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC9, 0xCA):
            # SOF0/1/2 (Huffman), SOF3 (lossless), SOF9/10 (arithmetic)
            prec = seg[0]
            if marker == 0xC3:
                if not 2 <= prec <= 16:
                    raise JpegParseError(
                        f"lossless precision {prec} outside 2-16"
                    )
            elif prec not in (8, 12):
                raise JpegParseError(f"{prec}-bit precision unsupported")
            if prec == 12 and marker == 0xC0:
                raise JpegParseError("baseline (SOF0) must be 8-bit")
            h, w = struct.unpack(">HH", seg[1:5])
            nc = seg[5]
            if nc == 0 or len(seg) < 6 + 3 * nc:
                raise JpegParseError(f"SOF declares {nc} components")
            if h * w * nc > MAX_SAMPLES:
                # decompression-bomb guard for skip-on-error crawl
                # kernels: corrupt SOF dims must not demand a
                # multi-GiB allocation before entropy decode starts
                raise JpegParseError(
                    f"SOF {w}x{h}x{nc} exceeds the {MAX_SAMPLES}-sample "
                    "decode guard"
                )
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                hs, vs = hv >> 4, hv & 0xF
                if not (1 <= hs <= 4 and 1 <= vs <= 4):
                    # T.81 B.2.2: Hi/Vi in 1..4; zero would divide by
                    # zero in the geometry math downstream
                    raise JpegParseError(
                        f"component {cid} sampling {hs}x{vs} out of range"
                    )
                comps.append({"id": cid, "h": hs, "v": vs, "tq": tq})
            sof = {
                "h": h,
                "w": w,
                "prec": prec,
                "comps": comps,
                "progressive": marker in (0xC2, 0xCA),
                "arith": marker in (0xC9, 0xCA),
                "lossless": marker == 0xC3,
            }
        elif marker in (0xC5, 0xC6, 0xC7, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise JpegParseError(
                f"SOF{marker - 0xC0}: only baseline/extended-sequential/"
                "progressive/lossless frames, Huffman- or arithmetic-"
                "coded, are supported (no differential/hierarchical/"
                "arithmetic-lossless)"
            )
        elif marker == 0xCC:  # DAC: arithmetic conditioning
            p = 0
            while p + 1 < len(seg):
                tc, tb = seg[p] >> 4, seg[p] & 0xF
                cs = seg[p + 1]
                p += 2
                if tc == 0:
                    low, up = cs & 0xF, cs >> 4
                    if low > up or up > 15:
                        raise JpegParseError(
                            f"DAC DC conditioning L={low} U={up} invalid"
                        )
                    tables.arith_dc[tb] = (low, up)
                else:
                    if not 1 <= cs <= 63:
                        raise JpegParseError(f"DAC AC Kx={cs} invalid")
                    tables.arith_ac[tb] = cs
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            scomps = []
            for i in range(ns):
                cs, tt = seg[1 + 2 * i : 3 + 2 * i]
                scomps.append({"cs": cs, "td": tt >> 4, "ta": tt & 0xF})
            ss, se, ahl = seg[1 + 2 * ns : 4 + 2 * ns]
            hdr = {
                "comps": scomps,
                "ss": ss,
                "se": se,
                "ah": ahl >> 4,
                "al": ahl & 0xF,
                # snapshot: later DHT/DRI/DAC may redefine these
                "dc": {s["td"]: tables.dc.get(s["td"]) for s in scomps},
                "ac": {s["ta"]: tables.ac.get(s["ta"]) for s in scomps},
                "arith_dc": dict(tables.arith_dc),
                "arith_ac": dict(tables.arith_ac),
                "ri": tables.restart_interval,
            }
            start = pos + seglen
            end = _entropy_end(data, start)
            scans.append((hdr, start, end))
            pos = end
            continue
        elif marker == 0xEE and seg[:5] == b"Adobe":  # APP14
            tables.adobe_transform = seg[11] if len(seg) > 11 else None
        pos += seglen
    return sof, scans


def load_tables(stream: bytes, tables: _Tables) -> None:
    """Pre-load DQT/DHT/DRI from a tables-only stream (the TIFF
    JPEGTables tag): SOI, table segments, EOI — no frame, no scan.

    Parsed streams are memoized: a tiled TIFF page reuses ONE
    JPEGTables blob across hundreds of blocks, and rebuilding the
    65,536-entry Huffman LUTs per block is pure waste. The cached
    template is never mutated — its dicts are copied into the
    caller's tables so the strip stream can override entries per
    T.81 without touching the cache."""
    base = _cached_tables(bytes(stream))
    tables.qt.update(base.qt)
    tables.dc.update(base.dc)
    tables.ac.update(base.ac)
    tables.restart_interval = base.restart_interval
    tables.adobe_transform = base.adobe_transform


@functools.lru_cache(maxsize=8)
def _cached_tables(stream: bytes) -> _Tables:
    t = _Tables()
    _parse_segments(stream, t)
    return t


def jpeg_probe(data: bytes) -> tuple[int, int, int]:
    """(height, width, n_components) from the first SOF header only —
    a marker walk with no table parsing or entropy decode."""
    if data[:2] != b"\xff\xd8":
        raise JpegParseError("missing SOI marker")
    pos, n = 2, len(data)
    while pos + 1 < n:
        if data[pos] != 0xFF:
            raise JpegParseError("marker sync lost in header walk")
        while pos + 1 < n and data[pos + 1] == 0xFF:
            pos += 1
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD9, 0xDA):
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        if pos + 2 > n:
            break
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if pos + 8 > n:
                raise JpegParseError("truncated SOF segment")
            h, w = struct.unpack(">HH", data[pos + 3 : pos + 7])
            return h, w, data[pos + 7]
        pos += seglen
    raise JpegParseError("no SOF frame header before scan")


def _frame_geometry(sof: dict):
    """(hmax, vmax, mcux, mcuy) with the integer-ratio sampling
    admission check shared by the sequential and progressive paths."""
    comps = sof["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    for c in comps:
        # the nearest-neighbour upsample replicates by integer factors;
        # non-divisible factors (legal per T.81 but vanishingly rare)
        # would need fractional resampling — gate, don't broadcast-crash
        if hmax % c["h"] or vmax % c["v"]:
            raise JpegParseError(
                f"component {c['id']} sampling {c['h']}x{c['v']} does not "
                f"divide the frame maxima {hmax}x{vmax}; only integer-"
                "ratio chroma subsampling is supported"
            )
    mcux = (sof["w"] + 8 * hmax - 1) // (8 * hmax)
    mcuy = (sof["h"] + 8 * vmax - 1) // (8 * vmax)
    return hmax, vmax, mcux, mcuy


def _alloc_store(sof: dict, mcux: int, mcuy: int) -> dict:
    """Per-component coefficient grids (blocks_y, blocks_x, 64)."""
    return {
        c["id"]: np.zeros((mcuy * c["v"], mcux * c["h"], 64), dtype=np.int32)
        for c in sof["comps"]
    }


def _restart_segments(entropy: bytes, ri: int) -> list[bytes]:
    """Split on RSTn markers; each segment restarts predictions."""
    if ri:
        import re

        return re.split(b"\xff[\xd0-\xd7]", entropy)
    return [entropy]


def _idct_planes(store: dict, sof: dict, tables: _Tables) -> dict:
    """dequantize + inverse zigzag + batched IDCT per component."""
    planes = {}
    for c in sof["comps"]:
        q = tables.qt.get(c["tq"])
        if q is None:
            raise JpegParseError(
                f"component references undefined DQT {c['tq']}"
            )
        grid = store[c["id"]]
        by, bx = grid.shape[0], grid.shape[1]
        deq = grid.reshape(-1, 64) * q[np.newaxis, :]
        blocks = np.zeros((deq.shape[0], 64), dtype=np.float64)
        blocks[:, _ZIGZAG] = deq
        blocks = blocks.reshape(-1, 8, 8)
        # pixel = C.T @ coef @ C, batched
        prec = sof.get("prec", 8)
        pix = np.einsum("ki,nkl,lj->nij", _C, blocks, _C)
        pix = np.clip(
            np.round(pix) + (1 << (prec - 1)), 0, (1 << prec) - 1
        ).astype(np.uint8 if prec == 8 else np.uint16)
        planes[c["id"]] = (
            pix.reshape(by, bx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(by * 8, bx * 8)
        )
    return planes


def _decode_scan(data: bytes, hdr: dict, start: int, end: int, sof: dict):
    """Sequential path: entropy-decode every MCU of the single
    interleaved scan -> per-component coefficient grids."""
    comps = sof["comps"]
    by_id = {c["id"]: c for c in comps}
    scomps = hdr["comps"]
    hmax, vmax, mcux, mcuy = _frame_geometry(sof)
    store = _alloc_store(sof, mcux, mcuy)
    segments = _restart_segments(data[start:end], hdr["ri"])

    order = [by_id[s["cs"]] for s in scomps]
    huff = [(hdr["dc"][s["td"]], hdr["ac"][s["ta"]]) for s in scomps]
    for (dc_t, ac_t), s in zip(huff, scomps):
        if dc_t is None or ac_t is None:
            raise JpegParseError(
                f"scan component {s['cs']} references undefined Huffman "
                "tables (a TIFF strip without JPEGTables?)"
            )

    mcu_per_seg = hdr["ri"] or mcuy * mcux
    mcu = 0
    for seg in segments:
        reader = _BitReader(_unstuff(seg))
        pred = {c["id"]: 0 for c in comps}
        for _ in range(min(mcu_per_seg, mcuy * mcux - mcu)):
            my, mx = divmod(mcu, mcux)
            for (dc_lut, ac_lut), comp in zip(huff, order):
                grid = store[comp["id"]]
                for v_i in range(comp["v"]):
                    for h_i in range(comp["h"]):
                        blk = grid[my * comp["v"] + v_i, mx * comp["h"] + h_i]
                        # DC
                        t = _huff_decode(reader, dc_lut)
                        diff = _extend(reader.receive(t), t)
                        pred[comp["id"]] += diff
                        blk[0] = pred[comp["id"]]
                        # AC
                        k = 1
                        while k < 64:
                            rs = _huff_decode(reader, ac_lut)
                            r, s_ = rs >> 4, rs & 0xF
                            if s_ == 0:
                                if r == 15:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise JpegParseError("AC run past block end")
                            blk[k] = _extend(reader.receive(s_), s_)
                            k += 1
            mcu += 1
    if mcu != mcuy * mcux:
        raise JpegParseError(
            f"scan ended after {mcu} of {mcuy * mcux} MCUs"
        )
    return store


def _decode_scan_set(data: bytes, scans: list, sof: dict):
    """Sequential MULTI-scan path (T.81 A.2): each SOS codes a subset
    of the frame's components — fully non-interleaved (one scan per
    component, blocks in the component's own raster) or partly
    interleaved (2-3 components share a scan's MCU grid). Every
    component must be coded exactly once. The single interleaved-scan
    fast path stays in _decode_scan."""
    comps = sof["comps"]
    frame_ids = {c["id"] for c in comps}
    hmax, vmax, mcux, mcuy = _frame_geometry(sof)
    del hmax, vmax
    store = _alloc_store(sof, mcux, mcuy)
    seen: set = set()
    for hdr, start, end in scans:
        scomps = hdr["comps"]
        for s in scomps:
            if s["cs"] in seen:
                raise JpegParseError(
                    f"component {s['cs']} coded by two sequential scans"
                )
            seen.add(s["cs"])
        huff = {}
        for s in scomps:
            dc_t, ac_t = hdr["dc"][s["td"]], hdr["ac"][s["ta"]]
            if dc_t is None or ac_t is None:
                raise JpegParseError(
                    f"scan component {s['cs']} references undefined "
                    "Huffman tables"
                )
            huff[s["cs"]] = (dc_t, ac_t)
        units = _scan_blocks(sof, scomps, store)
        segments = _restart_segments(data[start:end], hdr["ri"])
        per_seg = hdr["ri"] or len(units)
        pos = 0
        for seg in segments:
            reader = _BitReader(_unstuff(seg))
            pred = {c["id"]: 0 for c in comps}
            for unit in units[pos : pos + per_seg]:
                for comp, blk in unit:
                    dc_lut, ac_lut = huff[comp["id"]]
                    t = _huff_decode(reader, dc_lut)
                    diff = _extend(reader.receive(t), t)
                    pred[comp["id"]] += diff
                    blk[0] = pred[comp["id"]]
                    k = 1
                    while k < 64:
                        rs = _huff_decode(reader, ac_lut)
                        r, s_ = rs >> 4, rs & 0xF
                        if s_ == 0:
                            if r == 15:
                                k += 16  # ZRL
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise JpegParseError("AC run past block end")
                        blk[k] = _extend(reader.receive(s_), s_)
                        k += 1
            pos += min(per_seg, len(units) - pos)
        if pos < len(units):
            raise JpegParseError(
                f"scan ended after {pos} of {len(units)} data units"
            )
    if seen != frame_ids:
        raise JpegParseError(
            f"sequential scans never coded components "
            f"{sorted(frame_ids - seen)}"
        )
    return store


# ------------------------------------------- progressive (SOF2) scans
# T.81 Annex G: four pass types accumulating into the coefficient
# grids. Spectral-selection indexes are zigzag positions — the same
# layout the grids already use, so the IDCT tail is shared verbatim.


def _scan_blocks(sof: dict, scomps: list, store: dict):
    """Per-MCU lists of (comp, block-vector) in coding order. For a
    non-interleaved scan (ns=1) the 'MCU' is a single block and the
    grid is the component's own ceil(dim/8) raster — NOT padded to
    the interleaved MCU multiple (T.81 A.2.2)."""
    by_id = {c["id"]: c for c in sof["comps"]}
    hmax, vmax, mcux, mcuy = _frame_geometry(sof)
    units = []
    if len(scomps) > 1:
        order = [by_id[s["cs"]] for s in scomps]
        for mcu in range(mcux * mcuy):
            my, mx = divmod(mcu, mcux)
            unit = []
            for c in order:
                g = store[c["id"]]
                for v_i in range(c["v"]):
                    for h_i in range(c["h"]):
                        unit.append(
                            (c, g[my * c["v"] + v_i, mx * c["h"] + h_i])
                        )
            units.append(unit)
    else:
        c = by_id[scomps[0]["cs"]]
        g = store[c["id"]]
        cw = -(-(sof["w"] * c["h"]) // hmax)
        ch = -(-(sof["h"] * c["v"]) // vmax)
        bw, bh = -(-cw // 8), -(-ch // 8)
        for by in range(bh):
            for bx in range(bw):
                units.append([(c, g[by, bx])])
    return units


def _huff_decode(reader: _BitReader, lut) -> int:
    sym, length = lut
    p16 = reader.peek16()
    ln = length[p16]
    if ln == 0:
        raise JpegParseError("bad Huffman code")
    reader.skip(ln)
    return sym[p16]


def _check_scan_coverage(done: int, total: int):
    """A scan that runs out of restart segments before covering every
    MCU/block (truncated download) must hard-error like the sequential
    path, not leave a silently-gray region."""
    if done < total:
        raise JpegParseError(
            f"scan ended after {done} of {total} units"
        )


def _prog_dc_scan(units, segments, hdr):
    """DC first (Ah=0: diff-coded, value << Al) or refinement (Ah>0:
    one raw bit ORed in at Al) — T.81 G.1.2.1."""
    al, refine = hdr["al"], hdr["ah"] != 0
    luts = {s["cs"]: hdr["dc"][s["td"]] for s in hdr["comps"]}
    if not refine and any(v is None for v in luts.values()):
        raise JpegParseError("DC scan references undefined Huffman table")
    per_seg = hdr["ri"] or len(units)
    done = 0
    for seg in segments:
        reader = _BitReader(_unstuff(seg))
        pred: dict[int, int] = {}
        for unit in units[done : done + per_seg]:
            for comp, blk in unit:
                if refine:
                    blk[0] |= reader.receive(1) << al
                else:
                    t = _huff_decode(reader, luts[comp["id"]])
                    diff = _extend(reader.receive(t), t)
                    pred[comp["id"]] = pred.get(comp["id"], 0) + diff
                    blk[0] = pred[comp["id"]] << al
        done += per_seg
        if done >= len(units):
            break
    _check_scan_coverage(done, len(units))


def _prog_ac_first(units, segments, hdr):
    """AC spectral-selection first pass with EOB-run accumulation
    (T.81 G.1.2.2, Figure G.3)."""
    ss, se, al = hdr["ss"], hdr["se"], hdr["al"]
    lut = hdr["ac"][hdr["comps"][0]["ta"]]
    if lut is None:
        raise JpegParseError("AC scan references undefined Huffman table")
    per_seg = hdr["ri"] or len(units)
    done = 0
    for seg in segments:
        reader = _BitReader(_unstuff(seg))
        eobrun = 0
        for unit in units[done : done + per_seg]:
            blk = unit[0][1]
            if eobrun:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                rs = _huff_decode(reader, lut)
                r, s_ = rs >> 4, rs & 0xF
                if s_ == 0:
                    if r == 15:
                        k += 16  # ZRL
                        continue
                    eobrun = (1 << r) - 1 + reader.receive(r)
                    break
                k += r
                if k > se:
                    raise JpegParseError("AC run past band end")
                blk[k] = _extend(reader.receive(s_), s_) << al
                k += 1
        done += per_seg
        if done >= len(units):
            break
    _check_scan_coverage(done, len(units))


def _prog_ac_refine(units, segments, hdr):
    """AC successive-approximation refinement (T.81 G.1.2.3, Figure
    G.7): newly significant coefficients arrive as ±1<<Al; every
    already-nonzero coefficient passed over contributes a correction
    bit, including inside EOB runs."""
    ss, se, al = hdr["ss"], hdr["se"], hdr["al"]
    lut = hdr["ac"][hdr["comps"][0]["ta"]]
    if lut is None:
        raise JpegParseError("AC scan references undefined Huffman table")
    p1, m1 = 1 << al, -1 << al
    per_seg = hdr["ri"] or len(units)
    done = 0

    for seg in segments:
        reader = _BitReader(_unstuff(seg))
        receive = reader.receive
        eobrun = 0
        for unit in units[done : done + per_seg]:
            blk = unit[0][1]
            # the per-coefficient loop runs on a plain-int list —
            # numpy scalar reads/writes here cost ~4x the whole pass
            vals = blk.tolist()
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = _huff_decode(reader, lut)
                    r, s_ = rs >> 4, rs & 0xF
                    newval = 0
                    if s_ == 0:
                        if r < 15:
                            eobrun = (1 << r) + receive(r)
                            break
                        # ZRL: skip 16 zero-history positions
                    else:
                        if s_ != 1:
                            raise JpegParseError(
                                "AC refinement size must be 1"
                            )
                        newval = p1 if receive(1) else m1
                    while k <= se:
                        v = vals[k]
                        if v != 0:
                            if receive(1) and not (v & p1):
                                vals[k] = v + (p1 if v > 0 else m1)
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if newval and k <= se:
                        vals[k] = newval
                    k += 1
            if eobrun > 0:
                while k <= se:  # corrections under the EOB run
                    v = vals[k]
                    if v != 0 and receive(1) and not (v & p1):
                        vals[k] = v + (p1 if v > 0 else m1)
                    k += 1
                eobrun -= 1
            blk[ss : se + 1] = vals[ss : se + 1]
        done += per_seg
        if done >= len(units):
            break
    _check_scan_coverage(done, len(units))


def _decode_progressive(data: bytes, sof: dict, scans: list) -> dict:
    """Run every scan of a progressive frame into shared coefficient
    grids; returns the store for the common IDCT tail."""
    hmax, vmax, mcux, mcuy = _frame_geometry(sof)
    del hmax, vmax
    store = _alloc_store(sof, mcux, mcuy)
    for hdr, start, end in scans:
        ss, se = hdr["ss"], hdr["se"]
        if ss == 0 and se != 0:
            raise JpegParseError(
                "progressive scan mixes DC and AC (Ss=0 needs Se=0)"
            )
        if ss > 0 and len(hdr["comps"]) != 1:
            raise JpegParseError(
                "progressive AC scans must be non-interleaved (ns=1)"
            )
        if se > 63 or ss > se:
            raise JpegParseError(f"bad spectral selection {ss}..{se}")
        units = _scan_blocks(sof, hdr["comps"], store)
        segments = _restart_segments(data[start:end], hdr["ri"])
        if ss == 0:
            _prog_dc_scan(units, segments, hdr)
        elif hdr["ah"] == 0:
            _prog_ac_first(units, segments, hdr)
        else:
            _prog_ac_refine(units, segments, hdr)
    return store


def decode_jpeg(data: bytes, tables_stream: bytes | None = None) -> np.ndarray:
    """Sequential or progressive JPEG stream -> (height, width,
    n_components); uint8 for 8-bit frames, uint16 for 12-bit.

    ``tables_stream`` pre-loads DQT/DHT (TIFF JPEGTables, tag 347);
    segments in ``data`` override them per T.81. 3-component output
    is converted YCbCr->RGB (BT.601) unless Adobe APP14 declares
    transform=0 (already RGB).

    Corrupt streams always raise :class:`JpegParseError`: crawled
    corpora carry bit-rotted payloads, and a kernel skipping decode
    failures must be able to catch ONE named error instead of
    whatever IndexError/OverflowError a mangled length field trips
    deep in the entropy decoder."""
    try:
        return _decode_jpeg_checked(data, tables_stream)
    except JpegParseError:
        raise
    except (
        IndexError,
        KeyError,
        OverflowError,
        ZeroDivisionError,
        ValueError,
        struct.error,
    ) as exc:
        raise JpegParseError(
            f"malformed JPEG stream: {type(exc).__name__}: {exc}"
        ) from exc


def _decode_jpeg_checked(
    data: bytes, tables_stream: bytes | None = None
) -> np.ndarray:
    tables = _Tables()
    if tables_stream:
        try:
            load_tables(tables_stream, tables)
        except JpegParseError as exc:
            raise JpegParseError(f"bad JPEGTables stream: {exc}") from exc
    sof, scans = _parse_segments(data, tables)
    if sof is None:
        raise JpegParseError("no SOF frame header before scan")
    if not scans:
        raise JpegParseError("no SOS scan in stream")
    frame_ids = {c["id"] for c in sof["comps"]}
    for hdr, _, _ in scans:
        for s in hdr["comps"]:
            if s["cs"] not in frame_ids:
                raise JpegParseError(
                    f"scan references component {s['cs']} not in the frame"
                )
    if sof.get("lossless"):
        return _decode_lossless(data, sof, scans)
    hmax, vmax, _, _ = _frame_geometry(sof)
    if sof.get("arith"):
        from hortacloud_importer_spark.sources.jpeg_arith import (
            decode_arith_progressive,
            decode_arith_seq,
        )

        if sof.get("progressive"):
            store = decode_arith_progressive(data, sof, scans)
        elif (
            len(scans) == 1
            and len(scans[0][0]["comps"]) == len(sof["comps"])
        ):
            hdr, start, end = scans[0]
            store = decode_arith_seq(data, hdr, start, end, sof)
        else:
            from hortacloud_importer_spark.sources.jpeg_arith import (
                decode_arith_scan_set,
            )

            store = decode_arith_scan_set(data, scans, sof)
    elif sof.get("progressive"):
        store = _decode_progressive(data, sof, scans)
    elif len(scans) == 1 and len(scans[0][0]["comps"]) == len(sof["comps"]):
        hdr, start, end = scans[0]
        store = _decode_scan(data, hdr, start, end, sof)
    else:
        # non-interleaved / partly-interleaved sequential multi-scan
        store = _decode_scan_set(data, scans, sof)
    planes = _idct_planes(store, sof, tables)

    h, w = sof["h"], sof["w"]
    prec = sof.get("prec", 8)
    comps = sof["comps"]
    out = np.zeros(
        (h, w, len(comps)), dtype=np.uint8 if prec == 8 else np.uint16
    )
    for i, c in enumerate(comps):
        plane = planes[c["id"]]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:  # chroma upsample, nearest
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        out[:, :, i] = plane[:h, :w]
    if len(comps) == 3 and tables.adobe_transform != 0:
        out = _ycbcr_to_rgb(out, prec)
    return out


def _ycbcr_to_rgb(img: np.ndarray, prec: int = 8) -> np.ndarray:
    mid = float(1 << (prec - 1))
    y = img[:, :, 0].astype(np.float64)
    cb = img[:, :, 1].astype(np.float64) - mid
    cr = img[:, :, 2].astype(np.float64) - mid
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(
        np.round(np.stack([r, g, b], axis=2)), 0, (1 << prec) - 1
    ).astype(np.uint8 if prec == 8 else np.uint16)


# --------------------------------------------------------- encoder
# A minimal baseline ENCODER exists so tests are spec-shaped streams
# rather than decode(encode(x)) identities alone: it emits standard
# markers, example-annex Huffman tables (T.81 K.3), and a flat
# quality-100-style quant table, so any spec-conforming decoder reads
# its output. Used by tests and the TIFF fixture writer only.

_STD_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_STD_DC_VALS = list(range(12))

# 12-bit fixture tables: every DC category 0..15 at 5 bits and every
# AC (run, size<=14) symbol at 8 bits — valid canonical codes chosen
# for coverage (any conforming decoder reads them), not compression.
_WIDE_DC_BITS = [0, 0, 0, 0, 16, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_WIDE_DC_VALS = list(range(16))
_WIDE_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 226, 0, 0, 0, 0, 0, 0, 0, 0]
_WIDE_AC_VALS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 15)
]
_STD_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_STD_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _huff_code_map(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    codes = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return codes


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | code
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # stuffing
            self.n -= 8
            self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # 1-pad per T.81
        return bytes(self.out)


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


def _table_segments(qtable: np.ndarray, precision: int = 8) -> bytes:
    if precision == 12:
        # Pq=1 (16-bit entries) exercises the decoder's wide-DQT path
        dqt = _seg(
            0xDB,
            bytes([0x10]) + b"".join(struct.pack(">H", int(v)) for v in qtable),
        )
        dht_dc = _seg(
            0xC4, bytes([0x00]) + bytes(_WIDE_DC_BITS) + bytes(_WIDE_DC_VALS)
        )
        dht_ac = _seg(
            0xC4, bytes([0x10]) + bytes(_WIDE_AC_BITS) + bytes(_WIDE_AC_VALS)
        )
    else:
        dqt = _seg(0xDB, bytes([0]) + bytes(int(v) for v in qtable))
        dht_dc = _seg(
            0xC4, bytes([0x00]) + bytes(_STD_DC_BITS) + bytes(_STD_DC_VALS)
        )
        dht_ac = _seg(
            0xC4, bytes([0x10]) + bytes(_STD_AC_BITS) + bytes(_STD_AC_VALS)
        )
    return dqt + dht_dc + dht_ac


def _rgb_to_ycbcr(img: np.ndarray) -> np.ndarray:
    r = img[:, :, 0].astype(np.float64)
    g = img[:, :, 1].astype(np.float64)
    b = img[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.clip(np.round(np.stack([y, cb, cr], axis=2)), 0, 255)


def _plane_zigzag_blocks(
    plane: np.ndarray, qtable: np.ndarray, shift: float = 128.0
) -> np.ndarray:
    """One component plane -> (by*bx, 64) quantized zigzag blocks,
    edge-replicated to the 8-multiple grid."""
    h, w = plane.shape
    by, bx = (h + 7) // 8, (w + 7) // 8
    padded = np.zeros((by * 8, bx * 8), dtype=np.float64)
    padded[:h, :w] = plane
    padded[h:, :w] = padded[h - 1 : h, :w]
    padded[:, w:] = padded[:, w - 1 : w]
    blocks = (
        padded.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        - shift
    )
    coef = np.einsum("ik,nkl,jl->nij", _C, blocks, _C)
    q = np.round(
        coef.reshape(-1, 64) / qtable[np.newaxis, :].astype(np.float64)
    ).astype(np.int32)
    return q[:, _ZIGZAG]  # forward zigzag: sequence i reads natural _ZIGZAG[i]


def encode_jpeg(
    img: np.ndarray,
    qtable: np.ndarray | None = None,
    tables_external: bool = False,
    restart_interval: int = 0,
    precision: int = 8,
) -> bytes | tuple[bytes, bytes]:
    """Baseline encoder (fixtures only): (h, w) grayscale or
    (h, w, 3) RGB uint8, 4:4:4, shared tables. With
    ``tables_external=True`` returns ``(tables_stream, scan_stream)``
    — the TIFF JPEGTables split, where the scan stream omits DQT/DHT.
    ``restart_interval`` emits DRI + RSTn markers every N MCUs (to
    exercise the decoder's restart path). ``precision=12`` takes a
    2-D uint16 array (values < 4096) and emits an extended-sequential
    SOF1 frame — the 12-bit layout scientific instruments write."""
    if precision not in (8, 12):
        raise JpegParseError(f"precision must be 8 or 12, not {precision}")
    if precision == 12:
        if img.dtype != np.uint16 or img.ndim != 2:
            raise JpegParseError("12-bit encoder takes a 2-D uint16 array")
        if img.max(initial=0) > 4095:
            raise JpegParseError("12-bit samples must be < 4096")
        planes = [img.astype(np.float64)]
    elif img.dtype != np.uint8 or img.ndim not in (2, 3):
        raise JpegParseError("encoder takes a 2-D or (h, w, 3) uint8 array")
    elif img.ndim == 3:
        if img.shape[2] != 3:
            raise JpegParseError("3-D input must be (h, w, 3) RGB")
        ycc = _rgb_to_ycbcr(img)
        planes = [ycc[:, :, i] for i in range(3)]
    else:
        planes = [img.astype(np.float64)]
    if qtable is None:
        qtable = np.ones(64, dtype=np.int32)  # lossless-ish for tests
    h, w = planes[0].shape
    shift = float(1 << (precision - 1))
    zz_per_comp = [
        _plane_zigzag_blocks(p, qtable, shift=shift) for p in planes
    ]

    if precision == 12:
        dc_codes = _huff_code_map(_WIDE_DC_BITS, _WIDE_DC_VALS)
        ac_codes = _huff_code_map(_WIDE_AC_BITS, _WIDE_AC_VALS)
    else:
        dc_codes = _huff_code_map(_STD_DC_BITS, _STD_DC_VALS)
        ac_codes = _huff_code_map(_STD_AC_BITS, _STD_AC_VALS)

    def put_magnitude(v: int) -> tuple[int, int]:
        t = 0 if v == 0 else int(abs(v)).bit_length()
        mag = v if v >= 0 else v + (1 << t) - 1
        return t, mag

    def put_block(wtr: _BitWriter, blk: np.ndarray, pred: int) -> int:
        diff = int(blk[0]) - pred
        t, mag = put_magnitude(diff)
        c, ln = dc_codes[t]
        wtr.put(c, ln)
        if t:
            wtr.put(mag, t)
        run = 0
        last_nz = (
            int(np.nonzero(blk[1:])[0][-1]) + 1 if np.any(blk[1:]) else 0
        )
        for k in range(1, last_nz + 1):
            v = int(blk[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                c, ln = ac_codes[0xF0]  # ZRL
                wtr.put(c, ln)
                run -= 16
            t, mag = put_magnitude(v)
            c, ln = ac_codes[(run << 4) | t]
            wtr.put(c, ln)
            wtr.put(mag, t)
            run = 0
        if last_nz < 63:
            c, ln = ac_codes[0x00]  # EOB
            wtr.put(c, ln)
        return int(blk[0])

    n_mcu = zz_per_comp[0].shape[0]  # 4:4:4 -> one block per comp/MCU
    parts = []
    wtr = _BitWriter()
    preds = [0] * len(planes)
    rst = 0
    for mcu in range(n_mcu):
        if restart_interval and mcu and mcu % restart_interval == 0:
            parts.append(wtr.flush())
            parts.append(bytes([0xFF, 0xD0 + (rst % 8)]))
            rst += 1
            wtr = _BitWriter()
            preds = [0] * len(planes)
        for ci, zz in enumerate(zz_per_comp):
            preds[ci] = put_block(wtr, zz[mcu], preds[ci])
    parts.append(wtr.flush())
    entropy = b"".join(parts)

    nc = len(planes)
    sof = _seg(
        0xC1 if precision == 12 else 0xC0,
        bytes([precision])
        + struct.pack(">HH", h, w)
        + bytes([nc])
        + b"".join(bytes([i + 1, 0x11, 0]) for i in range(nc)),
    )
    sos = _seg(
        0xDA,
        bytes([nc])
        + b"".join(bytes([i + 1, 0x00]) for i in range(nc))
        + bytes([0, 63, 0]),
    )
    dri = (
        _seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    tables_blob = _table_segments(qtable, precision)
    if tables_external:
        tables_stream = b"\xff\xd8" + tables_blob + b"\xff\xd9"
        scan_stream = b"\xff\xd8" + dri + sof + sos + entropy + b"\xff\xd9"
        return tables_stream, scan_stream
    return b"\xff\xd8" + tables_blob + dri + sof + sos + entropy + b"\xff\xd9"


def encode_jpeg_noninterleaved(
    img: np.ndarray, qtable: np.ndarray | None = None
) -> bytes:
    """Fixture encoder for the sequential MULTI-scan layout
    (T.81 A.2): (h, w, 3) RGB, 4:4:4, ONE full scan per component —
    the stream shape some medical/scientific writers emit and
    _decode_scan_set exists for. Tables/quality match encode_jpeg,
    so decode(noninterleaved) must equal decode(interleaved)."""
    if img.dtype != np.uint8 or img.ndim != 3 or img.shape[2] != 3:
        raise JpegParseError(
            "non-interleaved fixture encoder takes (h, w, 3) RGB"
        )
    if qtable is None:
        qtable = np.ones(64, dtype=np.int32)
    ycc = _rgb_to_ycbcr(img)
    h, w = img.shape[:2]
    zz_per_comp = [
        _plane_zigzag_blocks(ycc[:, :, i], qtable) for i in range(3)
    ]
    dc_codes = _huff_code_map(_STD_DC_BITS, _STD_DC_VALS)
    ac_codes = _huff_code_map(_STD_AC_BITS, _STD_AC_VALS)

    def put_magnitude(v: int) -> tuple[int, int]:
        t = 0 if v == 0 else int(abs(v)).bit_length()
        return t, v if v >= 0 else v + (1 << t) - 1

    scan_parts = []
    for ci, zz in enumerate(zz_per_comp):
        wtr = _BitWriter()
        pred = 0
        for blk in zz:
            diff = int(blk[0]) - pred
            pred = int(blk[0])
            t, mag = put_magnitude(diff)
            c, ln = dc_codes[t]
            wtr.put(c, ln)
            if t:
                wtr.put(mag, t)
            run = 0
            last_nz = (
                int(np.nonzero(blk[1:])[0][-1]) + 1
                if np.any(blk[1:])
                else 0
            )
            for k in range(1, last_nz + 1):
                v = int(blk[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    c, ln = ac_codes[0xF0]
                    wtr.put(c, ln)
                    run -= 16
                t, mag = put_magnitude(v)
                c, ln = ac_codes[(run << 4) | t]
                wtr.put(c, ln)
                wtr.put(mag, t)
                run = 0
            if last_nz < 63:
                c, ln = ac_codes[0x00]
                wtr.put(c, ln)
        sos = _seg(0xDA, bytes([1, ci + 1, 0x00, 0, 63, 0]))
        scan_parts.append(sos + wtr.flush())

    sof = _seg(
        0xC0,
        bytes([8])
        + struct.pack(">HH", h, w)
        + bytes([3])
        + b"".join(bytes([i + 1, 0x11, 0]) for i in range(3)),
    )
    return (
        b"\xff\xd8"
        + _table_segments(qtable)
        + sof
        + b"".join(scan_parts)
        + b"\xff\xd9"
    )


def encode_jpeg_gray(
    img: np.ndarray,
    qtable: np.ndarray | None = None,
    tables_external: bool = False,
) -> bytes | tuple[bytes, bytes]:
    """Back-compat alias for the grayscale case."""
    return encode_jpeg(img, qtable=qtable, tables_external=tables_external)


# ----------------------------------------------- progressive encoder
# Fixture writer for the SOF2 decode path. Progressive AC scans use
# EOBn symbols (r<<4 for r up to 14) that the K.3 example AC table
# does not contain, so a "flat" canonical table covering all 256
# run/size symbols is emitted instead: 255 codes at 9 bits + 1 at 10
# (each DHT BITS entry is one byte, so 256 cannot share a length).
# Compression is irrelevant for fixtures; validity is what matters.

_FLAT_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0]
_FLAT_AC_VALS = list(range(256))


class _ProgState:
    """Deferred EOB-run bookkeeping for one AC scan (T.81 G.1.2.2-3):
    ``eobrun`` counts band-ended blocks; ``be`` buffers the
    correction bits of coefficients passed inside the run, flushed
    right after the EOBn codeword."""

    __slots__ = ("eobrun", "be")

    def __init__(self):
        self.eobrun = 0
        self.be: list[int] = []


def _flush_eobrun(st: _ProgState, wtr: _BitWriter, ac_codes) -> None:
    if st.eobrun > 0:
        nbits = st.eobrun.bit_length() - 1
        c, ln = ac_codes[nbits << 4]
        wtr.put(c, ln)
        if nbits:
            wtr.put(st.eobrun & ((1 << nbits) - 1), nbits)
        st.eobrun = 0
        for b in st.be:
            wtr.put(b, 1)
        st.be = []


def _enc_ac_first(blk, wtr, st, ss, se, al, ac_codes) -> None:
    r = 0
    for k in range(ss, se + 1):
        v = int(blk[k])
        t = (v if v >= 0 else -v) >> al
        if t == 0:
            r += 1
            continue
        _flush_eobrun(st, wtr, ac_codes)
        while r > 15:
            c, ln = ac_codes[0xF0]
            wtr.put(c, ln)
            r -= 16
        s_ = t.bit_length()
        c, ln = ac_codes[(r << 4) | s_]
        wtr.put(c, ln)
        wtr.put(t if v >= 0 else (~t) & ((1 << s_) - 1), s_)
        r = 0
    if r > 0:  # trailing zeros (or an all-zero band): join the EOB run
        st.eobrun += 1
        if st.eobrun == 0x7FFF:
            _flush_eobrun(st, wtr, ac_codes)


def _enc_ac_refine(blk, wtr, st, ss, se, al, ac_codes) -> None:
    absv = {}
    eob = ss - 1  # position of the last NEWLY significant coefficient
    for k in range(ss, se + 1):
        t = abs(int(blk[k])) >> al
        absv[k] = t
        if t == 1:
            eob = k
    r = 0
    br: list[int] = []
    for k in range(ss, se + 1):
        t = absv[k]
        if t == 0:
            r += 1
            continue
        while r > 15 and k <= eob:
            _flush_eobrun(st, wtr, ac_codes)
            c, ln = ac_codes[0xF0]
            wtr.put(c, ln)
            r -= 16
            for b in br:
                wtr.put(b, 1)
            br = []
        if t > 1:  # already significant: correction bit only
            br.append(t & 1)
            continue
        _flush_eobrun(st, wtr, ac_codes)
        c, ln = ac_codes[(r << 4) | 1]
        wtr.put(c, ln)
        wtr.put(1 if int(blk[k]) > 0 else 0, 1)
        for b in br:
            wtr.put(b, 1)
        br = []
        r = 0
    if r > 0 or br:
        st.eobrun += 1
        st.be.extend(br)
        if st.eobrun == 0x7FFF or len(st.be) > 900:
            _flush_eobrun(st, wtr, ac_codes)


# jpegtran's default progression: DC al=1, split AC firsts at al=2,
# one full-band refinement per level, DC refinement last.
_DEFAULT_SCRIPT = [
    ("dc", 0, 0, 0, 1),
    ("ac", 1, 5, 0, 2),
    ("ac", 6, 63, 0, 2),
    ("ac", 1, 63, 2, 1),
    ("dc", 0, 0, 1, 0),
    ("ac", 1, 63, 1, 0),
]


def encode_jpeg_progressive(
    img: np.ndarray,
    qtable: np.ndarray | None = None,
    script: list | None = None,
) -> bytes:
    """Progressive (SOF2) encoder over the same quantized coefficient
    grids as :func:`encode_jpeg` — decode(progressive) must equal
    decode(baseline) exactly, which is what the tests assert.
    ``script`` entries are (kind, ss, se, ah, al); AC scans are
    emitted once per component (T.81 requires ns=1 there)."""
    if img.dtype != np.uint8 or img.ndim not in (2, 3):
        raise JpegParseError("encoder takes a 2-D or (h, w, 3) uint8 array")
    if qtable is None:
        qtable = np.ones(64, dtype=np.int32)
    if img.ndim == 3:
        if img.shape[2] != 3:
            raise JpegParseError("3-D input must be (h, w, 3) RGB")
        ycc = _rgb_to_ycbcr(img)
        planes = [ycc[:, :, i] for i in range(3)]
    else:
        planes = [img.astype(np.float64)]
    h, w = planes[0].shape
    zz_per_comp = [_plane_zigzag_blocks(p, qtable) for p in planes]
    nc = len(planes)

    dc_codes = _huff_code_map(_STD_DC_BITS, _STD_DC_VALS)
    ac_codes = _huff_code_map(_FLAT_AC_BITS, _FLAT_AC_VALS)

    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0]) + bytes(int(v) for v in qtable))
    out += _seg(0xC4, bytes([0x00]) + bytes(_STD_DC_BITS) + bytes(_STD_DC_VALS))
    out += _seg(0xC4, bytes([0x10]) + bytes(_FLAT_AC_BITS) + bytes(_FLAT_AC_VALS))
    out += _seg(
        0xC2,
        bytes([8])
        + struct.pack(">HH", h, w)
        + bytes([nc])
        + b"".join(bytes([i + 1, 0x11, 0]) for i in range(nc)),
    )

    def _sos(comp_ids: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
        return _seg(
            0xDA,
            bytes([len(comp_ids)])
            + b"".join(bytes([cid, 0x00]) for cid in comp_ids)
            + bytes([ss, se, (ah << 4) | al]),
        )

    n_blocks = zz_per_comp[0].shape[0]  # 4:4:4: same grid per comp
    for kind, ss, se, ah, al in script or _DEFAULT_SCRIPT:
        if kind == "dc":
            wtr = _BitWriter()
            if ah == 0:
                preds = [0] * nc
                for b in range(n_blocks):
                    for ci, zz in enumerate(zz_per_comp):
                        v = int(zz[b, 0]) >> al
                        diff = v - preds[ci]
                        preds[ci] = v
                        t = 0 if diff == 0 else abs(diff).bit_length()
                        c, ln = dc_codes[t]
                        wtr.put(c, ln)
                        if t:
                            wtr.put(
                                diff if diff >= 0 else diff + (1 << t) - 1, t
                            )
            else:
                for b in range(n_blocks):
                    for zz in zz_per_comp:
                        wtr.put((int(zz[b, 0]) >> al) & 1, 1)
            out += _sos(list(range(1, nc + 1)), 0, 0, ah, al)
            out += wtr.flush()
        else:
            for ci, zz in enumerate(zz_per_comp):
                wtr = _BitWriter()
                st = _ProgState()
                enc = _enc_ac_first if ah == 0 else _enc_ac_refine
                for b in range(n_blocks):
                    enc(zz[b], wtr, st, ss, se, al, ac_codes)
                _flush_eobrun(st, wtr, ac_codes)
                out += _sos([ci + 1], ss, se, ah, al)
                out += wtr.flush()
    out += b"\xff\xd9"
    return bytes(out)


# ------------------------------------------------ lossless (SOF3)


def _lossless_restarts(n_mcu: int, ri: int) -> set:
    """Raster positions where prediction resets (scan start + each
    restart boundary)."""
    if not ri:
        return {0}
    return set(range(0, n_mcu, ri))


def _reconstruct_lossless(
    d: np.ndarray, sel: int, default_pred: int, restarts: set
) -> np.ndarray:
    """Differences -> samples for one component plane (T.81 H.1.2):
    predictor ``sel`` 1-7, modulo-2^16 arithmetic, first-line /
    first-column / restart special cases. Per H.1.1 a restart is
    treated like a scan start: the boundary sample takes the default
    prediction and the REMAINDER OF THAT LINE uses the one-dimensional
    predictor Ra (selection value 1), regardless of the scan's
    selected predictor; subsequent lines resume normal prediction."""
    h, w = d.shape
    s = np.zeros((h, w), np.int64)
    k = 0
    ra_line = -1  # line forced to Ra by a scan/restart boundary
    for y in range(h):
        row = s[y]
        drow = d[y]
        prev = s[y - 1] if y else None
        for x in range(w):
            if k in restarts:
                p = default_pred
                ra_line = y
            elif y == ra_line:
                p = row[x - 1]
            elif x == 0:
                p = prev[0]
            else:
                a = row[x - 1]
                b = prev[x]
                c = prev[x - 1]
                if sel == 1:
                    p = a
                elif sel == 2:
                    p = b
                elif sel == 3:
                    p = c
                elif sel == 4:
                    p = a + b - c
                elif sel == 5:
                    p = a + ((b - c) >> 1)
                elif sel == 6:
                    p = b + ((a - c) >> 1)
                else:
                    p = (a + b) >> 1
            row[x] = (p + drow[x]) & 0xFFFF
            k += 1
    return s


def _decode_lossless(data: bytes, sof: dict, scans: list) -> np.ndarray:
    """Lossless (SOF3) frame -> (h, w, nc); uint8 when precision <= 8
    else uint16. Spatial-domain DPCM: per-sample Huffman category +
    magnitude bits give a difference against one of the seven spatial
    predictors; no DCT, no quantization (T.81 Annex H)."""
    h, w = sof["h"], sof["w"]
    comps = sof["comps"]
    prec = sof["prec"]
    if len(comps) > 1 and any(
        c["h"] != 1 or c["v"] != 1 for c in comps
    ):
        raise JpegParseError(
            "subsampled lossless frames are not supported (1x1 only)"
        )
    planes: dict = {}
    for hdr, start, end in scans:
        scomps = hdr["comps"]
        sel = hdr["ss"]
        if not 1 <= sel <= 7:
            raise JpegParseError(
                f"lossless predictor selector {sel} outside 1-7"
            )
        pt = hdr["al"]
        if pt >= prec:
            raise JpegParseError(
                f"point transform {pt} consumes the {prec}-bit sample"
            )
        luts = []
        for s in scomps:
            lut = hdr["dc"][s["td"]]
            if lut is None:
                raise JpegParseError(
                    f"scan component {s['cs']} references an undefined "
                    "Huffman table"
                )
            luts.append(lut)
        ids = [s["cs"] for s in scomps]
        ri = hdr["ri"]
        n_mcu = h * w
        diffs = {cid: np.empty(n_mcu, np.int64) for cid in ids}
        mcu = 0
        for seg in _restart_segments(data[start:end], ri):
            reader = _BitReader(_unstuff(seg))
            cnt = min(ri or n_mcu, n_mcu - mcu)
            for _ in range(cnt):
                for cid, lut in zip(ids, luts):
                    t = _huff_decode(reader, lut)
                    if t > 16:
                        raise JpegParseError(
                            f"lossless difference category {t} invalid"
                        )
                    if t == 16:  # T.81 H.1.2.2: no magnitude bits
                        diff = 32768
                    else:
                        diff = _extend(reader.receive(t), t)
                    diffs[cid][mcu] = diff
                mcu += 1
        if mcu != n_mcu:
            raise JpegParseError(
                f"lossless scan ended after {mcu} of {n_mcu} samples"
            )
        default_pred = 1 << (prec - pt - 1)
        restarts = _lossless_restarts(n_mcu, ri)
        for cid in ids:
            plane = _reconstruct_lossless(
                diffs[cid].reshape(h, w), sel, default_pred, restarts
            )
            planes[cid] = plane << pt
    out = np.zeros(
        (h, w, len(comps)), dtype=np.uint8 if prec <= 8 else np.uint16
    )
    for i, c in enumerate(comps):
        if c["id"] not in planes:
            raise JpegParseError(
                f"no scan coded lossless component {c['id']}"
            )
        out[:, :, i] = planes[c["id"]]
    return out


# 17 symbols (categories 0-16) all at 5 bits: a valid canonical code
# any conforming decoder reads — coverage over compression, like the
# other fixture tables above
_LL_DC_BITS = [0, 0, 0, 0, 17, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_LL_DC_VALS = list(range(17))


def encode_jpeg_lossless(
    img: np.ndarray,
    predictor: int = 1,
    pt: int = 0,
    precision: int | None = None,
    ri: int = 0,
) -> bytes:
    """Fixture encoder: (h, w) or (h, w, c) unsigned ints -> a
    lossless SOF3 stream (predictor 1-7, optional point transform and
    restart interval). Round-trips bit-exactly through
    :func:`decode_jpeg` by construction; the golden layout tests pin
    the bit-level format independently."""
    img = np.asarray(img)
    if img.ndim == 2:
        img = img[:, :, None]
    if img.ndim != 3:
        raise JpegParseError("image must be (h, w) or (h, w, c)")
    h, w, nc = img.shape
    if not 1 <= predictor <= 7:
        raise JpegParseError(f"predictor {predictor} outside 1-7")
    if precision is None:
        precision = 8 if img.dtype == np.uint8 else 16
    if not 2 <= precision <= 16:
        raise JpegParseError(f"precision {precision} outside 2-16")
    if pt >= precision:
        raise JpegParseError("point transform consumes the sample")
    s64 = img.astype(np.int64)
    if s64.min() < 0 or s64.max() >= (1 << precision):
        raise JpegParseError(f"samples exceed {precision}-bit range")
    if pt and np.any(s64 & ((1 << pt) - 1)):
        raise JpegParseError(
            f"samples must carry {pt} zero low bits for an exact "
            "point-transform round trip"
        )
    coded = s64 >> pt

    out = bytearray(b"\xff\xd8")
    dht = bytes([0x00]) + bytes(_LL_DC_BITS) + bytes(_LL_DC_VALS)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    sofp = bytes([precision]) + struct.pack(">HH", h, w) + bytes([nc])
    for i in range(nc):
        sofp += bytes([i + 1, 0x11, 0])
    out += b"\xff\xc3" + struct.pack(">H", 2 + len(sofp)) + sofp
    if ri:
        out += b"\xff\xdd" + struct.pack(">HH", 4, ri)
    sosp = bytes([nc])
    for i in range(nc):
        sosp += bytes([i + 1, 0x00])
    sosp += bytes([predictor, 0, pt])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sosp)) + sosp

    # canonical codes for the all-5-bit table: code(k) = k
    def emit(bw, t):
        bw.append(t, 5)

    class _BW:
        def __init__(self):
            self.bytes_ = bytearray()
            self.acc = 0
            self.n = 0

        def append(self, v, nb):
            self.acc = (self.acc << nb) | (v & ((1 << nb) - 1))
            self.n += nb
            while self.n >= 8:
                self.n -= 8
                b = (self.acc >> self.n) & 0xFF
                self.bytes_.append(b)
                if b == 0xFF:
                    self.bytes_.append(0x00)  # stuffing
            self.acc &= (1 << self.n) - 1

        def flush(self):
            if self.n:
                pad = 8 - self.n
                self.append((1 << pad) - 1, pad)  # 1-fill (B.1.1.5)

    default_pred = 1 << (precision - pt - 1)
    n_mcu = h * w
    restarts = _lossless_restarts(n_mcu, ri)
    # per-component predictions mirror _reconstruct_lossless exactly
    bw = _BW()
    rst = 0
    ra_line = -1  # line forced to Ra by a scan/restart boundary
    for k in range(n_mcu):
        if ri and k and k % ri == 0:
            bw.flush()
            out += bytes(bw.bytes_)
            out += bytes([0xFF, 0xD0 + (rst & 7)])
            rst += 1
            bw = _BW()
        y, x = divmod(k, w)
        if k in restarts:
            ra_line = y
        for ci in range(nc):
            plane = coded[:, :, ci]
            if k in restarts:
                p = default_pred
            elif y == ra_line:
                p = plane[y, x - 1]
            elif x == 0:
                p = plane[y - 1, 0]
            else:
                a = plane[y, x - 1]
                b = plane[y - 1, x]
                c = plane[y - 1, x - 1]
                p = [
                    a, b, c, a + b - c, a + ((b - c) >> 1),
                    b + ((a - c) >> 1), (a + b) >> 1,
                ][predictor - 1]
            d = (int(plane[y, x]) - int(p)) & 0xFFFF
            if d >= 0x8000 and d != 0x8000:
                d -= 0x10000
            if d == 0x8000:  # category 16: no magnitude bits
                emit(bw, 16)
                continue
            t = abs(d).bit_length()
            emit(bw, t)
            if t:
                v = d if d > 0 else d + (1 << t) - 1
                bw.append(v, t)
    bw.flush()
    out += bytes(bw.bytes_)
    out += b"\xff\xd9"
    return bytes(out)


def sniff_sof_marker(data: bytes) -> int | None:
    """Marker byte (0xC0-0xCF) of the first SOF, or None — the
    dispatch sniff that keeps lossless (SOF3) streams on the
    clean-room path even when a binding covers baseline 8-bit."""
    if data[:2] != b"\xff\xd8":
        return None
    pos, n = 2, len(data)
    while pos + 1 < n:
        if data[pos] != 0xFF:
            return None
        while pos + 1 < n and data[pos + 1] == 0xFF:
            pos += 1
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD9, 0xDA):
            return None
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        if pos + 2 > n:
            return None
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            return marker
        pos += seglen
    return None
