"""Clean-room JPEG 2000 Part 1 codec — the reversible (lossless 5/3)
path, written from the public ISO/IEC 15444-1 / ITU-T T.800 spec.

Closes the last "reference ingests it, this engine cannot" gap: the
reference reads ``.jp2`` slice directories through rasterio
(tiff2octree.py:673-678); this container ships no OpenJPEG binding,
so sources/jp2.py previously gated the decode. This module decodes
(and, for fixtures, encodes) lossless codestreams — single-tile or
a regular multi-tile grid, the layout slide/slice scanners emit —
with no external codec:

- **MQ arithmetic coder** (Annex C; the same coder as JBIG2/T.88):
  47-state table, byte-stuffed at 0xFF, carry-propagating encoder.
- **EBCOT Tier-1** (Annex D): per-code-block bit-plane coding with
  significance-propagation / magnitude-refinement / cleanup passes,
  the 9+5+3+1+1 context model, run-length and UNIFORM contexts.
- **Tier-2 packet parsing** (Annex B): tag trees for inclusion and
  missing-bit-planes, pass-count and Lblock length codewords,
  bit-stuffed packet headers, LRCP/RLCP/RPCL/CPRL progressions
  (single layer), default full-band precincts, SOP/EPH tolerance.
- **Reversible 5/3 wavelet** (Annex F) with symmetric extension,
  vectorized per axis in numpy; multi-level Mallat decomposition
  with the spec's ceil/floor subband size rules.
- **Reversible color transform** (RCT, Annex G) and DC level shift.

Tile-parts (TPsot/TNsot — how Kakadu/OpenJPEG split a tile across
SOT segments) reassemble by concatenation in TPsot order, with
PLT/COM tile-part header markers skipped. All five progression
orders decode (PCRL degenerates to CPRL's sequence under one
precinct per tile-resolution). Quality layers decode for any layer
count: per-block contributions accumulate across packets (layered
inclusion tag-tree thresholds, Lblock growth, chunked codewords)
and Tier-1 runs once per block on the concatenation.

The 9/7 irreversible transform decodes too: scalar-quantized
codestreams (QCD styles 1 derived / 2 expounded) dequantize by
2^(Rb - eps) * (1 + mu/2^11) with midpoint reconstruction, run the
float 9/7 inverse lifting (normalization pinned by the analysis
lowpass taps summing to 1), and apply the irreversible BT.601 color
transform when MCT is declared.

Packed packet headers decode in both flavors — main-header PPM
(Nppm-framed per-tile-part chunks, T.800 A.7.4) and tile-part PPT
(Zppt-ordered per-tile segments, A.7.5) — and the fixture encoder
emits them via ``packed_headers=``. Per-component QCC quantization
overrides decode (and the encoder emits them via ``qcc_eps_delta``).
Maxshift
region-of-interest (RGN, T.800 Annex H) decodes — ROI-upshifted
coefficients classify by magnitude and scale back after Tier-1 —
within the 31-coded-bit-plane integer domain. ALL SIX T.800 code-block mode switches decode, alone or in any
combination: 0x01 selective arithmetic coding bypass (raw
bit-stuffed SPP/MRP segments from the 5th bit-plane, D.6), 0x02
context reset after every coding pass, 0x04 termination on each
coding pass (per-pass codeword segments with shared context state,
D.4.1/B.10.7.5), 0x08 vertically stripe-causal context formation
(D.3.4), 0x10 predictable termination (an encoder-side flush
property; decode is identical, so it passes through), and 0x20
segmentation symbols (the 1010 cleanup-end marker, verified as an
error check, D.5). Custom precincts (Scod bit 0, B.9) decode:
per-resolution partitions with per-precinct tag trees and packets,
code-blocks clamped to the precinct size, position-ordered packet
sequences for RPCL/PCRL/CPRL — composing with tiles, tile-parts,
layers, every progression, lossy 9/7, subsampling, packed headers,
and the style modes. Precincts are resolved PER COMPONENT AND PER
TILE with the A.6 precedence: a COC or tile COD carries its own
precinct list (Scoc/Scod bit 0) or resets its scope to maximal, and
POC entries iterate the real precinct grids with the B.12 position
loops (coverage checked per tile from the RESOLVED parameters).
Geometry is fully general: tile grids need NOT align to 2^levels
(or to a subsampled component's rate) — tile-component bands follow
the exact B-15 ceil formulas with the lifting split by CANVAS
parity — and nonzero image/tile-grid offsets (XOsiz/YOsiz/XTOsiz/
YTOsiz, B.3/B.4) decode, components anchoring at ceil(offset/rate)
on their own grids. The only :class:`J2kUnsupported` gates left are
spec-reserved codepoints: style bits 0x40/0x80 and non-maxshift RGN
styles (T.800 defines only Srgn = 0).
Per-tile COD/QCD/COC/QCC overrides decode with the T.800 A.6
precedence (tile COC > tile COD > main COC > main COD; tile QCC >
tile QCD > main QCC > main QCD), restricted to a tile's first part.
Subsampled components tile too when every tile origin lands on the
component grid 2^levels-aligned (per-component band anchors). Progression-order changes (POC, T.800 A.6.6)
decode: each entry contributes its progression nest over its
resolution/component/layer bounds with the standard continuation
rule, and the header is required to cover every packet. POC and RGN
decode from TILE-PART headers too (first part; a tile POC replaces
the main header's progression for that tile, a tile RGN overrides
the maxshift per component). Signed components decode (no DC level shift,
int8/int16 output), main-header COC per-component overrides
(decomposition levels, code-block geometry, transform) drive the
packet walk per T.800 B.12, and non-unit XRsiz/YRsiz component
subsampling decodes on the per-component sample grid (single- or
aligned multi-tile), upsampled back to the reference grid by
nearest-neighbor replication — the JPEG chroma convention. The
scope covers what a lossless microscopy slice store actually writes;
everything else raises :class:`J2kUnsupported`, which sources/jp2.py
reports as ``NotImplementedError`` naming the feature.

Scale note: Tier-1 is an adaptive bit-serial coder — per-coefficient
Python, not vectorizable. One 64x64 block decodes in ~10 ms, a
2048x2048 16-bit slice in tens of seconds on one core; the engine
runs it inside the per-slice executor decode (one task per file), so
a 1000-slice ingest parallelizes across the cluster exactly like the
TIFF path.
"""

from __future__ import annotations

import struct

import numpy as np


class J2kParseError(ValueError):
    pass


class J2kUnsupported(J2kParseError):
    """A spec-legal feature outside this codec's lossless scope."""


# ------------------------------------------------------------ MQ coder
# ISO/IEC 15444-1 Table C.2: (Qe, NMPS, NLPS, SWITCH)

_MQ_TABLE = (
    (0x5601, 1, 1, 1), (0x3401, 2, 6, 0), (0x1801, 3, 9, 0),
    (0x0AC1, 4, 12, 0), (0x0521, 5, 29, 0), (0x0221, 38, 33, 0),
    (0x5601, 7, 6, 1), (0x5401, 8, 14, 0), (0x4801, 9, 14, 0),
    (0x3801, 10, 14, 0), (0x3001, 11, 17, 0), (0x2401, 12, 18, 0),
    (0x1C01, 13, 20, 0), (0x1601, 29, 21, 0), (0x5601, 15, 14, 1),
    (0x5401, 16, 14, 0), (0x5101, 17, 15, 0), (0x4801, 18, 16, 0),
    (0x3801, 19, 17, 0), (0x3401, 20, 18, 0), (0x3001, 21, 19, 0),
    (0x2801, 22, 19, 0), (0x2401, 23, 20, 0), (0x2201, 24, 21, 0),
    (0x1C01, 25, 22, 0), (0x1801, 26, 23, 0), (0x1601, 27, 24, 0),
    (0x1401, 28, 25, 0), (0x1201, 29, 26, 0), (0x1101, 30, 27, 0),
    (0x0AC1, 31, 28, 0), (0x09C1, 32, 29, 0), (0x08A1, 33, 30, 0),
    (0x0521, 34, 31, 0), (0x0441, 35, 32, 0), (0x02A1, 36, 33, 0),
    (0x0221, 37, 34, 0), (0x0141, 38, 35, 0), (0x0111, 39, 36, 0),
    (0x0085, 40, 37, 0), (0x0049, 41, 38, 0), (0x0025, 42, 39, 0),
    (0x0015, 43, 40, 0), (0x0009, 44, 41, 0), (0x0005, 45, 42, 0),
    (0x0001, 45, 43, 0), (0x5601, 46, 46, 0),
)

# Tier-1 context numbering: 0-8 zero coding, 9-13 sign coding,
# 14-16 magnitude refinement, 17 run-length, 18 uniform.
N_CTX = 19
CTX_RL = 17
CTX_UNI = 18
# initial (index, MPS) per Table D.7: UNIFORM starts at state 46,
# RUN-LENGTH at 3, ZC context 0 at 4, everything else at 0
_CTX_INIT = [(0, 0)] * N_CTX
_CTX_INIT[0] = (4, 0)
_CTX_INIT[CTX_RL] = (3, 0)
_CTX_INIT[CTX_UNI] = (46, 0)

# Decoder-side flattened state machine over packed (index << 1) | MPS
# bytes: Qe per packed state and the packed successor after an MPS /
# LPS decision (the switch-MPS flip folded into the LPS table) — one
# index each in the hot loop instead of a tuple unpack + two lists.
_MQ_Q = tuple(_MQ_TABLE[t >> 1][0] for t in range(2 * len(_MQ_TABLE)))
_MQ_NEXT_MPS = bytes(
    (_MQ_TABLE[t >> 1][1] << 1) | (t & 1) for t in range(2 * len(_MQ_TABLE))
)
_MQ_NEXT_LPS = bytes(
    (_MQ_TABLE[t >> 1][2] << 1)
    | ((t & 1) ^ 1 if _MQ_TABLE[t >> 1][3] else (t & 1))
    for t in range(2 * len(_MQ_TABLE))
)


class MQDecoder:
    """Annex C.3 software-convention decoder. Reads past the end of
    ``data`` as an endless 0xFF stream (the marker-terminated
    convention), so truncated segments decode deterministically."""

    def __init__(self, data: bytes, n_ctx: int = N_CTX):
        self.data = data
        self.st = bytearray(
            (i << 1) | m for i, m in _CTX_INIT[:n_ctx]
        )
        self.bp = 0
        b = data[0] if data else 0xFF
        self.c = b << 16
        self.ct = 0
        self._bytein()
        self.c = (self.c << 7) & 0xFFFFFFFF
        self.ct -= 7
        self.a = 0x8000

    def _bytein(self):
        d, bp = self.data, self.bp
        cur = d[bp] if bp < len(d) else 0xFF
        nxt = d[bp + 1] if bp + 1 < len(d) else 0xFF
        if cur == 0xFF:
            if nxt > 0x8F:
                self.c += 0xFF00
                self.ct = 8
            else:
                self.bp = bp + 1
                self.c += nxt << 9
                self.ct = 7
        else:
            self.bp = bp + 1
            self.c += nxt << 8
            self.ct = 8

    def decode(self, cx: int) -> int:
        # Hot path first: an MPS decision needing no renormalization
        # touches only A and C (the overwhelmingly common case).
        st = self.st
        t = st[cx]
        qe = _MQ_Q[t]
        a = self.a - qe
        c = self.c
        if ((c >> 16) & 0xFFFF) < qe:
            if a < qe:  # conditional exchange: MPS decoded
                d = t & 1
                st[cx] = _MQ_NEXT_MPS[t]
            else:
                d = (t & 1) ^ 1
                st[cx] = _MQ_NEXT_LPS[t]
            a = qe
        else:
            c -= qe << 16
            if a & 0x8000:
                self.a = a
                self.c = c
                return t & 1
            if a < qe:  # conditional exchange: LPS decoded
                d = (t & 1) ^ 1
                st[cx] = _MQ_NEXT_LPS[t]
            else:
                d = t & 1
                st[cx] = _MQ_NEXT_MPS[t]
        # renormalize (a < 0x8000 here)
        ct = self.ct
        while True:
            if ct == 0:
                self.c = c
                self._bytein()
                c = self.c
                ct = self.ct
            a = (a << 1) & 0xFFFF
            c = (c << 1) & 0xFFFFFFFF
            ct -= 1
            if a & 0x8000:
                break
        self.a = a
        self.c = c
        self.ct = ct
        return d


class MQEncoder:
    """Annex C.2 encoder with carry propagation and 0xFF stuffing.
    One leading sentinel byte absorbs the (provably-unreachable)
    initial carry; it is asserted untouched and stripped at flush."""

    def __init__(self, n_ctx: int = N_CTX):
        self.idx = [i for i, _ in _CTX_INIT[:n_ctx]]
        self.mps = [m for _, m in _CTX_INIT[:n_ctx]]
        self.a = 0x8000
        self.c = 0
        self.ct = 12
        self.out = bytearray([0])  # sentinel

    def encode(self, cx: int, bit: int):
        qe, nmps, nlps, sw = _MQ_TABLE[self.idx[cx]]
        if bit == self.mps[cx]:
            self.a -= qe
            if self.a & 0x8000 == 0:
                if self.a < qe:  # conditional exchange
                    self.a = qe
                else:
                    self.c += qe
                self.idx[cx] = nmps
                self._renorm()
            else:
                self.c += qe
        else:
            self.a -= qe
            if self.a < qe:  # conditional exchange
                self.c += qe
            else:
                self.a = qe
            if sw:
                self.mps[cx] = 1 - self.mps[cx]
            self.idx[cx] = nlps
            self._renorm()

    def _renorm(self):
        while True:
            if self.ct == 0:
                self._byteout()
            self.a = (self.a << 1) & 0xFFFF
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
            if self.a & 0x8000:
                return

    def _byteout(self):
        # After an 0xFF the next byte is 7-bit (C >> 20, unmasked: it
        # is ≤ 0x8F for any legal coder state, and FLUSH legitimately
        # produces values above 0x7F — masking would corrupt them)
        out = self.out
        if out[-1] == 0xFF:
            out.append(self.c >> 20)
            self.c &= 0xFFFFF
            self.ct = 7
        elif self.c < 0x8000000:
            out.append((self.c >> 19) & 0xFF)
            self.c &= 0x7FFFF
            self.ct = 8
        else:
            out[-1] += 1  # propagate carry into the prior byte
            if out[-1] == 0xFF:
                self.c &= 0x7FFFFFF
                out.append(self.c >> 20)
                self.c &= 0xFFFFF
                self.ct = 7
            else:
                out.append((self.c >> 19) & 0xFF)
                self.c &= 0x7FFFF
                self.ct = 8

    def flush(self) -> bytes:
        # SETBITS (C.2.9): force the low 16 bits of C to 1s while
        # staying inside [C, C+A-1], so the 1-bits the decoder
        # synthesizes past the stream end land inside the interval
        # and trailing 0xFF bytes become droppable
        tempc = self.c + self.a - 1
        self.c |= 0xFFFF
        if self.c > tempc:
            self.c -= 0x8000
        self.c = (self.c << self.ct) & 0xFFFFFFFF
        self._byteout()
        self.c = (self.c << self.ct) & 0xFFFFFFFF
        self._byteout()
        out = self.out
        if out[0] != 0:
            raise J2kParseError("MQ encoder carry escaped the codeword")
        del out[0]
        while out and out[-1] == 0xFF:
            out.pop()  # the decoder synthesizes trailing 0xFFs
        return bytes(out)


class RawEncoder:
    """Raw (bypass) codeword segment writer, T.800 D.6: bits pack
    MSB-first; after an emitted 0xFF byte the next byte carries only
    7 bits (its MSB stays 0), so no 0xFF90-0xFFFF marker can appear.
    Exposes the MQEncoder ``encode(ctx, bit)`` surface so the coding
    passes run unchanged — the context argument is ignored."""

    is_raw = True

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def encode(self, cx: int, bit: int):
        self.acc = (self.acc << 1) | (bit & 1)
        self.nbits += 1
        limit = 7 if self.out and self.out[-1] == 0xFF else 8
        if self.nbits == limit:
            self.out.append(self.acc)
            self.acc = 0
            self.nbits = 0

    def flush(self) -> bytes:
        if self.nbits:
            limit = 7 if self.out and self.out[-1] == 0xFF else 8
            self.out.append(self.acc << (limit - self.nbits))
        if self.out and self.out[-1] == 0xFF:
            self.out.append(0)  # a segment must not end in 0xFF
        return bytes(self.out)


class RawDecoder:
    """Raw (bypass) codeword segment reader mirroring
    :class:`RawEncoder`; exposes the MQDecoder ``decode(ctx)``
    surface (context ignored)."""

    is_raw = True

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0
        self.prev_ff = False

    def decode(self, cx: int) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise J2kParseError("raw segment overruns its length")
            b = self.data[self.pos]
            self.pos += 1
            if self.prev_ff:
                if b & 0x80:
                    raise J2kParseError(
                        "raw stuffing bit set after an 0xFF byte"
                    )
                self.nbits = 7
            else:
                self.nbits = 8
            self.acc = b
            self.prev_ff = b == 0xFF
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1


# ----------------------------------------------------------- tag trees


class TagTree:
    """Annex B.10.2 tag tree over a w x h leaf grid, usable for both
    encoding (preset leaf values) and decoding (values learned from
    bits). Internal node values are the min of their children."""

    def __init__(self, w: int, h: int):
        sizes = []
        lw, lh = max(1, w), max(1, h)
        while True:
            sizes.append((lw, lh))
            if lw == 1 and lh == 1:
                break
            lw, lh = (lw + 1) // 2, (lh + 1) // 2
        self.sizes = sizes  # level 0 = leaves
        self.value = [[0] * (sw * sh) for sw, sh in sizes]
        self.low = [[0] * (sw * sh) for sw, sh in sizes]
        self.known = [[False] * (sw * sh) for sw, sh in sizes]

    def set_value(self, x: int, y: int, v: int):
        self.value[0][y * self.sizes[0][0] + x] = v

    def finalize(self):
        """Fill internal nodes (min of children) before encoding."""
        for lvl in range(1, len(self.sizes)):
            sw, sh = self.sizes[lvl]
            cw, ch = self.sizes[lvl - 1]
            for y in range(sh):
                for x in range(sw):
                    best = None
                    for cy in (2 * y, 2 * y + 1):
                        for cx in (2 * x, 2 * x + 1):
                            if cy < ch and cx < cw:
                                v = self.value[lvl - 1][cy * cw + cx]
                                best = v if best is None else min(best, v)
                    self.value[lvl][y * sw + x] = 0 if best is None else best

    def _path(self, x: int, y: int):
        path = []
        for lvl, (sw, _sh) in enumerate(self.sizes):
            path.append((lvl, y * sw + x))
            x >>= 1
            y >>= 1
        return reversed(path)  # root first

    def encode(self, x: int, y: int, threshold: int, putbit):
        low = 0
        for lvl, idx in self._path(x, y):
            if self.low[lvl][idx] < low:
                self.low[lvl][idx] = low
            else:
                low = self.low[lvl][idx]
            v = self.value[lvl][idx]
            while low < threshold:
                if low >= v:
                    if not self.known[lvl][idx]:
                        putbit(1)
                        self.known[lvl][idx] = True
                    break
                putbit(0)
                low += 1
            self.low[lvl][idx] = low
            if not self.known[lvl][idx]:
                return

    def decode(self, x: int, y: int, threshold: int, getbit) -> bool:
        """Read bits until the leaf is known relative to ``threshold``;
        True iff leaf value < threshold (then :meth:`leaf_value` is
        exact)."""
        low = 0
        for lvl, idx in self._path(x, y):
            if self.low[lvl][idx] < low:
                self.low[lvl][idx] = low
            else:
                low = self.low[lvl][idx]
            while low < threshold and not self.known[lvl][idx]:
                if getbit():
                    self.value[lvl][idx] = low
                    self.known[lvl][idx] = True
                else:
                    low += 1
            self.low[lvl][idx] = low
            if not self.known[lvl][idx]:
                return False
            low = self.value[lvl][idx]
        return True

    def leaf_value(self, x: int, y: int) -> int:
        return self.value[0][y * self.sizes[0][0] + x]


# ------------------------------------------- packet-header bit streams


class PackBitWriter:
    """MSB-first bit stream with the packet-header stuffing rule: a
    byte following 0xFF carries only 7 bits (B.10.1)."""

    def __init__(self):
        self.bytes = bytearray()
        self.cur = 0
        self.n = 0

    def _limit(self) -> int:
        return 7 if (self.bytes and self.bytes[-1] == 0xFF) else 8

    def put(self, bit: int):
        self.cur = (self.cur << 1) | (bit & 1)
        self.n += 1
        if self.n == self._limit():
            self.bytes.append(self.cur)
            self.cur = 0
            self.n = 0

    def put_bits(self, value: int, nbits: int):
        for i in range(nbits - 1, -1, -1):
            self.put((value >> i) & 1)

    def flush(self) -> bytes:
        if self.n:
            self.bytes.append(self.cur << (self._limit() - self.n))
            self.cur = 0
            self.n = 0
        if self.bytes and self.bytes[-1] == 0xFF:
            self.bytes.append(0)  # a header must not end in 0xFF
        return bytes(self.bytes)


class PackBitReader:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos
        self.cur = 0
        self.n = 0
        self.prev = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise J2kParseError("packet header overruns tile data")
            limit = 7 if self.prev == 0xFF else 8
            self.prev = self.data[self.pos]
            self.cur = self.prev
            self.pos += 1
            self.n = limit
        self.n -= 1
        return (self.cur >> self.n) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align(self):
        """End of packet header: drop partial bits; a header whose
        last consumed byte was 0xFF is followed by a stuff byte."""
        if self.n == 0 and self.prev == 0xFF:
            self.pos += 1
        self.n = 0
        self.prev = 0


# --------------------------------------------------- Tier-1 (EBCOT)


def _zc_context(band: str, h: int, v: int, d: int) -> int:
    """Zero-coding context (Table D.1) from significant-neighbor
    counts: h horizontal, v vertical, d diagonal."""
    if band == "HL":  # high-pass horizontal: swap roles of h and v
        h, v = v, h
    if band != "HH":
        if h == 2:
            return 8
        if h == 1:
            if v >= 1:
                return 7
            return 6 if d >= 1 else 5
        if v == 2:
            return 4
        if v == 1:
            return 3
        return 2 if d >= 2 else (1 if d == 1 else 0)
    hv = h + v
    if d >= 3:
        return 8
    if d == 2:
        return 7 if hv >= 1 else 6
    if d == 1:
        return 5 if hv >= 2 else (4 if hv == 1 else 3)
    return 2 if hv >= 2 else (1 if hv == 1 else 0)


def _sc_context(hc: int, vc: int) -> tuple[int, int]:
    """Sign-coding context + XOR bit (Table D.3) from the clamped
    horizontal/vertical sign contributions in [-1, 1]."""
    if hc == 1:
        return (13, 0) if vc == 1 else ((12, 0) if vc == 0 else (11, 0))
    if hc == 0:
        return (10, 0) if vc == 1 else ((9, 0) if vc == 0 else (10, 1))
    return (11, 1) if vc == 1 else ((12, 1) if vc == 0 else (13, 1))


class _T1State:
    """Shared scan-state for one code-block (both directions).

    Besides the spec's significance/sign/visited/refined flags it
    maintains two monotone acceleration structures so the coding
    passes cost O(active area), not O(block area), on the sparse
    planes that dominate microscopy data:

    - ``cand``: the 8-neighbourhood dilation of the significance map
      (including the significant cells themselves). A cell outside
      ``cand`` is insignificant, unvisited, and has all-zero
      neighbour counts — every pass can treat it with a constant
      context or skip it outright.
    - ``colcand``: per (stripe, column) OR of ``cand`` over the four
      stripe cells. A cleared entry lets SPP/MRP skip the column and
      lets the cleanup pass take the run-length branch with no
      per-cell checks.

    Both only ever gain bits (significance is monotone within a
    block), so they are updated incrementally in
    :meth:`make_significant` — never recomputed."""

    __slots__ = ("w", "h", "sig", "sign", "visited", "refined",
                 "cand", "colcand", "nsig", "vsc")

    def __init__(self, w: int, h: int, vsc: bool = False):
        self.w, self.h = w, h
        # vertically stripe-causal context formation (style 0x08,
        # T.800 D.3.4): samples in the NEXT stripe are treated as
        # insignificant when forming contexts for the last row of the
        # current stripe — both significance counts and sign
        # contributions. Coding order and state are unchanged.
        self.vsc = vsc
        n = w * h
        self.sig = bytearray(n)
        self.sign = bytearray(n)  # 1 = negative
        self.visited = bytearray(n)
        self.refined = bytearray(n)
        self.cand = bytearray(n)
        self.colcand = bytearray(((h + 3) // 4) * w)
        self.nsig = 0

    def make_significant(self, x: int, y: int) -> None:
        w, h = self.w, self.h
        self.sig[y * w + x] = 1
        self.nsig += 1
        cand, colcand = self.cand, self.colcand
        for yy in range(max(0, y - 1), min(h, y + 2)):
            row = yy * w
            srow = (yy >> 2) * w
            for xx in range(max(0, x - 1), min(w, x + 2)):
                cand[row + xx] = 1
                colcand[srow + xx] = 1

    def neighbor_counts(self, x: int, y: int) -> tuple[int, int, int]:
        w, h, sig = self.w, self.h, self.sig
        i = y * w + x
        below = y < h - 1 and not (self.vsc and (y & 3) == 3)
        hh = 0
        if x > 0 and sig[i - 1]:
            hh += 1
        if x < w - 1 and sig[i + 1]:
            hh += 1
        vv = 0
        if y > 0 and sig[i - w]:
            vv += 1
        if below and sig[i + w]:
            vv += 1
        dd = 0
        if y > 0:
            if x > 0 and sig[i - w - 1]:
                dd += 1
            if x < w - 1 and sig[i - w + 1]:
                dd += 1
        if below:
            if x > 0 and sig[i + w - 1]:
                dd += 1
            if x < w - 1 and sig[i + w + 1]:
                dd += 1
        return hh, vv, dd

    def sign_contrib(self, x: int, y: int) -> tuple[int, int]:
        w, h, sig, sign = self.w, self.h, self.sig, self.sign
        i = y * w + x

        def one(j):
            if not sig[j]:
                return 0
            return -1 if sign[j] else 1

        hc = 0
        if x > 0:
            hc += one(i - 1)
        if x < w - 1:
            hc += one(i + 1)
        vc = 0
        if y > 0:
            vc += one(i - w)
        if y < h - 1 and not (self.vsc and (y & 3) == 3):
            vc += one(i + w)
        return max(-1, min(1, hc)), max(-1, min(1, vc))

    def any_sig_neighbor(self, x: int, y: int) -> bool:
        hh, vv, dd = self.neighbor_counts(x, y)
        return (hh + vv + dd) > 0


def _seg_plan(
    start: int, npasses: int, termall: bool, bypass: bool
) -> list:
    """Codeword-segment plan for coding passes [start, start+npasses)
    of one block -> [(n_passes, is_raw)]. T.800 D.4.1/D.6: ``termall``
    (style 0x04) terminates every pass; selective bypass (style 0x01)
    codes SPP+MRP raw from the 5th bit-plane (absolute pass index 10)
    with terminations around each raw pair and each MQ cleanup. Raw
    passes exist only under bypass."""
    plan: list = []
    for k in range(npasses):
        p = start + k
        raw = bypass and p >= 10 and (p - 10) % 3 != 2
        boundary = (
            k == 0
            or termall
            or (
                bypass
                and p >= 10
                and (p == 10 or (p - 10) % 3 in (0, 2))
            )
        )
        if boundary:
            plan.append([1, raw])
        else:
            plan[-1][0] += 1
    return [(n, r) for n, r in plan]


def t1_decode_block(
    data, w: int, h: int, band: str, nplanes: int, npasses: int,
    termall: bool = False, bypass: bool = False, reset: bool = False,
    vsc: bool = False, segsym: bool = False,
) -> np.ndarray:
    """Decode one code-block -> signed int32 (h, w) coefficients.
    ``nplanes`` = magnitude bit-planes coded (Mb - missing),
    ``npasses`` from the packet header. ``data`` is one codeword
    segment, or — with ``termall`` (style 0x04, termination on each
    coding pass) and/or ``bypass`` (style 0x01, selective arithmetic
    coding bypass) — a LIST of per-segment byte strings matching
    :func:`_seg_plan`: each MQ segment re-primes the interval
    registers (INITDEC) while the context states carry across
    segments (T.800 D.4.1); raw segments decode bit-stuffed raw
    significance/sign/refinement bits (D.6). ``reset`` (style 0x02)
    reinitializes the context states after every coding pass; ``vsc``
    (0x08) masks next-stripe neighbors during context formation;
    ``segsym`` (0x20) checks the 1010 segmentation symbol the encoder
    codes with the UNIFORM context at the end of each cleanup pass --
    a mismatch is a detected bitstream error (D.5)."""
    st = _T1State(w, h, vsc=vsc)
    plan = None
    if termall or bypass:
        plan = _seg_plan(0, npasses, termall, bypass)
        if len(data) != len(plan):
            raise J2kParseError(
                f"block has {len(data)} codeword segments, the "
                f"termall/bypass plan needs {len(plan)}"
            )
        mq = None
    else:
        mq = MQDecoder(data)
    mag = [0] * (w * h)
    bp = nplanes - 1
    pass_kind = 2  # the first pass is always a cleanup
    seg_i = 0
    seg_left = 0
    mq_ctx = None  # carried MQ context states across segments
    for pi in range(npasses):
        if bp < 0:
            raise J2kParseError("more coding passes than bit-planes")
        if plan is not None:
            if seg_left == 0:
                seg_left, raw = plan[seg_i]
                if not getattr(mq, "is_raw", False) and mq is not None:
                    mq_ctx = mq.st
                if raw:
                    mq = RawDecoder(data[seg_i])
                else:
                    mq = MQDecoder(data[seg_i])
                    if mq_ctx is not None and not reset:
                        mq.st = mq_ctx
                seg_i += 1
            seg_left -= 1
        if pass_kind == 0:
            _spp(st, mq, mag, bp, band, decode=True)
        elif pass_kind == 1:
            _mrp(st, mq, mag, bp, decode=True)
        else:
            _cup(st, mq, mag, bp, band, decode=True)
            if segsym:
                sym = 0
                for _ in range(4):
                    sym = (sym << 1) | mq.decode(CTX_UNI)
                if sym != 0b1010:
                    raise J2kParseError(
                        "segmentation symbol mismatch (bitstream error)"
                    )
            bp -= 1
            st.visited = bytearray(w * h)
        if reset and not getattr(mq, "is_raw", False):
            mq.st[:] = bytearray(
                (i << 1) | m for i, m in _CTX_INIT[:N_CTX]
            )
        pass_kind = (pass_kind + 1) % 3
    out = np.zeros((h, w), dtype=np.int32)
    for y in range(h):
        row = y * w
        for x in range(w):
            m = mag[row + x]
            if m:
                out[y, x] = -m if st.sign[row + x] else m
    return out


def t1_encode_block(
    coeffs: np.ndarray, band: str, termall: bool = False,
    bypass: bool = False, reset: bool = False, vsc: bool = False,
    segsym: bool = False,
) -> tuple:
    """Encode one code-block of signed ints -> (codeword bytes,
    n_planes_used, n_passes). All-zero blocks return (b"", 0, 0) —
    the caller excludes them via the inclusion tag tree. With
    ``termall`` and/or ``bypass`` the first element is a LIST of
    codeword segments matching :func:`_seg_plan` (MQ segments
    flushed with context states carried across; raw segments
    bit-stuffed per T.800 D.6)."""
    h, w = coeffs.shape
    amax = int(np.abs(coeffs).max(initial=0))
    segmented = termall or bypass
    if amax == 0:
        return ([] if segmented else b""), 0, 0
    nplanes = amax.bit_length()
    st = _T1State(w, h, vsc=vsc)
    mag = [0] * (w * h)
    sgn = st.sign
    flat = coeffs.ravel()
    for i, v in enumerate(flat):
        vi = int(v)
        mag[i] = vi if vi >= 0 else -vi
        sgn[i] = 1 if vi < 0 else 0
    total_passes = 3 * nplanes - 2
    plan = _seg_plan(0, total_passes, termall, bypass) if segmented else None
    npasses = 0
    bp = nplanes - 1
    pass_kind = 2
    segs: list = []
    seg_i = 0
    seg_left = 0
    mq_idx = mq_mps = None  # carried MQ contexts across segments
    mq = None if segmented else MQEncoder()
    while bp >= 0:
        if plan is not None and seg_left == 0:
            seg_left, raw = plan[seg_i]
            seg_i += 1
            if raw:
                mq = RawEncoder()
            else:
                mq = MQEncoder()
                if mq_idx is not None and not reset:
                    mq.idx, mq.mps = mq_idx, mq_mps
        if pass_kind == 0:
            _spp(st, mq, mag, bp, band, decode=False)
        elif pass_kind == 1:
            _mrp(st, mq, mag, bp, decode=False)
        else:
            _cup(st, mq, mag, bp, band, decode=False)
            if segsym:
                for bit in (1, 0, 1, 0):
                    mq.encode(CTX_UNI, bit)
            bp -= 1
            st.visited = bytearray(w * h)
        if reset and not getattr(mq, "is_raw", False):
            mq.idx = [i for i, _ in _CTX_INIT[:N_CTX]]
            mq.mps = [m for _, m in _CTX_INIT[:N_CTX]]
        npasses += 1
        pass_kind = (pass_kind + 1) % 3
        if plan is not None:
            seg_left -= 1
            if seg_left == 0:
                if not getattr(mq, "is_raw", False):
                    mq_idx, mq_mps = mq.idx, mq.mps  # contexts carry
                segs.append(mq.flush())
    if segmented:
        return segs, nplanes, npasses
    return mq.flush(), nplanes, npasses


def _spp(st: _T1State, mq, mag, bp, band, decode: bool):
    """Significance propagation: insignificant coefficients with at
    least one significant neighbor. A cell outside ``st.cand`` has no
    significant neighbour by construction, so whole columns are
    skipped via ``st.colcand`` — newly significant cells extend both
    maps immediately, keeping the propagation exact."""
    if st.nsig == 0:
        return  # nothing can have a significant neighbor
    w, h = st.w, st.h
    sig, cand, colcand = st.sig, st.cand, st.colcand
    for k in range(0, h, 4):
        srow = (k >> 2) * w
        ymax = min(k + 4, h)
        for x in range(w):
            if not colcand[srow + x]:
                continue
            for y in range(k, ymax):
                i = y * w + x
                if sig[i] or not cand[i]:
                    continue
                hh, vv, dd = st.neighbor_counts(x, y)
                if hh + vv + dd == 0:
                    continue
                ctx = _zc_context(band, hh, vv, dd)
                if decode:
                    bit = mq.decode(ctx)
                else:
                    bit = 1 if (mag[i] >> bp) & 1 else 0
                    mq.encode(ctx, bit)
                st.visited[i] = 1
                if bit:
                    _code_sign(st, mq, x, y, decode)
                    st.make_significant(x, y)
                    if decode:
                        mag[i] = 1 << bp


def _mrp(st: _T1State, mq, mag, bp, decode: bool):
    """Magnitude refinement: coefficients already significant before
    this bit-plane (skip those the SPP just made significant).
    Significant cells all lie under ``st.colcand`` columns, so the
    scan skips inactive columns; significance does not change during
    this pass."""
    if st.nsig == 0:
        return
    w, h = st.w, st.h
    sig, visited, refined, colcand = st.sig, st.visited, st.refined, st.colcand
    for k in range(0, h, 4):
        srow = (k >> 2) * w
        ymax = min(k + 4, h)
        for x in range(w):
            if not colcand[srow + x]:
                continue
            for y in range(k, ymax):
                i = y * w + x
                if not sig[i] or visited[i]:
                    continue
                if refined[i]:
                    ctx = 16
                else:
                    ctx = 15 if st.any_sig_neighbor(x, y) else 14
                if decode:
                    bit = mq.decode(ctx)
                    if bit:
                        mag[i] |= 1 << bp
                else:
                    mq.encode(ctx, (mag[i] >> bp) & 1)
                refined[i] = 1


def _cup(st: _T1State, mq, mag, bp, band, decode: bool):
    """Cleanup pass with the 4-row run-length mode. A cleared
    ``st.colcand`` entry proves the whole stripe column is
    insignificant, unvisited (SPP only visits candidate cells), and
    neighbour-free — the run-length branch applies with no per-cell
    checks, which is what makes mostly-empty planes O(columns)."""
    w, h = st.w, st.h
    sig, visited, cand, colcand = st.sig, st.visited, st.cand, st.colcand
    zero_ctx = _zc_context(band, 0, 0, 0)
    for k in range(0, h, 4):
        srow = (k >> 2) * w
        full = k + 4 <= h
        ymax = min(k + 4, h)
        for x in range(w):
            y = k
            # run-length mode: a full stripe column, all four
            # insignificant, unvisited, with all-zero contexts
            if full and not colcand[srow + x]:
                run = True
            elif full:
                run = True
                for yy in range(k, k + 4):
                    i = yy * w + x
                    if sig[i] or visited[i]:
                        run = False
                        break
                    hh, vv, dd = st.neighbor_counts(x, yy)
                    if hh + vv + dd:
                        run = False
                        break
            else:
                run = False
            if run:
                if decode:
                    any_sig = mq.decode(CTX_RL)
                else:
                    r = next(
                        (
                            yy - k
                            for yy in range(k, k + 4)
                            if (mag[yy * w + x] >> bp) & 1
                        ),
                        None,
                    )
                    any_sig = 0 if r is None else 1
                    mq.encode(CTX_RL, any_sig)
                if not any_sig:
                    continue
                if decode:
                    r = (mq.decode(CTX_UNI) << 1) | mq.decode(CTX_UNI)
                else:
                    mq.encode(CTX_UNI, (r >> 1) & 1)
                    mq.encode(CTX_UNI, r & 1)
                y = k + r
                i = y * w + x
                # the run-interrupting coefficient becomes significant
                # with only its sign coded
                _code_sign(st, mq, x, y, decode)
                st.make_significant(x, y)
                if decode:
                    mag[i] = 1 << bp
                y += 1
            for yy in range(y, ymax):
                i = yy * w + x
                if sig[i] or visited[i]:
                    continue
                if cand[i]:
                    ctx = _zc_context(band, *st.neighbor_counts(x, yy))
                else:
                    ctx = zero_ctx  # provably no significant neighbors
                if decode:
                    bit = mq.decode(ctx)
                else:
                    bit = 1 if (mag[i] >> bp) & 1 else 0
                    mq.encode(ctx, bit)
                if bit:
                    _code_sign(st, mq, x, yy, decode)
                    st.make_significant(x, yy)
                    if decode:
                        mag[i] = 1 << bp


def _code_sign(st: _T1State, mq, x: int, y: int, decode: bool):
    i = y * st.w + x
    if getattr(mq, "is_raw", False):
        # bypass SPP: one raw bit, no neighborhood prediction (D.6)
        if decode:
            st.sign[i] = mq.decode(0)
        else:
            mq.encode(0, st.sign[i])
        return
    ctx, xor = _sc_context(*st.sign_contrib(x, y))
    if decode:
        st.sign[i] = mq.decode(ctx) ^ xor
    else:
        mq.encode(ctx, st.sign[i] ^ xor)


# ------------------------------------------------- 5/3 reversible DWT


def _wss_indices(idx: np.ndarray, n: int) -> np.ndarray:
    """Whole-sample-symmetric (periodic) reflection of arbitrary
    indices into [0, n) — T.800 F.3.8's 1D_EXTD extension rule."""
    if n == 1:
        return np.zeros_like(idx)
    p = 2 * n - 2
    m = np.abs(idx) % p
    return np.where(m >= n, p - m, m)


# Canvas-sample margin for the odd-origin lifting paths: the even-
# origin cores apply their own boundary mirrors at the EXTENDED
# edges, and a boundary value propagates one coefficient lane per
# lifting step (2 steps for 5/3, 4 for 9/7) — 12 samples = 6 lanes
# keeps every retained coefficient a pure function of the correctly
# WSS-extended signal.
_DWT_MARGIN = 12


def _fwd_1d_general(a: np.ndarray, o: int, core, single_odd):
    """Forward lifting on a signal occupying canvas [o, o+n): low
    lane = even canvas indices (T.800 F.4). Even origins take the
    fast vectorized core; odd origins extend whole-sample-symmetric,
    run the core on the even-aligned extension, and slice the
    interior (identical arithmetic to lifting in canvas coordinates).
    A single sample at an odd position is the special 1D_FILTR case
    (high-pass lane; x2 for the reversible filter)."""
    n = a.shape[-1]
    o &= 1
    if n == 0:
        return a[..., :0].copy(), a[..., :0].copy()
    if n == 1 and o:
        return a[..., :0].copy(), single_odd(a)
    if not o:
        return core(a)
    el = _DWT_MARGIN + 1  # extended canvas start o - el is even
    er = _DWT_MARGIN
    idx = _wss_indices(np.arange(-el, n + er), n)
    s, d = core(a[..., idx])
    ns = (o + n + 1) // 2 - (o + 1) // 2  # even canvas count in [o, o+n)
    ks = (el + 1) // 2  # first retained s lane (canvas >= o)
    kd = el // 2
    return (
        s[..., ks : ks + ns].copy(),
        d[..., kd : kd + (n - ns)].copy(),
    )


def _lane_ext(a: np.ndarray, left: int, right: int, lw: bool,
              rw: bool) -> np.ndarray:
    """Extend one coefficient lane by reflection: ``lw``/``rw`` pick
    whole-sample (True) or half-sample (False) symmetry at each end —
    the lane-space image of whole-sample-symmetric SIGNAL extension,
    which alternates by the boundary's canvas parity."""
    n = a.shape[-1]
    if n == 1:
        return a[..., np.zeros(left + 1 + right, dtype=np.intp)]
    idx = []
    for i in range(-left, n + right):
        j = i
        while j < 0 or j >= n:
            if j < 0:
                j = -j if lw else -j - 1
            else:
                j = 2 * (n - 1) - j if rw else 2 * n - 1 - j
        idx.append(j)
    return a[..., idx]


def _inv_1d_general(s: np.ndarray, d: np.ndarray, o: int, core,
                    single_odd_inv) -> np.ndarray:
    """Inverse of :func:`_fwd_1d_general`: rebuild canvas [o, o+n)
    from its even (``s``) and odd (``d``) lanes. Odd origins extend
    each lane with the parity-correct reflection (the lanes of a
    WSS-extended signal are themselves symmetric — whole-sample where
    the boundary sample falls in that lane, half-sample otherwise),
    run the even-origin core, and slice."""
    ns, nd = s.shape[-1], d.shape[-1]
    n = ns + nd
    o &= 1
    if n == 0:
        return s[..., :0].astype(s.dtype, copy=True)
    if n == 1 and nd == 1:
        return single_odd_inv(d)
    if not o:
        return core(s, d)
    el = _DWT_MARGIN + 1  # extended canvas [O, O2), both ends even
    er = _DWT_MARGIN + ((o + n) & 1)
    big_o = o - el
    big_o2 = o + n + er
    ss0, ds0 = (o + 1) // 2, o // 2  # global lane origins
    last = o + n - 1
    s_ext = _lane_ext(
        s,
        ss0 - big_o // 2,
        big_o2 // 2 - (ss0 + ns),
        lw=False,  # o odd: boundary sample is in the d lane
        rw=(last % 2 == 0),
    )
    d_ext = _lane_ext(
        d,
        ds0 - big_o // 2,
        big_o2 // 2 - (ds0 + nd),
        lw=True,
        rw=(last % 2 == 1),
    )
    out = core(s_ext, d_ext)
    k = o - big_o
    return out[..., k : k + n].copy()


def _fwd_5x3_even(a: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """One forward 5/3 lifting step along the last axis (0-origin,
    even samples -> low-pass), vectorized over leading axes."""
    n = a.shape[-1]
    if n == 1:
        return a.copy(), a[..., :0].copy()
    a = a.astype(np.int64, copy=False)
    even = a[..., 0::2]
    odd = a[..., 1::2]
    ne, no = even.shape[-1], odd.shape[-1]
    # d[i] = odd[i] - floor((even[i] + even[i+1]) / 2)
    even_r = even[..., 1:]
    if even_r.shape[-1] < no:  # odd-position tail: mirror even[-1]
        even_r = np.concatenate([even_r, even[..., -1:]], axis=-1)
    d = odd - ((even[..., :no] + even_r) >> 1)
    # s[i] = even[i] + floor((d[i-1] + d[i] + 2) / 4)
    d_l = np.concatenate([d[..., :1], d], axis=-1)[..., :ne]
    d_r = d if d.shape[-1] == ne else np.concatenate(
        [d, d[..., -1:]], axis=-1
    )
    s = even + ((d_l + d_r + 2) >> 2)
    return s, d


def fwd_5x3_1d(a: np.ndarray, o: int = 0):
    """Forward 5/3 on canvas interval [o, o+n) along the last axis."""
    return _fwd_1d_general(
        a, o, _fwd_5x3_even,
        lambda x: x.astype(np.int64) * 2,  # T.800: lone odd sample
    )


def inv_5x3_1d(s: np.ndarray, d: np.ndarray, o: int = 0) -> np.ndarray:
    """Inverse 5/3 for canvas interval [o, o+n) along the last axis."""
    return _inv_1d_general(
        s, d, o, _inv_5x3_even,
        lambda x: x.astype(np.int64) >> 1,
    )


def _inv_5x3_even(s: np.ndarray, d: np.ndarray) -> np.ndarray:
    """Inverse of :func:`_fwd_5x3_even` along the last axis."""
    ne, no = s.shape[-1], d.shape[-1]
    n = ne + no
    if n == 1:
        return s.astype(np.int64, copy=True)
    s = s.astype(np.int64, copy=False)
    d = d.astype(np.int64, copy=False)
    d_l = np.concatenate([d[..., :1], d], axis=-1)[..., :ne]
    d_r = d if no == ne else np.concatenate([d, d[..., -1:]], axis=-1)
    even = s - ((d_l + d_r + 2) >> 2)
    even_r = even[..., 1:]
    if even_r.shape[-1] < no:
        even_r = np.concatenate([even_r, even[..., -1:]], axis=-1)
    odd = d + ((even[..., :no] + even_r) >> 1)
    out = np.empty(s.shape[:-1] + (n,), dtype=np.int64)
    out[..., 0::2] = even
    out[..., 1::2] = odd
    return out


def _fwd_2d(a: np.ndarray, fwd1d, ox: int = 0, oy: int = 0):
    """One decomposition level: vertical then horizontal lifting ->
    (LL, HL, LH, HH). HL is the horizontally-high-pass band.
    ``(ox, oy)`` is the tile-component origin of ``a`` at this level
    — the lane split follows CANVAS parity (T.800 F.4)."""
    lo_v, hi_v = fwd1d(np.swapaxes(a, -1, -2), oy)
    lo_v = np.swapaxes(lo_v, -1, -2)
    hi_v = np.swapaxes(hi_v, -1, -2)
    ll, hl = fwd1d(lo_v, ox)
    lh, hh = fwd1d(hi_v, ox)
    return ll, hl, lh, hh


def _inv_2d(ll, hl, lh, hh, inv1d, ox: int = 0, oy: int = 0):
    lo_v = inv1d(ll, hl, ox)
    hi_v = inv1d(lh, hh, ox)
    both = inv1d(
        np.swapaxes(lo_v, -1, -2), np.swapaxes(hi_v, -1, -2), oy
    )
    return np.swapaxes(both, -1, -2)


def _mallat_forward(
    a: np.ndarray, levels: int, fwd1d, dtype, ox: int = 0, oy: int = 0
) -> list:
    """Mallat decomposition: returns [LL_n, (HL_n, LH_n, HH_n), ...,
    (HL_1, LH_1, HH_1)] with spec ceil/floor subband sizes. ``(ox,
    oy)`` anchors the tile-component on its component grid; each
    level's LL origin is the ceil-half of the previous (B.5)."""
    bands = []
    cur = a.astype(dtype, copy=True)
    cx, cy = ox, oy
    for _ in range(levels):
        ll, hl, lh, hh = _fwd_2d(cur, fwd1d, cx, cy)
        bands.append((hl, lh, hh))
        cur = ll
        cx, cy = -(-cx // 2), -(-cy // 2)
    return [cur] + list(reversed(bands))


def _mallat_inverse(
    pyramid: list, inv1d, ox: int = 0, oy: int = 0
) -> np.ndarray:
    levels = len(pyramid) - 1
    cur = pyramid[0]
    for i, (hl, lh, hh) in enumerate(pyramid[1:]):
        lvl = levels - 1 - i  # level of the RESULTING larger LL
        cur = _inv_2d(
            cur, hl, lh, hh, inv1d,
            -(-ox // (1 << lvl)), -(-oy // (1 << lvl)),
        )
    return cur


def dwt_forward(
    a: np.ndarray, levels: int, ox: int = 0, oy: int = 0
) -> list:
    return _mallat_forward(a, levels, fwd_5x3_1d, np.int64, ox, oy)


def dwt_inverse(pyramid: list, ox: int = 0, oy: int = 0) -> np.ndarray:
    return _mallat_inverse(pyramid, inv_5x3_1d, ox, oy)


# ------------------------------------------- 9/7 irreversible DWT
# T.800 F.4.8.2 lifting. The scaling placement is pinned by the
# analysis lowpass taps summing to 1: lifting a constant c yields
# K*c on the low lane (1 + 2*beta*(1 + 2*alpha) == K), so the
# forward scales low by 1/K and high by K (det-1 complement).

_A97 = -1.586134342059924
_B97 = -0.052980118572961
_G97 = 0.882911075530934
_D97 = 0.443506852043971
_K97 = 1.230174104914001


def _lift97_odd(even: np.ndarray, odd: np.ndarray, coef: float):
    """odd[i] += coef * (even[i] + even[i+1]), symmetric edges."""
    no = odd.shape[-1]
    even_r = even[..., 1:]
    if even_r.shape[-1] < no:
        even_r = np.concatenate([even_r, even[..., -1:]], axis=-1)
    return odd + coef * (even[..., :no] + even_r)


def _lift97_even(even: np.ndarray, odd: np.ndarray, coef: float):
    """even[i] += coef * (odd[i-1] + odd[i]), symmetric edges."""
    ne = even.shape[-1]
    d_l = np.concatenate([odd[..., :1], odd], axis=-1)[..., :ne]
    d_r = (
        odd
        if odd.shape[-1] == ne
        else np.concatenate([odd, odd[..., -1:]], axis=-1)
    )
    return even + coef * (d_l + d_r)


def _fwd_9x7_even(a: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    n = a.shape[-1]
    if n == 1:
        return a.astype(np.float64, copy=True), a[..., :0].astype(np.float64)
    a = a.astype(np.float64, copy=False)
    s, d = a[..., 0::2], a[..., 1::2]
    d = _lift97_odd(s, d, _A97)
    s = _lift97_even(s, d, _B97)
    d = _lift97_odd(s, d, _G97)
    s = _lift97_even(s, d, _D97)
    return s / _K97, d * _K97


def _inv_9x7_even(s: np.ndarray, d: np.ndarray) -> np.ndarray:
    ne, no = s.shape[-1], d.shape[-1]
    n = ne + no
    if n == 1:
        return s.astype(np.float64, copy=True)
    s = s.astype(np.float64, copy=False) * _K97
    d = d.astype(np.float64, copy=False) / _K97
    s = _lift97_even(s, d, -_D97)
    d = _lift97_odd(s, d, -_G97)
    s = _lift97_even(s, d, -_B97)
    d = _lift97_odd(s, d, -_A97)
    out = np.empty(s.shape[:-1] + (n,), dtype=np.float64)
    out[..., 0::2] = s
    out[..., 1::2] = d
    return out


def fwd_9x7_1d(a: np.ndarray, o: int = 0):
    """Forward 9/7 on canvas interval [o, o+n) along the last axis.
    A lone odd-position sample passes through unscaled (encoder and
    decoder agree; the lifting of a degenerate one-sample extension
    would zero it out, so identity is the only lossless-ish choice)."""
    return _fwd_1d_general(
        a, o, _fwd_9x7_even, lambda x: x.astype(np.float64, copy=True)
    )


def inv_9x7_1d(s: np.ndarray, d: np.ndarray, o: int = 0) -> np.ndarray:
    return _inv_1d_general(
        s, d, o, _inv_9x7_even,
        lambda x: x.astype(np.float64, copy=True),
    )


def dwt_forward97(
    a: np.ndarray, levels: int, ox: int = 0, oy: int = 0
) -> list:
    return _mallat_forward(a, levels, fwd_9x7_1d, np.float64, ox, oy)


def dwt_inverse97(pyramid: list, ox: int = 0, oy: int = 0) -> np.ndarray:
    return _mallat_inverse(pyramid, inv_9x7_1d, ox, oy)


def subband_dims(h: int, w: int, levels: int, ox: int = 0, oy: int = 0):
    """Per-resolution band dims: [(LL_n dims)] then per level n..1 the
    (HL, LH, HH) dims, matching :func:`dwt_forward`. ``(ox, oy)`` is
    the tile-component origin on its component grid — lane counts
    split by CANVAS parity (T.800 B.5: the even-index lane holds
    ceil(b)-ceil(a) samples of interval [a, b))."""
    dims = []
    ch, cw, cy, cx = h, w, oy, ox
    for _ in range(levels):
        lh_ = (cy + ch + 1) // 2 - (cy + 1) // 2  # even rows (s lane)
        hh_ = ch - lh_
        lw_ = (cx + cw + 1) // 2 - (cx + 1) // 2
        hw_ = cw - lw_
        dims.append(((lh_, hw_), (hh_, lw_), (hh_, hw_)))  # HL, LH, HH
        ch, cw = lh_, lw_
        cy, cx = -(-cy // 2), -(-cx // 2)
    return (ch, cw), list(reversed(dims))


# ---------------------------------------------------- Tier-2 / packets

_BAND_GAIN = {"LL": 0, "HL": 1, "LH": 1, "HH": 2}
_GUARD_BITS = 2

SOC = 0xFF4F
SIZ = 0xFF51
COD = 0xFF52
COC = 0xFF53
QCD = 0xFF5C
QCC = 0xFF5D
PLT = 0xFF58
RGN = 0xFF5E
POC = 0xFF5F
PPM = 0xFF60
PPT = 0xFF61
COM = 0xFF64
SOT = 0xFF90
SOP = 0xFF91
EPH = 0xFF92
SOD = 0xFF93
EOC = 0xFFD9


def _put_npasses(wr: PackBitWriter, n: int):
    """Pass-count codeword (Table B.4)."""
    if n == 1:
        wr.put(0)
    elif n == 2:
        wr.put(1)
        wr.put(0)
    elif n <= 5:
        wr.put_bits(0b11, 2)
        wr.put_bits(n - 3, 2)
    elif n <= 36:
        wr.put_bits(0b1111, 4)
        wr.put_bits(n - 6, 5)
    elif n <= 164:
        wr.put_bits(0b111111111, 9)
        wr.put_bits(n - 37, 7)
    else:
        raise J2kParseError(f"cannot code {n} passes")


def _get_npasses(rd: PackBitReader) -> int:
    if rd.bit() == 0:
        return 1
    if rd.bit() == 0:
        return 2
    v = rd.bits(2)
    if v < 3:
        return 3 + v
    v = rd.bits(5)
    if v < 31:
        return 6 + v
    return 37 + rd.bits(7)


class _Band:
    """One subband at one resolution of one component: geometry,
    code-block grid, per-block Tier-2 state.

    ``(ox, oy)`` is the band's origin in BAND coordinates (canvas
    coordinates divided down to this resolution). The code-block
    partition is anchored at canvas (0,0) per T.800 B.7 — for a tile
    whose band origin is not a code-block multiple, the first
    row/column of blocks is short. Tile 0 (origin 0) reduces to the
    plain ceil(w/cbw) grid."""

    def __init__(
        self,
        btype: str,
        h: int,
        w: int,
        cbw: int,
        cbh: int,
        mb: int,
        ox: int = 0,
        oy: int = 0,
        ppx: int = 15,
        ppy: int = 15,
        pcx: int | None = None,
        pcy: int | None = None,
    ):
        self.btype = btype
        self.h, self.w = h, w
        # T.800 B.7: the code-block partition may not cross precinct
        # boundaries -- the effective code-block size is clamped to
        # the precinct size (both canvas-anchored powers of two, so
        # blocks nest exactly inside precincts)
        cbw = min(cbw, 1 << ppx)
        cbh = min(cbh, 1 << ppy)
        self.cbw, self.cbh = cbw, cbh
        self.mb = mb
        self.ox, self.oy = ox, oy
        self.mx0 = ox // cbw if w else 0
        self.my0 = oy // cbh if h else 0
        self.ncx = (-(-(ox + w) // cbw) - self.mx0) if w else 0
        self.ncy = (-(-(oy + h) // cbh) - self.my0) if h else 0
        n = self.ncx * self.ncy
        # precinct grid (B.9): band-coordinate exponents; counts are
        # the RESOLUTION's (shared by all its bands; a precinct's
        # region in one band may be empty). Default 2^15 = the
        # no-precinct case: one precinct, one tag-tree pair.
        self.ppx, self.ppy = ppx, ppy
        self.px0 = (ox >> ppx) if w else 0
        self.py0 = (oy >> ppy) if h else 0
        own_pcx = ((-(-(ox + w) >> ppx)) - self.px0) if w else 0
        own_pcy = ((-(-(oy + h) >> ppy)) - self.py0) if h else 0
        self.pcx = pcx if pcx is not None else own_pcx
        self.pcy = pcy if pcy is not None else own_pcy
        if own_pcx > self.pcx or own_pcy > self.pcy:
            raise J2kParseError(
                "band precinct grid exceeds the resolution's"
            )
        self._trees: dict[tuple, tuple] = {}
        self.lblock = [3] * n
        self.coeffs = None  # decoder: np array filled per block
        self.step = None  # scalar quantization step (None: reversible)
        # decoder: block index -> [missing-planes p, total passes,
        # list of codeword chunks] accumulated across quality layers
        self.contrib: dict[int, list] = {}

    def precinct_block_range(self, px: int, py: int) -> tuple:
        """Relative block-index ranges (bx_lo, bx_hi, by_lo, by_hi)
        of the blocks inside precinct (px, py) -- possibly empty."""
        if not self.ncx or not self.ncy:
            return 0, 0, 0, 0
        x_lo = (self.px0 + px) << self.ppx
        x_hi = (self.px0 + px + 1) << self.ppx
        y_lo = (self.py0 + py) << self.ppy
        y_hi = (self.py0 + py + 1) << self.ppy
        bx_lo = max(0, x_lo // self.cbw - self.mx0)
        bx_hi = min(self.ncx, -(-x_hi // self.cbw) - self.mx0)
        by_lo = max(0, y_lo // self.cbh - self.my0)
        by_hi = min(self.ncy, -(-y_hi // self.cbh) - self.my0)
        return bx_lo, max(bx_lo, bx_hi), by_lo, max(by_lo, by_hi)

    def block_precinct(self, bx: int, by: int) -> tuple:
        """(precinct index, px, py, local bx, local by) of relative
        block (bx, by); blocks nest exactly inside precincts."""
        ax = (self.mx0 + bx) * self.cbw
        ay = (self.my0 + by) * self.cbh
        px = (ax >> self.ppx) - self.px0
        py = (ay >> self.ppy) - self.py0
        bx_lo, _, by_lo, _ = self.precinct_block_range(px, py)
        return (
            py * max(1, self.pcx) + px, px, py, bx - bx_lo, by - by_lo,
        )

    def precinct_trees(self, px: int, py: int) -> tuple:
        """(inclusion, msb) tag trees over precinct (px, py)'s block
        sub-grid, created on first use; tree coordinates are LOCAL
        (bx - bx_lo, by - by_lo)."""
        key = (px, py)
        trees = self._trees.get(key)
        if trees is None:
            bx_lo, bx_hi, by_lo, by_hi = self.precinct_block_range(
                px, py
            )
            tw = max(1, bx_hi - bx_lo)
            th = max(1, by_hi - by_lo)
            trees = (TagTree(tw, th), TagTree(tw, th))
            self._trees[key] = trees
        return trees

    def block_rect(self, bx: int, by: int) -> tuple[int, int, int, int]:
        """(y0, x0, h, w) of code-block (bx, by) in band-LOCAL
        coordinates, from the canvas-anchored partition."""
        x_lo = max(self.ox, (self.mx0 + bx) * self.cbw)
        x_hi = min(self.ox + self.w, (self.mx0 + bx + 1) * self.cbw)
        y_lo = max(self.oy, (self.my0 + by) * self.cbh)
        y_hi = min(self.oy + self.h, (self.my0 + by + 1) * self.cbh)
        return y_lo - self.oy, x_lo - self.ox, y_hi - y_lo, x_hi - x_lo


def _build_bands(
    h: int,
    w: int,
    levels: int,
    cbw: int,
    cbh: int,
    depth: int,
    x0: int = 0,
    y0: int = 0,
    precincts: "list[tuple[int, int]] | None" = None,
    rate: tuple = (1, 1),
    tile_origin: "tuple | None" = None,
) -> list[list[_Band]]:
    """Per-resolution band lists for one component. Resolution 0 is
    the LL_n band; resolution r >= 1 holds HL/LH/HH of level
    n - r + 1. Mb = guard + exponent - 1 with the encoder's
    reversible no-quantization exponents (depth + 2 + gain — the +2
    headroom covers RCT range growth and 5/3 low-pass expansion).

    ``(x0, y0)`` is the tile-component origin on its COMPONENT grid
    (any value — band origins follow the exact T.800 B-15 ceil
    formulas, lane parity included, so misaligned tile grids and
    image/tile offsets work); ``rate`` is the component's (XRsiz,
    YRsiz), used only to place precincts on the reference grid for
    the position-ordered progressions. ``tile_origin`` is the tile's
    upper-left on the REFERENCE grid (tx0, ty0): per T.800 B.12 a
    PARTIAL first precinct (resolution origin off the precinct grid)
    triggers the position loops at the tile origin itself, not at the
    component's clamped origin scaled up; default assumes the
    component origin sits on the rate grid."""
    if tile_origin is None:
        tile_origin = (x0 * rate[0], y0 * rate[1])
    (llh, llw), per_level = subband_dims(h, w, levels, x0, y0)
    if precincts is not None and len(precincts) != levels + 1:
        raise J2kParseError(
            f"{len(precincts)} precinct sizes for {levels + 1} "
            "resolutions"
        )

    # per-level lane origins: s (ceil) carries on; d (floor) anchors
    # the detail bands of that level (T.800 B-15 with the band
    # offsets folded into the recursion)
    sx, sy = x0, y0
    lane = []  # index l-1 -> (sx_l, sy_l, dx_l, dy_l) after level l
    for _ in range(levels):
        lane.append((-(-sx // 2), -(-sy // 2), sx // 2, sy // 2))
        sx, sy = -(-sx // 2), -(-sy // 2)

    def _res_pgrid(r: int) -> tuple:
        """(pcx, pcy, ppx_band, ppy_band, rx0, ry0, ppx_res,
        ppy_res) for resolution r: counts from RESOLUTION
        coordinates (B.9 — shared by the resolution's bands),
        exponents shifted into band coordinates (PPx - 1 for r > 0,
        the dyadic halving); the raw resolution-grid origin and
        exponents ride along for exact B.12 position ordering."""
        if precincts is None:
            ppx = ppy = 15
        else:
            ppx, ppy = precincts[r]
        k = levels - r
        rx0, ry0 = -(-x0 >> k), -(-y0 >> k)
        rw = ((-(-(x0 + w) >> k)) - rx0) if w else 0
        rh = ((-(-(y0 + h) >> k)) - ry0) if h else 0
        pcx = ((-(-(rx0 + rw) >> ppx)) - (rx0 >> ppx)) if rw else 0
        pcy = ((-(-(ry0 + rh) >> ppy)) - (ry0 >> ppy)) if rh else 0
        ppx_b, ppy_b = ppx, ppy
        if r:
            ppx_b, ppy_b = max(0, ppx - 1), max(0, ppy - 1)
        return max(pcx, 1), max(pcy, 1), ppx_b, ppy_b, rx0, ry0, ppx, ppy

    def mk(btype, bh, bw, lvl, pg, ox, oy):
        eps = depth + 2 + _BAND_GAIN[btype]
        pcx, pcy, ppx, ppy, rx0, ry0, ppx_r, ppy_r = pg
        band = _Band(
            btype,
            bh,
            bw,
            cbw,
            cbh,
            _GUARD_BITS + eps - 1,
            ox=ox,
            oy=oy,
            ppx=ppx,
            ppy=ppy,
            pcx=pcx,
            pcy=pcy,
        )
        band.lvl = lvl
        # exact B.12 position ordering: the precinct's upper-left on
        # the REFERENCE grid is max(trx0, precinct-grid point) scaled
        # by 2^(levels-r) and the component rate
        band.res_x0, band.res_y0 = rx0, ry0
        band.res_ppx, band.res_ppy = ppx_r, ppy_r
        k = lvl if btype == "LL" else lvl - 1
        band.pos_sx = rate[0] << k
        band.pos_sy = rate[1] << k
        band.tile_rx0, band.tile_ry0 = tile_origin
        return band

    g0 = _res_pgrid(0)
    out = [[mk("LL", llh, llw, levels, g0, sx, sy)]]
    # per_level[0] is the coarsest detail level (= levels), matching
    # resolution 1; level drops as resolution rises
    for i, (hl, lh, hh) in enumerate(per_level):
        lvl = levels - i
        pg = _res_pgrid(levels - lvl + 1)
        sx_l, sy_l, dx_l, dy_l = lane[lvl - 1]
        out.append(
            [
                mk("HL", hl[0], hl[1], lvl, pg, dx_l, sy_l),
                mk("LH", lh[0], lh[1], lvl, pg, sx_l, dy_l),
                mk("HH", hh[0], hh[1], lvl, pg, dx_l, dy_l),
            ]
        )
    return out


def _pgrid_pos(comps):
    """(pgrid, pos) closures over per-component band lists: packet
    count and canvas position of a (component, resolution) pair's
    precincts. Without ``comps`` everything degenerates to one
    precinct at the origin."""

    def pgrid(c, r):
        if comps is None:
            return 1
        b = comps[c][r][0]
        return max(1, b.pcx * b.pcy)

    def pos(c, r, p):
        """Reference-grid (y, x) where precinct p TRIGGERS the T.800
        B.12 position loops: a full precinct at its grid corner
        (resolution coordinates scaled by 2^(N-r) and the component's
        sampling rate), a PARTIAL first precinct — the resolution
        origin off the precinct grid — at the TILE reference origin
        per-axis (the ``x == tx0`` / ``y == ty0`` arm of the position
        test; OpenJPEG pi.c applies the same rule)."""
        if comps is None:
            return (0, 0)
        b = comps[c][r][0]
        py, px = divmod(p, max(1, b.pcx))
        gx = ((b.res_x0 >> b.res_ppx) + px) << b.res_ppx
        gy = ((b.res_y0 >> b.res_ppy) + py) << b.res_ppy
        x = b.tile_rx0 if gx < b.res_x0 else gx * b.pos_sx
        y = b.tile_ry0 if gy < b.res_y0 else gy * b.pos_sy
        return (y, x)

    return pgrid, pos


def _prog_key(prog: int, pos):
    """Sort key over (l, r, c, p) quads for one of the five T.800
    B.12 progressions; None means the natural l, r, c, p-raster
    generation order (LRCP) already matches."""
    if prog == 0:  # LRCP
        return None  # generation order IS l, r, c, p-raster
    if prog == 1:  # RLCP
        return lambda q: (q[1], q[0], q[2], q[3])
    if prog == 2:  # RPCL
        return lambda q: (q[1], pos(q[2], q[1], q[3]), q[2], q[0])
    if prog == 3:  # PCRL
        return lambda q: (pos(q[2], q[1], q[3]), q[2], q[1], q[0])
    if prog == 4:  # CPRL
        return lambda q: (q[2], pos(q[2], q[1], q[3]), q[1], q[0])
    raise J2kUnsupported(f"progression order {prog} is not supported")


def _packet_sequence(
    prog: int, nres, ncomp: int, nlayers: int = 1, comps=None,
):
    """(layer, resolution, component, precinct) visit order -- one
    packet per element. ``nres`` may be a single resolution count or
    one per component (the COC case): a packet exists only while
    r < nres[c], exactly T.800 B.12's rule that resolution loops skip
    components with fewer decomposition levels.

    Without ``comps`` (band lists per component) every resolution has
    one precinct and the five T.800 progressions collapse to their
    layer/resolution/component loop nests. With ``comps``, precincts
    iterate in raster order within (c, r) for LRCP/RLCP, and the
    position-dependent progressions (RPCL/PCRL/CPRL) order precincts
    by their canvas top-left (clamped to the tile origin), per the
    B.12 position loops."""
    nres_c = [nres] * ncomp if isinstance(nres, int) else list(nres)
    nmax = max(nres_c)
    pgrid, pos = _pgrid_pos(comps)
    quads = [
        (l, r, c, p)
        for l in range(nlayers)
        for r in range(nmax)
        for c in range(ncomp)
        if r < nres_c[c]
        for p in range(pgrid(c, r))
    ]
    key = _prog_key(prog, pos)
    return quads if key is None else sorted(quads, key=key)


def _poc_sequence(entries, nres_c, ncomp: int, nlayers: int,
                  comps=None):
    """Packet order under progression-order changes (POC, T.800
    A.6.6): each entry contributes its progression's (layer,
    resolution, component, precinct) nest over [RSpoc, REpoc) x
    [CSpoc, CEpoc) x [0, LYEpoc) x the precinct grids, skipping
    packets an earlier entry already emitted (the standard
    continuation rule). Precinct geometry comes from ``comps`` (as in
    :func:`_packet_sequence`); the caller checks coverage."""
    pgrid, pos = _pgrid_pos(comps)
    seen: set = set()
    out: list = []
    for (rs, cs, lye, re_, ce, pp) in entries:
        re_ = min(re_, max(nres_c))
        ce = min(ce, ncomp)
        lye = min(lye, nlayers)
        if rs >= re_ or cs >= ce or lye <= 0:
            continue
        if pp > 4:
            raise J2kUnsupported(f"POC progression {pp}")
        quads = [
            (l, r, c, p)
            for l in range(lye)
            for r in range(rs, re_)
            for c in range(cs, ce)
            if r < nres_c[c]
            for p in range(pgrid(c, r))
        ]
        key = _prog_key(pp, pos)
        if key is not None:
            quads.sort(key=key)
        for q in quads:
            if q in seen:
                continue
            seen.add(q)
            out.append(q)
    return out


# ------------------------------------------------------------ encoder


def _poc_marker(poc: list) -> bytes:
    """POC marker segment bytes from (RSpoc, CSpoc, LYEpoc, REpoc,
    CEpoc, Ppoc) 6-tuples — shared by the main header and tile-header
    emission paths."""
    for e in poc:
        if len(e) != 6:
            raise J2kParseError("poc entries are 6-tuples")
    body = b""
    for rs, cs, lye, re_, ce, pp in poc:
        body += struct.pack(
            ">BBHBBB", rs, cs, lye, re_, ce if ce < 256 else 0, pp
        )
    return struct.pack(">HH", POC, 2 + len(body)) + body


def _validate_precincts(plist: list, levels: int) -> None:
    """Shared precinct-list validation for COD/COC/tile-COD emission:
    one (PPx, PPy) exponent pair per resolution, 0..15, nonzero above
    resolution 0 (band coordinates halve there, T.800 B.9)."""
    if len(plist) != levels + 1:
        raise J2kParseError(
            f"{len(plist)} precinct sizes for {levels + 1} resolutions"
        )
    for r, (ppx, ppy) in enumerate(plist):
        if not (0 <= ppx <= 15 and 0 <= ppy <= 15):
            raise J2kParseError("precinct exponent out of range")
        if r and (ppx < 1 or ppy < 1):
            raise J2kParseError(f"precinct exponent 0 at resolution {r}")


def _tile_rects(
    xsiz: int, ysiz: int, xt: int, yt: int,
    xo: int = 0, yo: int = 0, xto: int = 0, yto: int = 0,
):
    """Raster-order tile rectangles (x0, y0, x1, y1) of the XTsiz x
    YTsiz grid anchored at (XTOsiz, YTOsiz) and clipped to the image
    area [XOsiz, Xsiz) x [YOsiz, Ysiz) (T.800 B.3); tile t sits at
    (t % ntx, t // ntx)."""
    ntx, nty = -(-(xsiz - xto) // xt), -(-(ysiz - yto) // yt)
    rects = []
    for tj in range(nty):
        for ti in range(ntx):
            rects.append(
                (
                    max(xto + ti * xt, xo),
                    max(yto + tj * yt, yo),
                    min(xto + (ti + 1) * xt, xsiz),
                    min(yto + (tj + 1) * yt, ysiz),
                )
            )
    return rects


def encode_j2k(
    img: np.ndarray,
    levels: int = 2,
    cb: tuple[int, int] = (64, 64),
    mct: bool | None = None,
    prog: int = 0,
    tile: tuple[int, int] | None = None,
    tile_parts: int = 1,
    layers: int = 1,
    lossy: bool = False,
    quant: int = 2,
    packed_headers: str | None = None,
    qcc_eps_delta: "dict[int, int] | None" = None,
    roi: tuple[int, int, int, int] | None = None,
    roi_shift: int = 0,
    coc: "dict[int, dict] | None" = None,
    subsampling: "dict[int, tuple] | None" = None,
    poc: list | None = None,
    tile_overrides: "dict[int, dict] | None" = None,
    termall: bool = False,
    bypass: bool = False,
    reset: bool = False,
    vsc: bool = False,
    segsym: bool = False,
    precincts: list | None = None,
    offsets: tuple | None = None,
) -> bytes:
    """(h, w[, nc]) uint8/uint16 -> lossless (5/3) codestream.
    ``offsets=(XOsiz, YOsiz, XTOsiz, YTOsiz)`` anchors the image area
    at (XOsiz, YOsiz) on the reference grid (Xsiz = XOsiz + w) with
    the tile grid at (XTOsiz, YTOsiz) — the T.800 B.3/B.4 geometry
    real crops and scanner mosaics use.
    ``tile=(xt, yt)`` splits the image into an XTsiz x YTsiz grid of
    independently coded tiles (the layout real scanner JP2s use);
    default is one tile covering the image. ``tile_parts`` splits
    each tile's packet stream across that many SOT segments at packet
    boundaries (T.800 A.4.2 — how Kakadu/OpenJPEG emit per-resolution
    tile-parts), capped at the packet count. ``layers`` emits that
    many quality layers (blocks assigned round-robin, each fully in
    its first-inclusion packet). ``lossy=True`` emits the 9/7
    irreversible transform with scalar quantization at fine steps —
    near-lossless, for exercising the dequantization decode path;
    ``quant`` picks the QCD style: 2 = expounded per-band (eps, mu)
    pairs, 1 = a single derived pair (T.800 E-5). The fixture/roundtrip
    writer dual of :func:`decode_j2k`; output is spec-shaped
    (markers, tag trees, MQ codewords), so any conforming decoder
    reads it. ``packed_headers`` moves every packet header out of the
    bitstream body: ``"ppt"`` into per-tile-part PPT marker segments
    (T.800 A.7.5), ``"ppm"`` into one main-header PPM segment with
    per-tile-part Nppm-framed chunks (A.7.4) — the layouts document
    scanners and Kakadu emit."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, nc = img.shape
    if img.dtype == np.uint8:
        depth, signed = 8, False
    elif img.dtype == np.uint16:
        depth, signed = 16, False
    elif img.dtype == np.int8:
        depth, signed = 8, True
    elif img.dtype == np.int16:
        depth, signed = 16, True
    else:
        raise J2kParseError(
            "uint8/uint16 (unsigned) or int8/int16 (signed) only"
        )
    cbw, cbh = cb
    if cbw < 4 or cbh < 4 or cbw * cbh > 4096 or cbw & (cbw - 1) or cbh & (cbh - 1):
        raise J2kParseError(f"invalid code-block size {cb}")
    if mct is None:
        mct = nc == 3
    if mct and nc != 3:
        raise J2kParseError("MCT needs exactly 3 components")
    xo, yo, xto, yto = offsets if offsets else (0, 0, 0, 0)
    if not (0 <= xto <= xo and 0 <= yto <= yo):
        raise J2kParseError(
            "offsets need 0 <= XTOsiz <= XOsiz (and likewise for Y)"
        )
    xsiz, ysiz = xo + w, yo + h
    xt, yt = tile if tile else (xsiz - xto, ysiz - yto)
    if xt < 1 or yt < 1:
        raise J2kParseError(f"invalid tile size {tile}")
    if xto + xt <= xo or yto + yt <= yo:
        raise J2kParseError("first tile does not overlap the image area")
    if offsets and roi_shift:
        raise J2kParseError(
            "roi requires zero offsets (its rect maps by plain shifts)"
        )
    if tile_parts < 1:
        raise J2kParseError(f"tile_parts must be >= 1, not {tile_parts}")
    if packed_headers not in (None, "ppt", "ppm"):
        raise J2kParseError("packed_headers must be None, 'ppt', or 'ppm'")
    if not 1 <= layers <= 65535:
        raise J2kParseError(f"layers must be 1..65535, not {layers}")
    if quant not in (1, 2):
        raise J2kParseError(f"quant style must be 1 or 2, not {quant}")
    xr_c = [1] * nc
    yr_c = [1] * nc
    if subsampling:
        if roi_shift:
            raise J2kParseError("subsampling and ROI do not compose here")
        for ci, (sxr, syr) in subsampling.items():
            if not 0 <= ci < nc:
                raise J2kParseError(
                    f"subsampling names component {ci} of {nc}"
                )
            if not (1 <= sxr <= 255 and 1 <= syr <= 255):
                raise J2kParseError(f"subsampling rate {sxr}x{syr}")
            xr_c[ci], yr_c[ci] = sxr, syr
        if mct and len({(xr_c[i], yr_c[i]) for i in range(3)}) > 1:
            raise J2kParseError(
                "MCT needs identical sampling on components 0-2"
            )
    # per-component coding overrides -> COC (+ matching style-0 QCC).
    # A COC overrides the COD in full for its component (T.800
    # A.6.2), so a coc'd component's precincts come from its own
    # optional "precincts" list (absent = maximal), never the COD's.
    levels_c = [levels] * nc
    cbw_c = [cbw] * nc
    cbh_c = [cbh] * nc
    prec_c: list = [precincts] * nc
    if coc:
        if lossy:
            raise J2kParseError("coc overrides support lossless only")
        for ci, over in coc.items():
            if not 0 <= ci < nc:
                raise J2kParseError(f"coc names component {ci} of {nc}")
            bad = set(over) - {"levels", "cb", "precincts"}
            if bad:
                raise J2kParseError(f"unknown coc override keys {bad}")
            levels_c[ci] = over.get("levels", levels)
            ow, oh = over.get("cb", (cbw_c[ci], cbh_c[ci]))
            if (
                ow < 4 or oh < 4 or ow * oh > 4096
                or ow & (ow - 1) or oh & (oh - 1)
            ):
                raise J2kParseError(f"invalid COC code-block size {over}")
            cbw_c[ci], cbh_c[ci] = ow, oh
            prec_c[ci] = over.get("precincts")
            if prec_c[ci] is not None:
                _validate_precincts(prec_c[ci], levels_c[ci])
    if (termall or bypass or reset or vsc or segsym) and (
        coc or tile_overrides
    ):
        raise J2kParseError(
            "code-block style modes compose with uniform style only"
        )
    if precincts is not None:
        _validate_precincts(precincts, levels)
    if tile_overrides:
        if lossy or subsampling or coc or packed_headers:
            raise J2kParseError(
                "tile_overrides compose with the plain lossless path "
                "only"
            )
        for isot, over in tile_overrides.items():
            bad = set(over) - {"levels", "cb", "layers", "prog",
                               "precincts", "poc"}
            if bad:
                raise J2kParseError(f"unknown tile override keys {bad}")
            if over.get("precincts") is not None:
                _validate_precincts(
                    over["precincts"], over.get("levels", levels)
                )
    if subsampling and tile_overrides and (xt < w or yt < h):
        raise J2kParseError(
            "subsampling + per-tile overrides is out of scope"
        )
    if roi_shift and (
        (xt < w and xt % (1 << levels)) or (yt < h and yt % (1 << levels))
    ):
        # the encoder maps the ROI rect into band grids by plain
        # shifts, which is exact only on 2^levels-aligned tile origins
        raise J2kParseError(
            "roi requires a 2^levels-aligned tile grid"
        )

    # one (eps per band) table drives BOTH the QCD header and every
    # tile's quantizer — a single source of truth (mu is always 0)
    band_order = ["LL"] + ["HL", "LH", "HH"] * levels
    lossy_eps = None
    if lossy and quant == 2:
        # expounded: eps_b = Rb + 3 -> step 2^-3
        lossy_eps = [depth + _BAND_GAIN[bt] + 3 for bt in band_order]
    elif lossy:
        # derived: single eps0; eps_b = eps0 - r + 1 (T.800 E-5)
        eps0 = depth + levels + 5
        if eps0 > 31:
            raise J2kParseError(
                f"derived eps0 {eps0} exceeds 31 (reduce levels)"
            )
        lossy_eps = [eps0]
        for r in range(1, levels + 1):
            lossy_eps += [eps0 - r + 1] * 3

    if (roi is None) != (roi_shift == 0):
        raise J2kParseError("roi and roi_shift must be given together")
    if roi_shift and not 1 <= roi_shift <= 37:
        raise J2kParseError(f"roi_shift {roi_shift} out of 1..37")

    eps_tabs = None
    if qcc_eps_delta:
        # per-component quantization overrides -> QCC markers; the
        # expounded table is the only style where per-band deltas
        # stay expressible
        if not (lossy and quant == 2):
            raise J2kParseError(
                "qcc_eps_delta needs lossy=True, quant=2"
            )
        if any(not 0 <= c < nc for c in qcc_eps_delta):
            raise J2kParseError("qcc_eps_delta names a missing component")
        eps_tabs = [
            [e + qcc_eps_delta.get(ci, 0) for e in lossy_eps]
            for ci in range(nc)
        ]
        if any(not 0 < e <= 31 for tab in eps_tabs for e in tab):
            raise J2kParseError("qcc_eps_delta drives eps out of 1..31")

    # signed components carry no DC level shift (T.800 B.1 — they are
    # already centered on zero); unsigned ones shift by 2^(depth-1)
    dc = 0 if signed else 1 << (depth - 1)
    if lossy:
        planes = [
            img[:, :, c].astype(np.float64) - dc for c in range(nc)
        ]
        if mct:  # irreversible color transform (BT.601 floats)
            r, g, b = planes
            planes = [
                0.299 * r + 0.587 * g + 0.114 * b,
                -0.168736 * r - 0.331264 * g + 0.5 * b,
                0.5 * r - 0.418688 * g - 0.081312 * b,
            ]
    else:
        planes = [
            img[:, :, c].astype(np.int64) - dc for c in range(nc)
        ]
        if mct:
            # RCT is pointwise, so applying it before the tile split
            # is identical to the spec's per-tile-component transform
            r, g, b = planes
            planes = [(r + 2 * g + b) >> 2, b - g, r - g]

    if subsampling:
        # the component grid anchors at reference-grid 0: sample j
        # sits at canvas j*rate, so the first in-image sample is
        # ceil(XOsiz/rate), at image-array column ceil(.)*rate - XOsiz
        planes = [
            planes[ci][
                (-(-yo // yr_c[ci])) * yr_c[ci] - yo :: yr_c[ci],
                (-(-xo // xr_c[ci])) * xr_c[ci] - xo :: xr_c[ci],
            ]
            for ci in range(nc)
        ]
    comp_orig = [
        (-(-yo // yr_c[ci]), -(-xo // xr_c[ci])) for ci in range(nc)
    ]
    tiles = []
    tile_cfg: dict[int, tuple] = {}
    for isot, (x0, y0, x1, y1) in enumerate(
        _tile_rects(xsiz, ysiz, xt, yt, xo, yo, xto, yto)
    ):
        over = (tile_overrides or {}).get(isot, {})
        lv_t = over.get("levels", levels)
        cw_t, ch_t = over.get("cb", (cbw, cbh))
        layers_t = over.get("layers", layers)
        prog_t = over.get("prog", prog)
        prec_t = over.get("precincts")
        poc_t = over.get("poc")
        # "poc" alone adds a tile-header POC marker without replacing
        # the tile's coding style (no tile COD is written for it)
        cod_over = bool(
            set(over) & {"levels", "cb", "layers", "prog", "precincts"}
        )
        tile_cfg[isot] = (
            lv_t, cw_t, ch_t, layers_t, prog_t, cod_over, prec_t, poc_t
        )
        tile_roi = None
        if roi is not None:
            ry0, ry1, rx0, rx1 = roi
            iy0, iy1 = max(ry0, y0), min(ry1, y1)
            ix0, ix1 = max(rx0, x0), min(rx1, x1)
            if iy0 < iy1 and ix0 < ix1:
                tile_roi = (iy0 - y0, iy1 - y0, ix0 - x0, ix1 - x0)
        if subsampling:
            # component sample j covers canvas j*rate: the tile holds
            # j in [ceil(x0/rate), ceil(x1/rate)) (T.800 B.5's tcx0);
            # plane arrays are the component IMAGE REGION, so indexing
            # subtracts the region origin
            tps = [
                planes[ci][
                    -(-y0 // yr_c[ci]) - comp_orig[ci][0]
                    : -(-y1 // yr_c[ci]) - comp_orig[ci][0],
                    -(-x0 // xr_c[ci]) - comp_orig[ci][1]
                    : -(-x1 // xr_c[ci]) - comp_orig[ci][1],
                ]
                for ci in range(nc)
            ]
            ax = [-(-x0 // xr_c[ci]) for ci in range(nc)]
            ay = [-(-y0 // yr_c[ci]) for ci in range(nc)]
        else:
            tps = [p[y0 - yo : y1 - yo, x0 - xo : x1 - xo] for p in planes]
            ax, ay = x0, y0
        lvs = [lv_t] * nc if cod_over else levels_c
        cws = [cw_t] * nc if cod_over else cbw_c
        chs = [ch_t] * nc if cod_over else cbh_c
        # tile COD (when present) replaces the main coding style in
        # full, precincts included (absent key = maximal)
        precs = [prec_t] * nc if cod_over else prec_c
        tiles.append(
            _encode_tile(
                tps,
                [p.shape[0] for p in tps],
                [p.shape[1] for p in tps],
                nc,
                lvs,
                cws,
                chs,
                depth,
                prog_t,
                ax,
                ay,
                layers_t,
                eps_tabs if eps_tabs is not None else lossy_eps,
                roi=tile_roi,
                roi_shift=roi_shift,
                poc=poc,
                termall=termall,
                bypass=bypass,
                reset=reset,
                vsc=vsc,
                segsym=segsym,
                precincts=precs,
                rates=[(xr_c[ci], yr_c[ci]) for ci in range(nc)],
                poc_override=poc_t,
                tile_origin=(x0, y0),
            )
        )

    # main header
    out = bytearray()
    out += struct.pack(">H", SOC)
    siz = struct.pack(
        ">HHIIIIIIIIH",
        38 + 3 * nc, 0, xsiz, ysiz, xo, yo, xt, yt, xto, yto, nc,
    )
    for ci in range(nc):
        ssiz = (depth - 1) | (0x80 if signed else 0)
        siz += struct.pack(">BBB", ssiz, xr_c[ci], yr_c[ci])
    out += struct.pack(">H", SIZ) + siz
    spcod = struct.pack(
        ">BBBBB",
        levels,
        (cbw.bit_length() - 1) - 2,
        (cbh.bit_length() - 1) - 2,
        (0x04 if termall else 0)
        | (0x01 if bypass else 0)
        | (0x02 if reset else 0)
        | (0x08 if vsc else 0)
        | (0x20 if segsym else 0),  # code-block style bits
        0 if lossy else 1,  # transformation: 9/7 or 5/3
    )
    if precincts is not None:
        spcod += bytes((ppy << 4) | ppx for ppx, ppy in precincts)
    cod = struct.pack(
        ">HBBHB",
        12 + (len(precincts) if precincts is not None else 0),
        0x01 if precincts is not None else 0,
        prog,
        layers,
        1 if mct else 0,
    ) + spcod
    out += struct.pack(">H", COD) + cod
    if coc:
        for ci in sorted(coc):
            spcoc = struct.pack(
                ">BBBBB",
                levels_c[ci],
                (cbw_c[ci].bit_length() - 1) - 2,
                (cbh_c[ci].bit_length() - 1) - 2,
                0,
                0 if lossy else 1,
            )
            pbytes = b""
            if prec_c[ci] is not None:
                pbytes = bytes(
                    (ppy << 4) | ppx for ppx, ppy in prec_c[ci]
                )
            out += (
                struct.pack(">H", COC)
                + struct.pack(">H", 2 + 1 + 1 + 5 + len(pbytes))
                + bytes([ci, 0x01 if pbytes else 0])  # Ccoc, Scoc
                + spcoc
                + pbytes
            )
    if poc:
        out += _poc_marker(poc)
    nres = levels + 1
    n_bands = 3 * levels + 1
    if lossy and quant == 2:
        # scalar expounded (style 2): per-band words from lossy_eps
        sqcd = bytes([(_GUARD_BITS << 5) | 2])
        spqcd = b"".join(
            struct.pack(">H", eps << 11) for eps in lossy_eps
        )
        out += (
            struct.pack(">H", QCD)
            + struct.pack(">H", 3 + 2 * n_bands)
            + sqcd
            + spqcd
        )
        if qcc_eps_delta:
            for ci in sorted(qcc_eps_delta):
                spqcc = b"".join(
                    struct.pack(">H", eps << 11) for eps in eps_tabs[ci]
                )
                out += (
                    struct.pack(">H", QCC)
                    + struct.pack(">H", 4 + 2 * n_bands)
                    + bytes([ci])
                    + sqcd
                    + spqcc
                )
    elif lossy:
        # scalar derived (style 1): the single eps0 from lossy_eps
        sqcd = bytes([(_GUARD_BITS << 5) | 1])
        out += (
            struct.pack(">H", QCD)
            + struct.pack(">H", 5)
            + sqcd
            + struct.pack(">H", lossy_eps[0] << 11)
        )
    else:
        sqcd = bytes([(_GUARD_BITS << 5) | 0])  # style 0: no quantization
        exps = [depth + 2 + _BAND_GAIN["LL"]]
        for r in range(1, nres):
            for btype in ("HL", "LH", "HH"):
                exps.append(depth + 2 + _BAND_GAIN[btype])
        spqcd = bytes(e << 3 for e in exps)
        out += (
            struct.pack(">H", QCD)
            + struct.pack(">H", 3 + n_bands)
            + sqcd
            + spqcd
        )
        if coc:
            for ci in sorted(coc):
                exps_ci = [depth + 2 + _BAND_GAIN["LL"]]
                for r in range(1, levels_c[ci] + 1):
                    for btype in ("HL", "LH", "HH"):
                        exps_ci.append(depth + 2 + _BAND_GAIN[btype])
                out += (
                    struct.pack(">H", QCC)
                    + struct.pack(">H", 4 + len(exps_ci))
                    + bytes([ci])
                    + sqcd
                    + bytes(e << 3 for e in exps_ci)
                )
    if roi_shift:
        for ci in range(nc):
            out += struct.pack(">HH", RGN, 5) + bytes([ci, 0, roi_shift])
    tile_bytes = bytearray()
    ppm_stream = bytearray()
    for isot, packets in enumerate(tiles):
        (
            lv_t, cw_t, ch_t, layers_t, prog_t, has_over, prec_t,
            poc_t,
        ) = tile_cfg[isot]
        over_markers = b""
        if poc_t:
            over_markers += _poc_marker(poc_t)
        if has_over:
            spcod_t = struct.pack(
                ">BBBBB",
                lv_t,
                (cw_t.bit_length() - 1) - 2,
                (ch_t.bit_length() - 1) - 2,
                0,
                1,  # lossless only (validated above)
            )
            pbytes_t = b""
            if prec_t is not None:
                pbytes_t = bytes(
                    (ppy << 4) | ppx for ppx, ppy in prec_t
                )
            over_markers += (
                struct.pack(">H", COD)
                + struct.pack(
                    ">HBBHB",
                    12 + len(pbytes_t),
                    0x01 if pbytes_t else 0,
                    prog_t,
                    layers_t,
                    1 if mct else 0,
                )
                + spcod_t
                + pbytes_t
            )
            exps_t = [depth + 2 + _BAND_GAIN["LL"]]
            for r in range(1, lv_t + 1):
                for btype in ("HL", "LH", "HH"):
                    exps_t.append(depth + 2 + _BAND_GAIN[btype])
            over_markers += (
                struct.pack(">H", QCD)
                + struct.pack(">H", 3 + len(exps_t))
                + bytes([(_GUARD_BITS << 5) | 0])
                + bytes(e << 3 for e in exps_t)
            )
        nparts = max(1, min(tile_parts, len(packets)))
        per = -(-len(packets) // nparts) if packets else 0
        groups = (
            [packets[i : i + per] for i in range(0, len(packets), per)]
            if packets
            else [[]]
        )
        for tpsot, group in enumerate(groups):
            if packed_headers is None:
                hdr_markers = over_markers if tpsot == 0 else b""
                body = b"".join(h + b for h, b in group)
            else:
                packed = b"".join(h for h, _ in group)
                body = b"".join(b for _, b in group)
                if packed_headers == "ppt":
                    hdr_markers = (
                        struct.pack(">HH", PPT, 3 + len(packed))
                        + b"\x00"  # Zppt
                        + packed
                    )
                else:  # ppm: Nppm-framed chunk per tile-part
                    hdr_markers = b""
                    ppm_stream += struct.pack(">I", len(packed)) + packed
            psot = 12 + len(hdr_markers) + 2 + len(body)
            tile_bytes += struct.pack(">H", SOT) + struct.pack(
                ">HHIBB", 10, isot, psot, tpsot, len(groups)
            )
            tile_bytes += hdr_markers
            tile_bytes += struct.pack(">H", SOD)
            tile_bytes += body
    if packed_headers == "ppm":
        # single PPM segment (Zppm 0); 64 KiB marker limit is plenty
        # for fixture streams — gate rather than mis-frame
        if len(ppm_stream) + 3 > 0xFFFF:
            raise J2kParseError("PPM stream exceeds one marker segment")
        out += (
            struct.pack(">HH", PPM, 3 + len(ppm_stream))
            + b"\x00"
            + ppm_stream
        )
    out += tile_bytes
    out += struct.pack(">H", EOC)
    return bytes(out)


def _encode_tile(
    planes: list,
    h,
    w,
    nc: int,
    levels_c: "list | int",
    cbw_c: "list | int",
    cbh_c: "list | int",
    depth: int,
    prog: int,
    x0=0,
    y0=0,
    nlayers: int = 1,
    lossy_eps: list | None = None,
    roi: tuple[int, int, int, int] | None = None,
    roi_shift: int = 0,
    poc: list | None = None,
    termall: bool = False,
    bypass: bool = False,
    reset: bool = False,
    vsc: bool = False,
    segsym: bool = False,
    precincts: list | None = None,
    rates: list | None = None,
    poc_override: list | None = None,
    tile_origin: "tuple | None" = None,
) -> list[bytes]:
    """Tier-1 + Tier-2 encode one tile's (already level-shifted /
    MCT'd) component planes into its packet stream, returned one
    bytes object PER PACKET so the caller can split tile-parts at
    packet boundaries. ``(x0, y0)`` is the tile's canvas origin
    (anchors the code-block partition). With ``nlayers > 1`` blocks
    are assigned round-robin to quality layers, each carrying all of
    its passes in its first-inclusion packet — a spec-shaped layered
    stream that exercises per-layer inclusion coding. ``lossy_eps``
    (the per-band exponent table encode_j2k also writes into QCD —
    one source of truth) switches to the 9/7 transform and
    quantizes each band by 2^(Rb - eps)."""
    lossy = lossy_eps is not None
    h_c = [h] * nc if isinstance(h, int) else list(h)
    w_c = [w] * nc if isinstance(w, int) else list(w)
    x0_c = [x0] * nc if isinstance(x0, int) else list(x0)
    y0_c = [y0] * nc if isinstance(y0, int) else list(y0)
    if isinstance(levels_c, int):
        levels_c = [levels_c] * nc
    if isinstance(cbw_c, int):
        cbw_c = [cbw_c] * nc
    if isinstance(cbh_c, int):
        cbh_c = [cbh_c] * nc
    if precincts is None:
        prec_c = [None] * nc
    elif precincts and isinstance(precincts[0], tuple):
        prec_c = [precincts] * nc
    else:
        prec_c = list(precincts)
    comps = []
    for ci, plane in enumerate(planes):
        pyr = (dwt_forward97 if lossy else dwt_forward)(
            plane, levels_c[ci], x0_c[ci], y0_c[ci]
        )
        bands = _build_bands(
            h_c[ci], w_c[ci], levels_c[ci], cbw_c[ci], cbh_c[ci],
            depth, x0_c[ci], y0_c[ci], precincts=prec_c[ci],
            rate=(rates[ci] if rates else (1, 1)),
            tile_origin=tile_origin,
        )
        if lossy:
            # lossy_eps: one shared table, or one per component (the
            # QCC case — encode_j2k writes the matching QCC markers)
            etab = (
                lossy_eps[ci]
                if lossy_eps and isinstance(lossy_eps[0], list)
                else lossy_eps
            )
            k = 0
            for blist in bands:
                for band in blist:
                    eps = etab[k]
                    k += 1
                    rb = depth + _BAND_GAIN[band.btype]
                    band.step = 2.0 ** (rb - eps)
                    band.mb = _GUARD_BITS + eps - 1
        # attach coefficient arrays: resolution 0 = LL, then per level
        bands[0][0].coeffs = pyr[0]
        for r, (hl, lh, hh) in enumerate(pyr[1:], start=1):
            bands[r][0].coeffs = hl
            bands[r][1].coeffs = lh
            bands[r][2].coeffs = hh
        if roi_shift:
            # maxshift ROI (T.800 H.2): more coded bit-planes, and the
            # tile-local rect mapped into each band's coefficient grid
            ry0, ry1, rx0, rx1 = roi if roi is not None else (0, 0, 0, 0)
            for r, blist in enumerate(bands):
                sb = (
                    levels_c[ci] if r == 0 else levels_c[ci] - r + 1
                )
                for band in blist:
                    band.mb += roi_shift
                    if band.mb > 31:
                        raise J2kUnsupported(
                            f"maxshift ROI needs {band.mb} coded "
                            "bit-planes; the integer Tier-1 domain "
                            "caps at 31 (use <= 8-bit imagery or a "
                            "smaller shift)"
                        )
                    if roi is not None:
                        band.roi_rect = (
                            ry0 >> sb,
                            (ry1 + (1 << sb) - 1) >> sb,
                            rx0 >> sb,
                            (rx1 + (1 << sb) - 1) >> sb,
                        )
        comps.append(bands)

    # Tier-1 encode every block; build inclusion/msb trees. The
    # inclusion tag-tree value is the block's first-inclusion layer
    # (nlayers = never included), assigned round-robin over blocks.
    encoded: dict[tuple, tuple[bytes, int, int]] = {}
    gidx = 0
    for c, bands in enumerate(comps):
        for r, blist in enumerate(bands):
            for bi, band in enumerate(blist):
                for by in range(band.ncy):
                    for bx in range(band.ncx):
                        y0b, x0b, bh, bw = band.block_rect(bx, by)
                        blk = band.coeffs[y0b : y0b + bh, x0b : x0b + bw]
                        if band.step is not None:
                            # deadzone quantizer: sign * floor(|x|/step)
                            blk = (
                                np.sign(blk)
                                * np.floor(np.abs(blk) / band.step)
                            )
                        blk = blk.astype(np.int32)
                        rect = getattr(band, "roi_rect", None)
                        if roi_shift:
                            mask = np.zeros(blk.shape, dtype=bool)
                            if rect is not None:
                                my0 = max(rect[0] - y0b, 0)
                                my1 = min(rect[1] - y0b, bh)
                                mx0 = max(rect[2] - x0b, 0)
                                mx1 = min(rect[3] - x0b, bw)
                                if my0 < my1 and mx0 < mx1:
                                    mask[my0:my1, mx0:mx1] = True
                            bg_max = int(
                                np.abs(blk[~mask]).max(initial=0)
                            )
                            if bg_max >= 1 << roi_shift:
                                raise J2kParseError(
                                    f"roi_shift {roi_shift} too small: "
                                    f"background magnitude {bg_max} "
                                    "would classify as ROI"
                                )
                            blk = np.where(mask, blk << roi_shift, blk)
                        data, nplanes, npasses = t1_encode_block(
                            blk, band.btype, termall=termall,
                            bypass=bypass, reset=reset, vsc=vsc,
                            segsym=segsym,
                        )
                        if nplanes > band.mb:
                            raise J2kParseError(
                                f"block needs {nplanes} planes, Mb={band.mb}"
                            )
                        pi, pxi, pyi, lbx, lby = band.block_precinct(
                            bx, by
                        )
                        tincl, tmsb = band.precinct_trees(pxi, pyi)
                        if nplanes == 0:
                            tincl.set_value(lbx, lby, nlayers)
                            tmsb.set_value(lbx, lby, 0)
                        else:
                            lyr = gidx % nlayers
                            gidx += 1
                            tincl.set_value(lbx, lby, lyr)
                            tmsb.set_value(lbx, lby, band.mb - nplanes)
                            encoded[(c, r, bi, bx, by)] = (
                                data,
                                npasses,
                                lyr,
                                pi,
                            )
                for tincl, tmsb in band._trees.values():
                    tincl.finalize()
                    tmsb.finalize()

    # per-(component, resolution, precinct): which layers get a first
    # inclusion (answers the nonempty-packet bit in O(1) per packet)
    incl_layers: dict[tuple, set] = {}
    for key, e in encoded.items():
        incl_layers.setdefault((key[0], key[1], e[3]), set()).add(e[2])

    # packets (returned individually so the caller can split the tile
    # into tile-parts at packet boundaries, T.800 A.4.2)
    packets: list[bytes] = []
    nres_c = [lv + 1 for lv in levels_c]
    if poc_override is not None:
        poc = poc_override  # tile-header POC replaces the main one
    if poc:
        pseq = _poc_sequence(poc, nres_c, nc, nlayers, comps)
        pgrid, _ = _pgrid_pos(comps)
        expected = nlayers * sum(
            pgrid(c, r) for c in range(nc) for r in range(nres_c[c])
        )
        if len(pseq) != expected:
            raise J2kParseError("poc entries do not cover every packet")
    else:
        pseq = _packet_sequence(prog, nres_c, nc, nlayers, comps)
    for lyr, r, c, pidx in pseq:
        wr = PackBitWriter()
        body = bytearray()
        blist = comps[c][r]
        if lyr not in incl_layers.get((c, r, pidx), ()):
            wr.put(0)
            packets.append((wr.flush(), b""))
            continue
        wr.put(1)
        pyi, pxi = divmod(pidx, max(1, blist[0].pcx))
        for bi, band in enumerate(blist):
            tincl, tmsb = band.precinct_trees(pxi, pyi)
            bx_lo, bx_hi, by_lo, by_hi = band.precinct_block_range(
                pxi, pyi
            )
            for by in range(by_lo, by_hi):
                for bx in range(bx_lo, bx_hi):
                    key = (c, r, bi, bx, by)
                    ent = encoded.get(key)
                    if ent is None or ent[2] > lyr:
                        # never included, or first inclusion is in a
                        # later layer: keep coding the tag tree
                        tincl.encode(
                            bx - bx_lo, by - by_lo, lyr + 1, wr.put
                        )
                        continue
                    data, npasses, elayer, _pi = ent
                    if elayer < lyr:
                        wr.put(0)  # included earlier, idle this layer
                        continue
                    tincl.encode(bx - bx_lo, by - by_lo, lyr + 1, wr.put)
                    p = tmsb.leaf_value(bx - bx_lo, by - by_lo)
                    tmsb.encode(bx - bx_lo, by - by_lo, p + 1, wr.put)
                    _put_npasses(wr, npasses)
                    lb = band.lblock[by * band.ncx + bx]
                    if termall or bypass:
                        # one length per codeword segment, each in
                        # lblock + floor(log2(passes_in_segment)) bits
                        # (B.10.7.5); one shared lblock bump sized so
                        # every segment length fits its field
                        plan = _seg_plan(0, npasses, termall, bypass)
                        kbits = [pc.bit_length() - 1 for pc, _ in plan]
                        need = max(
                            (
                                len(sg).bit_length() - (lb + kb)
                                for sg, kb in zip(data, kbits)
                            ),
                            default=0,
                        )
                        need = max(0, need)
                        for _ in range(need):
                            wr.put(1)
                        wr.put(0)
                        lb += need
                        band.lblock[by * band.ncx + bx] = lb
                        for sg, kb in zip(data, kbits):
                            wr.put_bits(len(sg), lb + kb)
                            body += sg
                    else:
                        k = npasses.bit_length() - 1
                        need = max(
                            0, len(data).bit_length() - (lb + k)
                        )
                        for _ in range(need):
                            wr.put(1)
                        wr.put(0)
                        lb += need
                        band.lblock[by * band.ncx + bx] = lb
                        wr.put_bits(len(data), lb + k)
                        body += data
        packets.append((wr.flush(), bytes(body)))

    return packets


# ------------------------------------------------------------ decoder


def _parse_main_header(data: bytes):
    if data[:2] != b"\xff\x4f":
        raise J2kParseError("no SOC marker")
    pos = 2
    siz = cod = qcd = None
    ppm_segs: list[tuple[int, bytes]] = []
    qcc_segs: list[bytes] = []
    rgn_segs: list[bytes] = []
    coc_segs: list[bytes] = []
    poc_segs: list[bytes] = []
    while pos + 4 <= len(data):
        marker = struct.unpack(">H", data[pos : pos + 2])[0]
        if marker == SOT:
            break
        if not 0xFF01 <= marker <= 0xFFFE:
            raise J2kParseError(f"bad marker 0x{marker:04x} at {pos}")
        (length,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        seg = data[pos + 4 : pos + 2 + length]
        if len(seg) != length - 2:
            raise J2kParseError(f"truncated marker 0x{marker:04x}")
        if marker == SIZ:
            siz = seg
        elif marker == COD:
            cod = seg
        elif marker == QCD:
            qcd = seg
        elif marker == QCC:
            # per-component quantization override; resolved against
            # SIZ's component count in decode_j2k
            qcc_segs.append(seg)
        elif marker == COC:
            # per-component coding overrides (decomposition levels,
            # code-block geometry, transform); resolved in decode_j2k
            coc_segs.append(seg)
        elif marker == PPM:
            # packed packet headers, main-header flavor (T.800
            # A.7.4): Zppm-ordered segments concatenate into a stream
            # of Nppm-framed per-tile-part chunks
            if not seg:
                raise J2kParseError("empty PPM segment")
            ppm_segs.append((seg[0], seg[1:]))
        elif marker == RGN:
            # maxshift region-of-interest (T.800 Annex H); resolved
            # against SIZ's component count in decode_j2k
            rgn_segs.append(seg)
        elif marker == POC:
            # progression-order changes; resolved in decode_j2k
            poc_segs.append(seg)
        # COM/TLM/PLM and anything else informational: skip
        pos += 2 + length
    if siz is None or cod is None or qcd is None:
        raise J2kParseError("missing SIZ/COD/QCD before the tile")
    ppm_segs.sort(key=lambda t: t[0])
    return (
        siz, cod, qcd, pos,
        b"".join(seg for _, seg in ppm_segs), qcc_segs, rgn_segs,
        coc_segs, poc_segs,
    )


def _parse_cod(cod: bytes, what: str):
    """COD/SPcod fields -> (scod, prog, nlayers, mct, levels, cbw,
    cbh, transform, cbstyle, precincts), with the validation shared
    by main-header and tile-header COD segments. ``precincts`` is
    None (maximal, Scod bit 0 clear) or one (PPx, PPy) pair per
    resolution."""
    if len(cod) < 10:
        raise J2kParseError(f"{what} shorter than its SPcod")
    scod, prog = cod[0], cod[1]
    (nlayers,) = struct.unpack(">H", cod[2:4])
    mct = cod[4]
    levels, xcb, ycb, cbstyle, transform = cod[5:10]
    if nlayers < 1:
        raise J2kParseError(f"zero quality layers ({what})")
    if cbstyle & ~0x3F:
        # all six T.800 mode-switch bits decode: 0x01 bypass, 0x02
        # context reset, 0x04 termall, 0x08 vertically stripe-causal,
        # 0x10 predictable termination (an encoder-side flush
        # property -- decode is identical, so it passes through),
        # 0x20 segmentation symbols; the
        # other mode flags (bypass/reset/vsc/segsym/predictable
        # termination) stay gated
        raise J2kUnsupported(f"code-block style 0x{cbstyle:02x} ({what})")
    if transform not in (0, 1):
        raise J2kParseError(f"unknown transformation {transform} ({what})")
    precincts = None
    if scod & 0x01:
        if len(cod) < 10 + levels + 1:
            raise J2kParseError(
                f"{what} lacks its {levels + 1} precinct-size bytes"
            )
        precincts = []
        for r in range(levels + 1):
            b = cod[10 + r]
            ppx, ppy = b & 0xF, b >> 4
            if r and (ppx < 1 or ppy < 1):
                raise J2kParseError(
                    f"precinct exponent 0 at resolution {r} ({what})"
                )
            precincts.append((ppx, ppy))
    cbw, cbh = 1 << (xcb + 2), 1 << (ycb + 2)
    if cbw > 64 and cbh > 64 or cbw * cbh > 4096:
        raise J2kParseError(f"illegal code-block size {cbw}x{cbh} ({what})")
    return (
        scod, prog, nlayers, mct, levels, cbw, cbh, transform,
        cbstyle, precincts,
    )


def _apply_coc(seg: bytes, nc: int, levels_c: list, cbw_c: list,
               cbh_c: list, transform_c: list, cbsty_c: list,
               what: str, prec_c: list | None = None) -> int:
    """Apply one COC segment to the per-component arrays in place;
    returns the component it named. Shared by main and tile COCs.
    A COC overrides the COD for its component in full (T.800 A.6.2),
    so ``prec_c[ccoc]`` is set to the COC's own precinct list when
    Scoc bit 0 is on and reset to None (maximal) otherwise."""
    if nc < 257:
        if len(seg) < 7:
            raise J2kParseError(f"{what} shorter than its SPcoc")
        ccoc, body = seg[0], seg[1:]
    else:
        if len(seg) < 8:
            raise J2kParseError(f"{what} shorter than its SPcoc")
        ccoc, body = struct.unpack(">H", seg[:2])[0], seg[2:]
    if ccoc >= nc:
        raise J2kParseError(f"{what} names component {ccoc} of {nc}")
    scoc = body[0]
    lv, xcb2, ycb2, cbsty2, tr2 = body[1:6]
    prec = None
    if scoc & 0x01:
        if len(body) < 6 + lv + 1:
            raise J2kParseError(
                f"{what} lacks its {lv + 1} precinct-size bytes"
            )
        prec = []
        for r in range(lv + 1):
            b = body[6 + r]
            ppx, ppy = b & 0xF, b >> 4
            if r and (ppx < 1 or ppy < 1):
                raise J2kParseError(
                    f"precinct exponent 0 at resolution {r} ({what})"
                )
            prec.append((ppx, ppy))
    if cbsty2 & ~0x3F:
        raise J2kUnsupported(f"code-block style 0x{cbsty2:02x} ({what})")
    if tr2 not in (0, 1):
        raise J2kParseError(f"unknown transformation {tr2} ({what})")
    w2, h2 = 1 << (xcb2 + 2), 1 << (ycb2 + 2)
    if w2 > 64 and h2 > 64 or w2 * h2 > 4096:
        raise J2kParseError(f"illegal code-block size {w2}x{h2} ({what})")
    levels_c[ccoc] = lv
    cbw_c[ccoc], cbh_c[ccoc] = w2, h2
    transform_c[ccoc] = tr2
    cbsty_c[ccoc] = cbsty2
    if prec_c is not None:
        prec_c[ccoc] = prec
    return ccoc


def _parse_poc_entries(segs: list, nc: int) -> list:
    """POC segment bodies -> (RSpoc, CSpoc, LYEpoc, REpoc, CEpoc,
    Ppoc) tuples; shared by main-header and tile-header POC markers
    (T.800 A.6.6 — same grammar in both)."""
    entries: list = []
    for seg in segs:
        esz = 7 if nc < 257 else 9
        if not seg or len(seg) % esz:
            raise J2kParseError(f"POC length {len(seg)} not {esz}-aligned")
        for i in range(0, len(seg), esz):
            e = seg[i : i + esz]
            if nc < 257:
                rs, cs = e[0], e[1]
                (lye,) = struct.unpack(">H", e[2:4])
                re_, ce, pp = e[4], e[5], e[6]
                if ce == 0:
                    ce = 256  # T.800: 0 encodes 256 in the byte form
            else:
                rs = e[0]
                (cs,) = struct.unpack(">H", e[1:3])
                (lye,) = struct.unpack(">H", e[3:5])
                re_ = e[5]
                (ce,) = struct.unpack(">H", e[6:8])
                pp = e[8]
            if pp > 4:
                raise J2kUnsupported(f"POC progression {pp}")
            entries.append((rs, cs, lye, re_, ce, pp))
    return entries


def _apply_rgn(seg: bytes, nc: int, rgn_c: list) -> None:
    """Apply one RGN segment (T.800 A.6.3) to the per-component
    maxshift list in place; shared by main and tile-header RGNs (a
    tile RGN overrides the main header's for that component)."""
    need = 3 if nc < 257 else 4
    if len(seg) < need:
        raise J2kParseError("RGN segment too short")
    if nc < 257:
        crgn, srgn, sprgn = seg[0], seg[1], seg[2]
    else:
        crgn = struct.unpack(">H", seg[:2])[0]
        srgn, sprgn = seg[2], seg[3]
    if crgn >= nc:
        raise J2kParseError(f"RGN names component {crgn} of {nc}")
    if srgn != 0:
        raise J2kUnsupported(f"RGN style {srgn} (only 0 = maxshift)")
    if sprgn > 37:
        raise J2kParseError(f"RGN shift {sprgn} exceeds 37")
    rgn_c[crgn] = sprgn


def _split_qcc(seg: bytes, nc: int, what: str):
    """QCC segment -> (component index, Sqcc body)."""
    if not seg:
        raise J2kParseError(f"empty {what} segment")
    if nc < 257:
        return seg[0], seg[1:]
    if len(seg) < 2:
        raise J2kParseError(f"{what} shorter than its Cqcc field")
    return struct.unpack(">H", seg[:2])[0], seg[2:]


def decode_j2k(data: bytes) -> np.ndarray:
    """Codestream (reversible 5/3 or scalar-quantized 9/7;
    single-tile or a regular multi-tile grid) -> (h, w, nc)
    uint8/uint16.

    All malformed-stream failure modes surface as :class:`J2kParseError`
    (out-of-scope features as :class:`J2kUnsupported`) so callers like
    ``decode_jp2`` can rely on one error contract; raw ``struct.error``
    / ``ValueError`` / ``IndexError`` from short or garbled segments are
    wrapped here.
    """
    try:
        return _decode_j2k(data)
    except J2kParseError:
        raise
    except (struct.error, ValueError, IndexError) as exc:
        raise J2kParseError(f"malformed codestream: {exc}") from exc


def _decode_j2k(data: bytes) -> np.ndarray:
    (
        siz, cod, qcd, pos, ppm_stream, qcc_segs, rgn_segs, coc_segs,
        poc_segs,
    ) = _parse_main_header(data)
    if len(siz) < 36:
        raise J2kParseError("SIZ shorter than its fixed fields")
    (rsiz, xsiz, ysiz, xo, yo, xt, yt, xto, yto, nc) = struct.unpack(
        ">HIIIIIIIIH", siz[:36]
    )
    del rsiz
    if not xt or not yt:
        raise J2kParseError("zero tile dimensions")
    # T.800 A.5.1: offsets anchor the tile grid at or before the
    # image area, and the first tile must overlap it
    if xo >= xsiz or yo >= ysiz:
        raise J2kParseError("image offset at or past the image size")
    if xto > xo or yto > yo:
        raise J2kParseError("tile grid offset exceeds the image offset")
    if xto + xt <= xo or yto + yt <= yo:
        raise J2kParseError("first tile does not overlap the image area")
    ntiles = (-(-(xsiz - xto) // xt)) * (-(-(ysiz - yto) // yt))
    if ntiles > 1 << 20:
        # crafted Xsiz/Ysiz with a tiny XTsiz would otherwise
        # materialize billions of rects before any tile data is read
        # (this decoder sits on the binaryFile ingest path)
        raise J2kParseError(f"{ntiles} tiles exceeds the 2^20 cap")
    if xsiz * ysiz > 1 << 28:
        # ~2 GiB of int64 per component plane; a crafted SIZ would
        # otherwise OOM the executor before any tile data is checked.
        # Genuinely larger slices need windowed decode, not this
        # whole-image path.
        raise J2kParseError(
            f"{xsiz}x{ysiz} exceeds the 2^28-pixel in-memory decode cap"
        )
    if len(siz) < 36 + 3 * nc:
        raise J2kParseError("SIZ shorter than its component table")
    depths, signs, xr_c, yr_c = [], [], [], []
    for ci in range(nc):
        ssiz, xr, yr = siz[36 + 3 * ci : 39 + 3 * ci]
        if xr < 1 or yr < 1:
            raise J2kParseError("zero component subsampling rate")
        xr_c.append(xr)
        yr_c.append(yr)
        depths.append((ssiz & 0x7F) + 1)
        signs.append(bool(ssiz & 0x80))
    subsampled = any(r != 1 for r in xr_c + yr_c)
    if max(depths) > 16:
        raise J2kUnsupported(">16-bit components are not supported")

    (
        scod, prog, nlayers, mct, levels, cbw, cbh, transform,
        cbstyle, precincts,
    ) = _parse_cod(cod, "COD")
    use_sop = bool(scod & 0x02)
    use_eph = bool(scod & 0x04)

    # per-component coding parameters: COD defaults, COC overrides
    # (T.800 A.6.2 — decomposition levels, code-block geometry, and
    # transform may all differ per component)
    levels_c = [levels] * nc
    cbw_c = [cbw] * nc
    cbh_c = [cbh] * nc
    transform_c = [transform] * nc
    cbsty_c = [cbstyle] * nc
    prec_c: list = [precincts] * nc
    for seg in coc_segs:
        _apply_coc(
            seg, nc, levels_c, cbw_c, cbh_c, transform_c, cbsty_c,
            "COC", prec_c=prec_c,
        )
    if mct == 1 and len(set(transform_c[:3])) > 1:
        raise J2kUnsupported(
            "MCT with per-component transform overrides"
        )

    poc_entries = _parse_poc_entries(poc_segs, nc)
    # POC coverage (every packet emitted exactly once) is checked per
    # tile inside _decode_tile_planes: packet counts depend on each
    # tile's resolved levels AND its precinct grids, neither of which
    # is known until the tile headers resolve.

    # QCD per component (band count follows that component's levels),
    # optionally overridden per component by QCC:
    # style 0 = no quantization (reversible 5/3 exponents only),
    # style 1 = scalar derived (one (eps, mu), per-band values derived
    # per T.800 E-5), style 2 = scalar expounded (per-band (eps, mu))
    main_qcc_raw: dict = {}
    for seg in qcc_segs:
        cqcc, body = _split_qcc(seg, nc, "QCC")
        if cqcc >= nc:
            raise J2kParseError(f"QCC names component {cqcc} of {nc}")
        main_qcc_raw[cqcc] = body
    rgn_c = [0] * nc
    for seg in rgn_segs:
        _apply_rgn(seg, nc, rgn_c)

    # tile-part loop — collect every SOT..SOD..data segment (parts of
    # one tile may interleave with other tiles and arrive in any
    # order), then decode each tile from its TPsot-ordered
    # concatenation: T.800 A.4.2 splits a tile's packet stream across
    # tile-parts at packet boundaries, so the concatenation is the
    # original stream. Informational tile-part header markers
    # (PLT/COM) are skipped; PPT (packed headers) gates.
    rects = _tile_rects(xsiz, ysiz, xt, yt, xo, yo, xto, yto)
    # component image region [ceil(XOsiz/XRsiz), ceil(Xsiz/XRsiz))
    # (T.800 B.2): planes hold the region; absolute component coords
    # index it after subtracting the region origin
    comp_orig = [
        (-(-yo // yr_c[ci]), -(-xo // xr_c[ci])) for ci in range(nc)
    ]
    comp_dims = [
        (
            -(-ysiz // yr_c[ci]) - comp_orig[ci][0],
            -(-xsiz // xr_c[ci]) - comp_orig[ci][1],
        )
        for ci in range(nc)
    ]
    tile_cod: dict[int, bytes] = {}
    tile_qcd: dict[int, bytes] = {}
    tile_coc: dict[int, list] = {}
    tile_qcc: dict[int, list] = {}
    tile_poc: dict[int, list] = {}
    tile_rgn: dict[int, list] = {}
    parts: dict[int, list[tuple[int, bytes]]] = {}
    ppt_segs: dict[int, list[tuple[int, bytes]]] = {}
    tp_order: list[tuple[int, int]] = []  # (isot, tpsot) encounter order
    while True:
        if pos + 2 > len(data):
            raise J2kParseError("codestream ends without EOC")
        if data[pos : pos + 2] == b"\xff\xd9":  # EOC
            break
        marker, lsot, isot, psot, tpsot, tnsot = struct.unpack(
            ">HHHIBB", data[pos : pos + 12]
        )
        if marker != SOT or lsot != 10:
            raise J2kParseError(f"expected SOT at offset {pos}")
        if isot >= len(rects):
            raise J2kParseError(f"bad tile index {isot}")
        if tnsot and tpsot >= tnsot:
            raise J2kParseError(
                f"tile {isot}: TPsot {tpsot} >= TNsot {tnsot}"
            )
        sod_at = pos + 12
        while data[sod_at : sod_at + 2] != b"\xff\x93":  # until SOD
            if sod_at + 4 > len(data):
                raise J2kParseError("tile-part header ends without SOD")
            (tmarker,) = struct.unpack(">H", data[sod_at : sod_at + 2])
            (tlen,) = struct.unpack(">H", data[sod_at + 2 : sod_at + 4])
            if tmarker in (PLT, COM):
                sod_at += 2 + tlen  # informational: skip
            elif tmarker == PPT:
                # packed packet headers, tile-part flavor (T.800
                # A.7.5): Zppt-ordered segments concatenate per tile
                seg = data[sod_at + 4 : sod_at + 2 + tlen]
                if len(seg) != tlen - 2 or not seg:
                    raise J2kParseError("truncated PPT segment")
                ppt_segs.setdefault(isot, []).append((seg[0], seg[1:]))
                sod_at += 2 + tlen
            elif tmarker in (COD, QCD, COC, QCC, POC, RGN):
                # per-tile coding/quantization/progression/ROI
                # overrides (T.800 A.6.1-A.6.6). The COD family is
                # first-part-only by spec; POC is restricted here to
                # the first part too (a mid-stream progression change
                # across tile-parts is the one A.6.6 shape this
                # decoder does not model — gated below by name).
                seg = data[sod_at + 4 : sod_at + 2 + tlen]
                if len(seg) != tlen - 2:
                    raise J2kParseError(
                        f"truncated tile-header 0x{tmarker:04x}"
                    )
                if tpsot != 0:
                    if tmarker == POC:
                        raise J2kUnsupported(
                            "POC in a non-first tile-part (mid-stream "
                            "progression change)"
                        )
                    raise J2kParseError(
                        "COD/QCD-family marker outside tile-part 0"
                    )
                if tmarker == COD:
                    if isot in tile_cod:
                        raise J2kParseError("duplicate tile COD")
                    tile_cod[isot] = seg
                elif tmarker == QCD:
                    if isot in tile_qcd:
                        raise J2kParseError("duplicate tile QCD")
                    tile_qcd[isot] = seg
                elif tmarker == COC:
                    tile_coc.setdefault(isot, []).append(seg)
                elif tmarker == QCC:
                    tile_qcc.setdefault(isot, []).append(seg)
                elif tmarker == POC:
                    tile_poc.setdefault(isot, []).append(seg)
                else:
                    tile_rgn.setdefault(isot, []).append(seg)
                sod_at += 2 + tlen
            else:
                raise J2kUnsupported(
                    f"tile-part header marker 0x{tmarker:04x} "
                    "is not supported"
                )
        tile_end = pos + psot if psot else len(data) - 2
        parts.setdefault(isot, []).append(
            (tpsot, data[sod_at + 2 : tile_end])
        )
        tp_order.append((isot, tpsot))
        pos = tile_end
    if len(parts) != len(rects):
        raise J2kParseError(
            f"codestream holds {len(parts)} of {len(rects)} tiles"
        )
    if ppm_stream and ppt_segs:
        raise J2kParseError("PPM and PPT are mutually exclusive (T.800)")
    packed_by_tile: dict[int, bytes] = {}
    if ppm_stream:
        # Nppm-framed chunks map to tile-parts in codestream order;
        # regroup per tile in TPsot order (matching the body regroup)
        chunks: dict[tuple[int, int], bytes] = {}
        ppos = 0
        for key in tp_order:
            if ppos + 4 > len(ppm_stream):
                raise J2kParseError("PPM stream shorter than tile-parts")
            (n,) = struct.unpack(">I", ppm_stream[ppos : ppos + 4])
            chunk = ppm_stream[ppos + 4 : ppos + 4 + n]
            if len(chunk) != n:
                raise J2kParseError("truncated PPM chunk")
            chunks[key] = chunk
            ppos += 4 + n
        for isot in parts:
            packed_by_tile[isot] = b"".join(
                chunks[(isot, tp)] for tp, _ in sorted(parts[isot])
            )
    elif ppt_segs:
        for isot, segs in ppt_segs.items():
            segs.sort(key=lambda t: t[0])
            packed_by_tile[isot] = b"".join(seg for _, seg in segs)

    # resolve each tile's coding/quantization parameters with the
    # T.800 precedence (tile COC > tile COD > main COC > main COD;
    # tile QCC > tile QCD > main QCC > main QCD)
    tile_params: dict[int, tuple] = {}
    for isot in parts:
        t_cod = tile_cod.get(isot)
        if t_cod is not None:
            (
                scod_t, prog_t, nlayers_t, mct_t, lv0, cw0, ch0, tr0,
                cbs0, prec_t,
            ) = _parse_cod(t_cod, "tile COD")
            if mct_t != mct:
                raise J2kUnsupported("per-tile MCT override")
            lv_t = [lv0] * nc
            cw_t = [cw0] * nc
            ch_t = [ch0] * nc
            tr_t = [tr0] * nc
            cbs_t = [cbs0] * nc
            pr_t = [prec_t] * nc
            sop_t, eph_t = bool(scod_t & 0x02), bool(scod_t & 0x04)
        else:
            prog_t, nlayers_t = prog, nlayers
            lv_t, cw_t, ch_t = list(levels_c), list(cbw_c), list(cbh_c)
            tr_t = list(transform_c)
            cbs_t = list(cbsty_c)
            pr_t = list(prec_c)
            sop_t, eph_t = use_sop, use_eph
        for seg in tile_coc.get(isot, []):
            _apply_coc(
                seg, nc, lv_t, cw_t, ch_t, tr_t, cbs_t, "tile COC",
                prec_c=pr_t,
            )
        if mct == 1 and tr_t[:3] != transform_c[:3]:
            raise J2kUnsupported(
                "per-tile transform override under MCT"
            )
        tqcc: dict = {}
        for seg in tile_qcc.get(isot, []):
            ci, body = _split_qcc(seg, nc, "tile QCC")
            if ci >= nc:
                raise J2kParseError(f"tile QCC names component {ci}")
            tqcc[ci] = body
        g_t, e_t, m_t = [None] * nc, [None] * nc, [None] * nc
        for ci in range(nc):
            if ci in tqcc:
                body, what = tqcc[ci], "tile QCC"
            elif isot in tile_qcd:
                body, what = tile_qcd[isot], "tile QCD"
            elif ci in main_qcc_raw:
                body, what = main_qcc_raw[ci], "QCC"
            else:
                body, what = qcd, "QCD"
            g_t[ci], e_t[ci], m_t[ci] = _parse_quant(
                body, tr_t[ci], lv_t[ci], what
            )
        # tile-header POC replaces the main header's for this tile
        # (T.800 A.6.6); tile RGN overrides per component (A.6.3)
        poc_t = (
            _parse_poc_entries(tile_poc[isot], nc)
            if isot in tile_poc
            else poc_entries
        )
        rgn_t = list(rgn_c)
        for seg in tile_rgn.get(isot, []):
            _apply_rgn(seg, nc, rgn_t)
        tile_params[isot] = (
            lv_t, cw_t, ch_t, tr_t, prog_t, nlayers_t, sop_t, eph_t,
            g_t, e_t, m_t, cbs_t, pr_t, poc_t, rgn_t,
        )

    # plane dtype: integer only when EVERY tile codes that component
    # reversibly (a single 9/7 tile forces the float accumulator)
    planes = [
        np.zeros(
            comp_dims[ci],
            dtype=(
                np.int64
                if all(tp[3][ci] == 1 for tp in tile_params.values())
                else np.float64
            ),
        )
        for ci in range(nc)
    ]
    for isot, plist in parts.items():
        plist.sort(key=lambda t: t[0])
        if [t[0] for t in plist] != list(range(len(plist))):
            raise J2kParseError(
                f"tile {isot}: tile-part indexes "
                f"{[t[0] for t in plist]} are not contiguous from 0"
            )
        x0, y0, x1, y1 = rects[isot]
        (
            lv_t, cw_t, ch_t, tr_t, prog_t, nlayers_t, sop_t, eph_t,
            g_t, e_t, m_t, cbs_t, pr_t, poc_t, rgn_t,
        ) = tile_params[isot]
        crects = [
            (
                -(-x0 // xr_c[ci]), -(-y0 // yr_c[ci]),
                -(-x1 // xr_c[ci]), -(-y1 // yr_c[ci]),
            )
            for ci in range(nc)
        ]
        tplanes = _decode_tile_planes(
            b"".join(t[1] for t in plist),
            [cy1 - cy0 for _, cy0, _, cy1 in crects],
            [cx1 - cx0 for cx0, _, cx1, _ in crects],
            nc,
            lv_t,
            cw_t,
            ch_t,
            depths,
            g_t,
            e_t,
            prog_t,
            sop_t,
            eph_t,
            [cx0 for cx0, _, _, _ in crects],
            [cy0 for _, cy0, _, _ in crects],
            nlayers_t,
            m_t,
            tr_t,
            packed=packed_by_tile.get(isot),
            rgn_c=rgn_t,
            poc=poc_t or None,
            cbsty_c=cbs_t,
            precincts=pr_t,
            rates=[(xr_c[ci], yr_c[ci]) for ci in range(nc)],
            tile_origin=(x0, y0),
        )
        for ci in range(nc):
            cx0, cy0, cx1, cy1 = crects[ci]
            coy, cox = comp_orig[ci]
            planes[ci][cy0 - coy : cy1 - coy, cx0 - cox : cx1 - cox] = (
                tplanes[ci]
            )

    if mct == 1:
        if nc < 3:
            raise J2kParseError("MCT declared with fewer than 3 components")
        if len({comp_dims[ci] for ci in range(3)}) > 1:
            raise J2kUnsupported(
                "MCT across differently-subsampled components"
            )
        y, u, v = planes[0], planes[1], planes[2]
        if transform_c[0] == 1:  # reversible color transform (RCT)
            g = y - ((u + v) >> 2)
            planes[0], planes[1], planes[2] = v + g, g, u + g
        else:  # irreversible color transform (ICT, BT.601 floats)
            planes[0] = y + 1.402 * v
            planes[1] = y - 0.344136 * u - 0.714136 * v
            planes[2] = y + 1.772 * u
    elif mct != 0:
        raise J2kUnsupported(f"MCT mode {mct}")

    if any(signs):
        # signed output: int8/int16 when every component is signed,
        # one tier wider when unsigned components mix in (their full
        # range would not fit the same-width signed dtype)
        if all(signs):
            odt = np.int8 if max(depths) <= 8 else np.int16
        else:
            odt = np.int16 if max(depths) <= 8 else np.int32
    else:
        odt = np.uint16 if max(depths) > 8 else np.uint8
    out = np.zeros((ysiz - yo, xsiz - xo, nc), dtype=odt)
    for ci in range(nc):
        p = planes[ci]
        if xr_c[ci] != 1 or yr_c[ci] != 1:
            # nearest-neighbor replication back to the reference grid
            # (the JPEG chroma convention; exact per component):
            # reference pixel x reads component sample floor(x/rate),
            # clamped into the component image region
            coy, cox = comp_orig[ci]
            xs = np.clip(
                np.arange(xo, xsiz) // xr_c[ci] - cox,
                0, max(p.shape[1] - 1, 0),
            )
            ys = np.clip(
                np.arange(yo, ysiz) // yr_c[ci] - coy,
                0, max(p.shape[0] - 1, 0),
            )
            p = p[np.ix_(ys, xs)]
        if p.dtype == np.float64:
            p = np.rint(p)
        if signs[ci]:
            # no DC level shift (T.800 B.1): already centered on zero
            lo, hi = -(1 << (depths[ci] - 1)), (1 << (depths[ci] - 1)) - 1
        else:
            p = p + (1 << (depths[ci] - 1))
            lo, hi = 0, (1 << depths[ci]) - 1
        np.clip(p, lo, hi, out=p)
        out[:, :, ci] = p
    return out


def _parse_quant(body: bytes, transform: int, levels: int,
                 what: str) -> tuple[int, list, list | None]:
    """Sqcd/SPqcd (or Sqcc/SPqcc) bytes -> (guard, exps, mus). The
    same grammar serves QCD and per-component QCC overrides."""
    if not body:
        raise J2kParseError(f"empty {what} body")
    guard = body[0] >> 5
    qstyle = body[0] & 0x1F
    n_bands = 3 * levels + 1
    if qstyle == 0:
        if transform != 1:
            raise J2kParseError(
                f"no-quantization {what} with the 9/7 transform"
            )
        exps = [b >> 3 for b in body[1:]]
        mus = None
        if len(exps) < n_bands:
            raise J2kParseError(
                f"{what} exponent table shorter than band count"
            )
    elif qstyle in (1, 2):
        if transform != 0:
            # non-conformant header pairing, the mirror of the
            # 9/7+style-0 case above: a parse error, not a gate
            raise J2kParseError(
                f"scalar quantization {what} with the reversible "
                "5/3 transform"
            )
        if qstyle == 1:
            if len(body) < 3:
                raise J2kParseError(f"{what} too short for a derived pair")
            (w16,) = struct.unpack(">H", body[1:3])
            eps0, mu0 = w16 >> 11, w16 & 0x7FF
            # band at resolution r has decomposition level
            # levels - r + 1; E-5: eps_b = eps0 - levels + n_b
            exps, mus = [eps0], [mu0]
            for r in range(1, levels + 1):
                e = eps0 - r + 1
                if e < 0:
                    raise J2kParseError(
                        f"derived exponent underflow at resolution {r}"
                    )
                exps += [e, e, e]
                mus += [mu0, mu0, mu0]
        else:
            if len(body) < 1 + 2 * n_bands:
                raise J2kParseError(
                    f"{what} expounded table shorter than band count"
                )
            vals = [
                struct.unpack(">H", body[1 + 2 * i : 3 + 2 * i])[0]
                for i in range(n_bands)
            ]
            exps = [v >> 11 for v in vals]
            mus = [v & 0x7FF for v in vals]
    else:
        raise J2kUnsupported(f"quantization style {qstyle}")
    return guard, exps, mus


def _decode_tile_planes(
    tile: bytes,
    th,
    tw,
    nc: int,
    levels_c: "list | int",
    cbw_c: "list | int",
    cbh_c: "list | int",
    depths: list = None,
    guard_c: list = None,
    exps_c: list = None,
    prog: int = 0,
    use_sop: bool = False,
    use_eph: bool = False,
    x0=0,
    y0=0,
    nlayers: int = 1,
    mus_c: list | None = None,
    transform_c: "list | int" = 1,
    packed: bytes | None = None,
    rgn_c: list | None = None,
    poc: list | None = None,
    cbsty_c: list | None = None,
    precincts: list | None = None,
    rates: list | None = None,
    tile_origin: "tuple | None" = None,
) -> list:
    """Tier-2 + Tier-1 + inverse DWT for one tile's byte stream ->
    per-component (th, tw) planes (int64 reversible, float64
    irreversible; still level-shifted / MCT'd — the caller finishes
    those globally, they are pointwise). ``(x0, y0)`` is the tile's
    canvas origin (anchors the code-block partition per T.800 B.7).
    ``mus`` non-None selects the scalar-quantized 9/7 path: each
    band dequantizes by 2^(Rb - eps) * (1 + mu/2^11) with midpoint
    reconstruction (T.800 E.1). ``packed`` non-None supplies the
    tile's PPM/PPT packed packet headers (T.800 A.7.4/A.7.5): header
    bits then read from it while only SOP markers and code-block
    body bytes remain in ``tile``."""
    th_c = [th] * nc if isinstance(th, int) else list(th)
    tw_c = [tw] * nc if isinstance(tw, int) else list(tw)
    x0_c = [x0] * nc if isinstance(x0, int) else list(x0)
    y0_c = [y0] * nc if isinstance(y0, int) else list(y0)
    if isinstance(levels_c, int):
        levels_c = [levels_c] * nc
    if isinstance(cbw_c, int):
        cbw_c = [cbw_c] * nc
    if isinstance(cbh_c, int):
        cbh_c = [cbh_c] * nc
    if isinstance(transform_c, int):
        transform_c = [transform_c] * nc
    # precincts: None (maximal everywhere), one shared per-resolution
    # list, or one list-or-None per component (the COC / tile-COD case)
    if precincts is None:
        prec_c = [None] * nc
    elif precincts and isinstance(precincts[0], tuple):
        prec_c = [precincts] * nc
    else:
        prec_c = list(precincts)
    comps = []
    for ci in range(nc):
        guard = guard_c[ci]
        exps = exps_c[ci]
        mus = mus_c[ci] if mus_c is not None else None
        rgn = rgn_c[ci] if rgn_c is not None else 0
        cbs_i = cbsty_c[ci] if cbsty_c else 0
        termall = bool(cbs_i & 0x04)
        bypass = bool(cbs_i & 0x01)
        reset = bool(cbs_i & 0x02)
        vsc = bool(cbs_i & 0x08)
        segsym = bool(cbs_i & 0x20)
        bands = _build_bands(
            th_c[ci], tw_c[ci], levels_c[ci], cbw_c[ci], cbh_c[ci],
            depths[ci], x0_c[ci], y0_c[ci], precincts=prec_c[ci],
            rate=(rates[ci] if rates else (1, 1)),
            tile_origin=tile_origin,
        )
        k = 0
        for blist in bands:
            for band in blist:
                # maxshift ROI raises the coded bit-plane count
                # (T.800 H.2); the downshift happens after Tier-1
                band.mb = guard + exps[k] - 1 + rgn
                if rgn and band.mb > 31:
                    raise J2kUnsupported(
                        f"maxshift ROI needs {band.mb} coded "
                        "bit-planes; the integer Tier-1 domain caps "
                        "at 31"
                    )
                band.rgn = rgn
                band.termall = termall
                band.bypass = bypass
                band.reset = reset
                band.vsc = vsc
                band.segsym = segsym
                if transform_c[ci] == 0:
                    rb = depths[ci] + _BAND_GAIN[band.btype]
                    band.step = 2.0 ** (rb - exps[k]) * (
                        1 + mus[k] / 2048.0
                    )
                    band.coeffs = np.zeros(
                        (band.h, band.w), dtype=np.float64
                    )
                else:
                    band.step = None
                    band.coeffs = np.zeros(
                        (band.h, band.w), dtype=np.int64
                    )
                k += 1
        comps.append(bands)

    # Packet parse: per-block contributions accumulate across quality
    # layers — a block's passes may split over several packets, and
    # with no termination flags they are chunks of ONE MQ codeword,
    # so Tier-1 runs once per block on the concatenation at tile end.
    tpos = 0
    hpos = 0  # header-bit cursor in the packed stream, when present
    nres_c = [lv + 1 for lv in levels_c]
    if poc:
        seq = _poc_sequence(poc, nres_c, nc, nlayers, comps)
        pgrid, _ = _pgrid_pos(comps)
        expected = nlayers * sum(
            pgrid(c, r) for c in range(nc) for r in range(nres_c[c])
        )
        if len(seq) != expected:
            raise J2kParseError("POC entries do not cover every packet")
    else:
        seq = _packet_sequence(prog, nres_c, nc, nlayers, comps)
    for lyr, r, c, pidx in seq:
        if use_sop:
            if tile[tpos : tpos + 2] == b"\xff\x91":
                tpos += 6
        rd = PackBitReader(packed, hpos) if packed is not None else (
            PackBitReader(tile, tpos)
        )
        jobs = []
        if rd.bit():
            pyi, pxi = divmod(pidx, max(1, comps[c][r][0].pcx))
            for band in comps[c][r]:
                tincl, tmsb = band.precinct_trees(pxi, pyi)
                bx_lo, bx_hi, by_lo, by_hi = band.precinct_block_range(
                    pxi, pyi
                )
                for by in range(by_lo, by_hi):
                    for bx in range(bx_lo, bx_hi):
                        i = by * band.ncx + bx
                        st = band.contrib.get(i)
                        if st is None:
                            # not yet included: inclusion via the tag
                            # tree at this layer's threshold
                            if not tincl.decode(
                                bx - bx_lo, by - by_lo, lyr + 1, rd.bit
                            ):
                                continue
                            k = 1
                            while not tmsb.decode(
                                bx - bx_lo, by - by_lo, k, rd.bit
                            ):
                                k += 1
                            st = [
                                tmsb.leaf_value(bx - bx_lo, by - by_lo),
                                0,
                                [],
                            ]
                            band.contrib[i] = st
                        elif not rd.bit():  # included before, idle now
                            continue
                        npasses = _get_npasses(rd)
                        while rd.bit():
                            band.lblock[i] += 1
                        if band.termall or band.bypass:
                            # one length per codeword segment, each in
                            # lblock + floor(log2(seg passes)) bits
                            # (T.800 B.10.7.5); segmentation follows
                            # the termall/bypass plan from the block's
                            # cumulative pass position
                            plan = _seg_plan(
                                st[1], npasses,
                                band.termall, band.bypass,
                            )
                            seg_len = [
                                rd.bits(
                                    band.lblock[i]
                                    + pc.bit_length() - 1
                                )
                                for pc, _raw in plan
                            ]
                        else:
                            nbits = (
                                band.lblock[i]
                                + npasses.bit_length() - 1
                            )
                            seg_len = rd.bits(nbits)
                        jobs.append((st, npasses, seg_len))
        rd.align()
        if packed is not None:
            hpos = rd.pos
            if use_eph:
                if packed[hpos : hpos + 2] != b"\xff\x92":
                    raise J2kParseError("missing EPH after packet header")
                hpos += 2
        else:
            tpos = rd.pos
            if use_eph:
                if tile[tpos : tpos + 2] != b"\xff\x92":
                    raise J2kParseError("missing EPH after packet header")
                tpos += 2
        for st, npasses, seg_len in jobs:
            if isinstance(seg_len, list):  # termall/bypass segments
                for L in seg_len:
                    seg = tile[tpos : tpos + L]
                    if len(seg) != L:
                        raise J2kParseError(
                            "code-block segment overruns tile"
                        )
                    tpos += L
                    st[2].append(seg)
            else:
                seg = tile[tpos : tpos + seg_len]
                if len(seg) != seg_len:
                    raise J2kParseError(
                        "code-block segment overruns tile"
                    )
                tpos += seg_len
                st[2].append(seg)
            st[1] += npasses

    for bands in comps:
        for blist in bands:
            for band in blist:
                for i, (p, npasses, chunks) in band.contrib.items():
                    by, bx = divmod(i, band.ncx)
                    y0b, x0b, bh, bw = band.block_rect(bx, by)
                    nplanes = band.mb - p
                    if nplanes <= 0:
                        raise J2kParseError(
                            f"missing bit-planes {p} >= Mb {band.mb}"
                        )
                    termall = getattr(band, "termall", False)
                    bypass = getattr(band, "bypass", False)
                    segmented = termall or bypass
                    blk = t1_decode_block(
                        chunks if segmented else b"".join(chunks),
                        bw, bh, band.btype, nplanes, npasses,
                        termall=termall, bypass=bypass,
                        reset=getattr(band, "reset", False),
                        vsc=getattr(band, "vsc", False),
                        segsym=getattr(band, "segsym", False),
                    )
                    rgn = getattr(band, "rgn", 0)
                    if rgn:
                        # maxshift: magnitudes >= 2^s are ROI
                        # coefficients, scaled back down (T.800 H.2)
                        mag = np.abs(blk)
                        blk = np.where(
                            mag >= (1 << rgn),
                            np.sign(blk) * (mag >> rgn),
                            blk,
                        )
                    if band.step is not None:
                        # midpoint dequantization (r = 1/2, T.800
                        # E.1); sign(0) == 0 keeps zeros at zero
                        blk = (blk + 0.5 * np.sign(blk)) * band.step
                    band.coeffs[y0b : y0b + bh, x0b : x0b + bw] = blk

    # inverse DWT per component (each with its own transform/levels)
    planes = []
    for ci in range(nc):
        inv = dwt_inverse if transform_c[ci] == 1 else dwt_inverse97
        bands = comps[ci]
        pyr = [bands[0][0].coeffs]
        for r in range(1, levels_c[ci] + 1):
            pyr.append(
                (bands[r][0].coeffs, bands[r][1].coeffs, bands[r][2].coeffs)
            )
        planes.append(inv(pyr, x0_c[ci], y0_c[ci]))
    return planes
