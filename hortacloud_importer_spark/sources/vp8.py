"""Clean-room VP8 intra-frame (lossy WebP) decoder.

§2.K4: most real-crawl WebP is lossy — a single VP8 key frame inside
the RIFF container. This module decodes that key frame from the
public bitstream definition (RFC 6386): the boolean arithmetic
decoder (§7), frame header (§9), keyframe intra-mode parsing (§11),
token/coefficient decoding with the default probability tables
(§13), dequantization (§14.1), the inverse WHT/DCT (§14.3-14.4),
intra prediction (§12), and both loop filters (§15). Inter frames
need reference-frame state a still image never has, so a non-keyframe
leading frame raises :class:`Vp8ParseError`.

The normative constant tables live in vp8_tables.py (transcription
notes there). Conformance is pinned behaviorally by
tests/test_vp8_parity.py: streams encoded by the container's libwebp
must decode here bit-identically (Y/U/V planes) to libwebp's own
decoder, across sizes, qualities, and segment configurations.

Corrupt payloads raise :class:`Vp8ParseError` (the named-error crawl
contract). The boolean decoder reads zero bits past the end of a
partition, as the spec prescribes for resilient decoders — truncation
inside a partition therefore decodes to *some* image, exactly like
the reference decoder, while structural damage (bad start code,
overrunning partition sizes, reserved bits) raises.
"""

from __future__ import annotations

import struct

import numpy as np

from hortacloud_importer_spark.sources.vp8_tables import (
    AC_QLOOKUP,
    B_DC,
    B_PRED,
    B_TM,
    BMODE_TREE,
    CAT_BASE,
    CAT_PROBS,
    COEFF_BANDS,
    COEFF_PROBS,
    COEFF_TREE,
    COEFF_UPDATE_PROBS,
    DC_PRED,
    DC_QLOOKUP,
    H_PRED,
    KF_BMODE_PROBS,
    KF_UV_MODE_PROBS,
    KF_YMODE_PROBS,
    KF_YMODE_TREE,
    MODE_TO_BMODE,
    SEGMENT_TREE,
    TM_PRED,
    TOK_CAT1,
    TOK_EOB,
    UV_MODE_TREE,
    V_PRED,
    ZIGZAG,
)


class Vp8ParseError(ValueError):
    pass


# decompression-bomb guard: 14-bit dims cap VP8 at 16383^2 anyway
MAX_PIXELS = 1 << 26


class _Bool:
    """Boolean arithmetic decoder, RFC 6386 §7.3. Reads zeros past
    the end of its partition (spec-sanctioned tail behavior)."""

    __slots__ = ("data", "pos", "range", "value", "bit_count")

    def __init__(self, data: bytes) -> None:
        self.data = data
        v = 0
        for i in range(2):
            v = (v << 8) | (data[i] if i < len(data) else 0)
        self.pos = 2
        self.value = v
        self.range = 255
        self.bit_count = 0

    def get(self, prob: int) -> int:
        rng = self.range
        split = 1 + (((rng - 1) * prob) >> 8)
        big = split << 8
        v = self.value
        if v >= big:
            bit = 1
            rng -= split
            v -= big
        else:
            bit = 0
            rng = split
        bc = self.bit_count
        while rng < 128:
            v <<= 1
            rng <<= 1
            bc += 1
            if bc == 8:
                bc = 0
                d = self.data
                p = self.pos
                if p < len(d):
                    v |= d[p]
                    self.pos = p + 1
        self.value = v
        self.range = rng
        self.bit_count = bc
        return bit

    def literal(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.get(128)
        return v

    def signed_literal(self, n: int) -> int:
        v = self.literal(n)
        return -v if self.get(128) else v

    def delta(self, n: int) -> int:
        """flag; if set, magnitude + sign (the header's update
        pattern for quantizer / loop-filter deltas)."""
        return self.signed_literal(n) if self.get(128) else 0

    def tree(self, tree: tuple, probs, start: int = 0) -> int:
        i = tree[start + self.get(probs[start >> 1])]
        while i > 0:
            i = tree[i + self.get(probs[i >> 1])]
        return -i


def _clamp_q(x: int) -> int:
    return 0 if x < 0 else 127 if x > 127 else x


def _iwht4x4(block) -> list:
    """Inverse Walsh-Hadamard (Y2 DC scatter), RFC 6386 §14.3."""
    t = [0] * 16
    for i in range(4):
        a1 = block[i] + block[12 + i]
        b1 = block[4 + i] + block[8 + i]
        c1 = block[4 + i] - block[8 + i]
        d1 = block[i] - block[12 + i]
        t[i] = a1 + b1
        t[4 + i] = c1 + d1
        t[8 + i] = a1 - b1
        t[12 + i] = d1 - c1
    out = [0] * 16
    for i in range(4):
        r = 4 * i
        a1 = t[r] + t[r + 3]
        b1 = t[r + 1] + t[r + 2]
        c1 = t[r + 1] - t[r + 2]
        d1 = t[r] - t[r + 3]
        out[r] = (a1 + b1 + 3) >> 3
        out[r + 1] = (c1 + d1 + 3) >> 3
        out[r + 2] = (a1 - b1 + 3) >> 3
        out[r + 3] = (d1 - c1 + 3) >> 3
    return out


_COS = 20091  # cospi8sqrt2 - 1, Q16 (RFC 6386 §14.4)
_SIN = 35468  # sinpi8sqrt2, Q16


def _idct_many(blocks: np.ndarray) -> np.ndarray:
    """Vectorized 4x4 inverse DCT over (n, 16) int64 coefficient
    rows -> (n, 4, 4) residuals. RFC 6386 §14.4 fixed-point math."""
    b = blocks.reshape(-1, 4, 4)
    # column pass
    a1 = b[:, 0] + b[:, 2]
    b1 = b[:, 0] - b[:, 2]
    c1 = ((b[:, 1] * _SIN) >> 16) - (b[:, 3] + ((b[:, 3] * _COS) >> 16))
    d1 = (b[:, 1] + ((b[:, 1] * _COS) >> 16)) + ((b[:, 3] * _SIN) >> 16)
    t = np.empty_like(b)
    t[:, 0] = a1 + d1
    t[:, 3] = a1 - d1
    t[:, 1] = b1 + c1
    t[:, 2] = b1 - c1
    # row pass with (x + 4) >> 3 rounding
    a1 = t[:, :, 0] + t[:, :, 2]
    b1 = t[:, :, 0] - t[:, :, 2]
    c1 = ((t[:, :, 1] * _SIN) >> 16) - (t[:, :, 3] + ((t[:, :, 3] * _COS) >> 16))
    d1 = (t[:, :, 1] + ((t[:, :, 1] * _COS) >> 16)) + ((t[:, :, 3] * _SIN) >> 16)
    out = np.empty_like(b)
    out[:, :, 0] = (a1 + d1 + 4) >> 3
    out[:, :, 3] = (a1 - d1 + 4) >> 3
    out[:, :, 1] = (b1 + c1 + 4) >> 3
    out[:, :, 2] = (b1 - c1 + 4) >> 3
    return out


def _decode_block(tb, out, probs_plane, first, ctx, dc_q, ac_q) -> int:
    """One 4x4 coefficient block (RFC 6386 §13.3): returns the
    has-nonzero flag used as above/left context. `out` is a 16-slot
    int list written in raster order, already dequantized."""
    n = first
    p = probs_plane[COEFF_BANDS[n]][ctx]
    nz = 0
    start = 0
    get = tb.get
    tree = tb.tree
    while n < 16:
        token = tree(COEFF_TREE, p, start)
        if token == TOK_EOB:
            break
        if token == 0:
            start = 2  # EOB cannot immediately follow a zero
            n += 1
            if n == 16:
                break
            p = probs_plane[COEFF_BANDS[n]][0]
            continue
        start = 0
        if token < TOK_CAT1:
            v = token
            nctx = 1 if v == 1 else 2
        else:
            cat = token - TOK_CAT1
            extra = 0
            for pb in CAT_PROBS[cat]:
                extra = (extra << 1) | get(pb)
            v = CAT_BASE[cat] + extra
            nctx = 2
        if get(128):
            v = -v
        out[ZIGZAG[n]] = v * (dc_q if n == 0 else ac_q)
        nz = 1
        n += 1
        if n < 16:
            p = probs_plane[COEFF_BANDS[n]][nctx]
    return nz


# ------------------------------------------------------ intra predict


def _pred_dc(above, left, have_a, have_l, size):
    if have_a and have_l:
        dc = (int(above.sum()) + int(left.sum()) + size) >> _log2(2 * size)
    elif have_a:
        dc = (int(above.sum()) + (size >> 1)) >> _log2(size)
    elif have_l:
        dc = (int(left.sum()) + (size >> 1)) >> _log2(size)
    else:
        dc = 128
    return np.full((size, size), dc, np.int32)


def _log2(n: int) -> int:
    return n.bit_length() - 1


def _pred_block(mode, above, left, al, size):
    """16x16 / 8x8 whole-block intra prediction (RFC 6386 §12.2).
    `above`/`left` are int32 vectors already defaulted at edges;
    have-flags are encoded by passing None."""
    if mode == DC_PRED:
        return _pred_dc(
            above if above is not None else np.empty(0, np.int64),
            left if left is not None else np.empty(0, np.int64),
            above is not None,
            left is not None,
            size,
        )
    a = above if above is not None else np.full(size, 127, np.int32)
    lf = left if left is not None else np.full(size, 129, np.int32)
    if mode == V_PRED:
        return np.broadcast_to(a, (size, size)).astype(np.int32)
    if mode == H_PRED:
        return np.broadcast_to(lf[:, None], (size, size)).astype(np.int32)
    # TM_PRED
    return np.clip(lf[:, None] + a[None, :] - al, 0, 255).astype(np.int32)


def _avg2(a, b):
    return (a + b + 1) >> 1


def _avg3(a, b, c):
    return (a + 2 * b + c + 2) >> 2


def _pred_b(mode, ctx):
    """4x4 subblock prediction (RFC 6386 §12.3). ctx is the 13-pixel
    context [L3,L2,L1,L0, X, A0..A3, R0..R3] as plain ints."""
    L3, L2, L1, L0, X, A0, A1, A2, A3, R0, R1, R2, R3 = ctx
    o = [[0] * 4 for _ in range(4)]
    if mode == B_DC:
        dc = (L0 + L1 + L2 + L3 + A0 + A1 + A2 + A3 + 4) >> 3
        return [[dc] * 4 for _ in range(4)]
    if mode == B_TM:
        L = (L0, L1, L2, L3)
        A = (A0, A1, A2, A3)
        for r in range(4):
            for c in range(4):
                v = L[r] + A[c] - X
                o[r][c] = 0 if v < 0 else 255 if v > 255 else v
        return o
    if mode == 2:  # B_VE
        row = (_avg3(X, A0, A1), _avg3(A0, A1, A2), _avg3(A1, A2, A3),
               _avg3(A2, A3, R0))
        return [list(row) for _ in range(4)]
    if mode == 3:  # B_HE
        col = (_avg3(X, L0, L1), _avg3(L0, L1, L2), _avg3(L1, L2, L3),
               _avg3(L2, L3, L3))
        return [[col[r]] * 4 for r in range(4)]
    if mode == 4:  # B_LD (down-left)
        d = (_avg3(A0, A1, A2), _avg3(A1, A2, A3), _avg3(A2, A3, R0),
             _avg3(A3, R0, R1), _avg3(R0, R1, R2), _avg3(R1, R2, R3),
             _avg3(R2, R3, R3))
        for r in range(4):
            for c in range(4):
                o[r][c] = d[r + c]
        return o
    if mode == 5:  # B_RD (down-right)
        d = (_avg3(L3, L2, L1), _avg3(L2, L1, L0), _avg3(L1, L0, X),
             _avg3(L0, X, A0), _avg3(X, A0, A1), _avg3(A0, A1, A2),
             _avg3(A1, A2, A3))
        for r in range(4):
            for c in range(4):
                o[r][c] = d[3 + c - r]
        return o
    if mode == 6:  # B_VR (vertical-right)
        o[0] = [_avg2(X, A0), _avg2(A0, A1), _avg2(A1, A2), _avg2(A2, A3)]
        o[1] = [_avg3(L0, X, A0), _avg3(X, A0, A1), _avg3(A0, A1, A2),
                _avg3(A1, A2, A3)]
        o[2] = [_avg3(X, L0, L1)] + o[0][:3]
        o[3] = [_avg3(L0, L1, L2)] + o[1][:3]
        return o
    if mode == 7:  # B_VL (vertical-left)
        o[0] = [_avg2(A0, A1), _avg2(A1, A2), _avg2(A2, A3), _avg2(A3, R0)]
        o[1] = [_avg3(A0, A1, A2), _avg3(A1, A2, A3), _avg3(A2, A3, R0),
                _avg3(A3, R0, R1)]
        o[2] = o[0][1:] + [_avg3(R0, R1, R2)]
        o[3] = o[1][1:] + [_avg3(R1, R2, R3)]
        return o
    if mode == 8:  # B_HD (horizontal-down)
        o[0] = [_avg2(X, L0), _avg3(L0, X, A0), _avg3(X, A0, A1),
                _avg3(A0, A1, A2)]
        o[1] = [_avg2(L0, L1), _avg3(X, L0, L1)] + o[0][:2]
        o[2] = [_avg2(L1, L2), _avg3(L0, L1, L2)] + o[1][:2]
        o[3] = [_avg2(L2, L3), _avg3(L1, L2, L3)] + o[2][:2]
        return o
    # B_HU (horizontal-up)
    o[0] = [_avg2(L0, L1), _avg3(L0, L1, L2), _avg2(L1, L2),
            _avg3(L1, L2, L3)]
    o[1] = [_avg2(L1, L2), _avg3(L1, L2, L3), _avg2(L2, L3),
            _avg3(L2, L3, L3)]
    o[2] = [_avg2(L2, L3), _avg3(L2, L3, L3), L3, L3]
    o[3] = [L3, L3, L3, L3]
    return o


# ---------------------------------------------------------- loop filter


def _c(x):
    return np.clip(x, -128, 127)


def _edge_px(plane, y0, n, x, vertical):
    """Gather P3..Q3 (8 int32 line-vectors) across an edge."""
    if vertical:
        seg = plane[y0 : y0 + n, x - 4 : x + 4].astype(np.int32)
        return [seg[:, i] for i in range(8)], (slice(y0, y0 + n), x)
    seg = plane[x - 4 : x + 4, y0 : y0 + n].astype(np.int32)
    return [seg[i, :] for i in range(8)], (x, slice(y0, y0 + n))


def _write_edge(plane, y0, n, x, vertical, cols):
    if vertical:
        for i, v in enumerate(cols):
            plane[y0 : y0 + n, x - 4 + i] = v.astype(np.uint8)
    else:
        for i, v in enumerate(cols):
            plane[x - 4 + i, y0 : y0 + n] = v.astype(np.uint8)


def _filter_normal(plane, y0, n, x, vertical, interior, edge_lim, hev_t,
                   mb_edge):
    px, _ = _edge_px(plane, y0, n, x, vertical)
    p3, p2, p1, p0, q0, q1, q2, q3 = px
    mask = (
        (np.abs(p3 - p2) <= interior)
        & (np.abs(p2 - p1) <= interior)
        & (np.abs(p1 - p0) <= interior)
        & (np.abs(q1 - q0) <= interior)
        & (np.abs(q2 - q1) <= interior)
        & (np.abs(q3 - q2) <= interior)
        & (np.abs(p0 - q0) * 2 + (np.abs(p1 - q1) >> 1) <= edge_lim)
    )
    if not mask.any():
        return
    hev = (np.abs(p1 - p0) > hev_t) | (np.abs(q1 - q0) > hev_t)
    ps = [v - 128 for v in (p3, p2, p1, p0)]
    qs = [v - 128 for v in (q0, q1, q2, q3)]
    # hev path: common_adjust with outer taps (both filters)
    a = _c(_c(ps[2] - qs[1]) + 3 * (qs[0] - ps[3]))
    f1 = _c(a + 4) >> 3
    f2 = _c(a + 3) >> 3
    h_q0 = _c(qs[0] - f1)
    h_p0 = _c(ps[3] + f2)
    if mb_edge:
        w = _c(_c(ps[2] - qs[1]) + 3 * (qs[0] - ps[3]))
        a27 = _c((27 * w + 63) >> 7)
        a18 = _c((18 * w + 63) >> 7)
        a9 = _c((9 * w + 63) >> 7)
        n_q0, n_p0 = _c(qs[0] - a27), _c(ps[3] + a27)
        n_q1, n_p1 = _c(qs[1] - a18), _c(ps[2] + a18)
        n_q2, n_p2 = _c(qs[2] - a9), _c(ps[1] + a9)
        sel_h = mask & hev
        sel_n = mask & ~hev
        out = [
            p3,
            np.where(sel_n, n_p2 + 128, p2),
            np.where(sel_n, n_p1 + 128, np.where(sel_h, ps[2] + 128, p1)),
            np.where(sel_n, n_p0 + 128, np.where(sel_h, h_p0 + 128, p0)),
            np.where(sel_n, n_q0 + 128, np.where(sel_h, h_q0 + 128, q0)),
            np.where(sel_n, n_q1 + 128, q1),
            np.where(sel_n, n_q2 + 128, q2),
            q3,
        ]
    else:
        # subblock: common_adjust(use_outer_taps=hev) then p1/q1 nudge
        a0 = _c(np.where(hev, _c(ps[2] - qs[1]), 0) + 3 * (qs[0] - ps[3]))
        f1 = _c(a0 + 4) >> 3
        f2 = _c(a0 + 3) >> 3
        s_q0 = _c(qs[0] - f1)
        s_p0 = _c(ps[3] + f2)
        a2 = (f1 + 1) >> 1
        s_q1 = _c(qs[1] - a2)
        s_p1 = _c(ps[2] + a2)
        sel = mask
        soft = mask & ~hev
        out = [
            p3,
            p2,
            np.where(soft, s_p1 + 128, p1),
            np.where(sel, s_p0 + 128, p0),
            np.where(sel, s_q0 + 128, q0),
            np.where(soft, s_q1 + 128, q1),
            q2,
            q3,
        ]
    _write_edge(plane, y0, n, x, vertical, out)


def _filter_simple(plane, y0, n, x, vertical, edge_lim):
    px, _ = _edge_px(plane, y0, n, x, vertical)
    _, _, p1, p0, q0, q1, _, _ = px
    mask = np.abs(p0 - q0) * 2 + (np.abs(p1 - q1) >> 1) <= edge_lim
    if not mask.any():
        return
    ps1, ps0, qs0, qs1 = p1 - 128, p0 - 128, q0 - 128, q1 - 128
    a = _c(_c(ps1 - qs1) + 3 * (qs0 - ps0))
    f1 = _c(a + 4) >> 3
    f2 = _c(a + 3) >> 3
    out = [
        px[0], px[1], px[2],
        np.where(mask, _c(ps0 + f2) + 128, p0),
        np.where(mask, _c(qs0 - f1) + 128, q0),
        px[5], px[6], px[7],
    ]
    _write_edge(plane, y0, n, x, vertical, out)


# ------------------------------------------------------------- decoder


def decode_vp8(data: bytes):
    """Decode a 'VP8 ' chunk payload -> (Y, U, V) uint8 planes,
    cropped to the frame size (U/V at half resolution, ceil)."""
    if len(data) < 10:
        raise Vp8ParseError("VP8 payload too short")
    tag = data[0] | (data[1] << 8) | (data[2] << 16)
    if tag & 1:
        raise Vp8ParseError("VP8 stream starts with an interframe")
    version = (tag >> 1) & 7
    if version > 3:
        raise Vp8ParseError(f"reserved VP8 profile {version}")
    first_size = tag >> 5
    if data[3:6] != b"\x9d\x01\x2a":
        raise Vp8ParseError("bad VP8 keyframe start code")
    w = struct.unpack("<H", data[6:8])[0] & 0x3FFF
    h = struct.unpack("<H", data[8:10])[0] & 0x3FFF
    if w == 0 or h == 0:
        raise Vp8ParseError("zero VP8 frame dimension")
    if w * h > MAX_PIXELS:
        raise Vp8ParseError(f"VP8 frame {w}x{h} exceeds pixel guard")
    body = data[10:]
    if first_size == 0 or first_size > len(body):
        raise Vp8ParseError("first partition empty or overruns payload")
    bd = _Bool(body[:first_size])

    # ---- frame header (§9.2-§9.11)
    if bd.literal(1):
        raise Vp8ParseError("reserved VP8 color space bit")
    bd.literal(1)  # clamping type: both kinds clamp identically here
    seg_enabled = bd.literal(1)
    seg_update_map = False
    seg_abs = False
    seg_tree_probs = [255, 255, 255]
    seg_q = [0] * 4
    seg_lf = [0] * 4
    if seg_enabled:
        seg_update_map = bd.literal(1)
        if bd.literal(1):  # update segment feature data
            seg_abs = bd.literal(1)
            seg_q = [bd.delta(7) for _ in range(4)]
            seg_lf = [bd.delta(6) for _ in range(4)]
        if seg_update_map:
            seg_tree_probs = [
                bd.literal(8) if bd.literal(1) else 255 for _ in range(3)
            ]
    simple_filter = bd.literal(1)
    filter_level = bd.literal(6)
    sharpness = bd.literal(3)
    ref_deltas = [0] * 4
    mode_deltas = [0] * 4
    lf_delta_enabled = bd.literal(1)
    if lf_delta_enabled and bd.literal(1):
        ref_deltas = [bd.delta(6) for _ in range(4)]
        mode_deltas = [bd.delta(6) for _ in range(4)]
    n_parts = 1 << bd.literal(2)
    rest = body[first_size:]
    parts = []
    if n_parts > 1:
        need = 3 * (n_parts - 1)
        if len(rest) < need:
            raise Vp8ParseError("truncated token partition size table")
        ptr = need
        for i in range(n_parts - 1):
            (s,) = struct.unpack("<I", rest[i * 3 : i * 3 + 3] + b"\0")
            if ptr + s > len(rest):
                raise Vp8ParseError("token partition overruns payload")
            parts.append(rest[ptr : ptr + s])
            ptr += s
        parts.append(rest[ptr:])
    else:
        parts.append(rest)
    token_bd = [_Bool(p) for p in parts]

    y_ac_qi = bd.literal(7)
    y1dc_d = bd.delta(4)
    y2dc_d = bd.delta(4)
    y2ac_d = bd.delta(4)
    uvdc_d = bd.delta(4)
    uvac_d = bd.delta(4)
    bd.literal(1)  # refresh entropy probs: single-frame decode

    # token probability updates (§13.4)
    probs = [
        [
            [
                list(COEFF_PROBS[((i * 8 + j) * 3 + k) * 11 : ((i * 8 + j) * 3 + k) * 11 + 11])
                for k in range(3)
            ]
            for j in range(8)
        ]
        for i in range(4)
    ]
    for i in range(4):
        for j in range(8):
            for k in range(3):
                row = probs[i][j][k]
                base = ((i * 8 + j) * 3 + k) * 11
                for l in range(11):
                    if bd.get(COEFF_UPDATE_PROBS[base + l]):
                        row[l] = bd.literal(8)
    mb_skip_enabled = bd.literal(1)
    prob_skip = bd.literal(8) if mb_skip_enabled else 0

    # per-segment dequant factors (§14.1)
    dq = []
    for s in range(4):
        if seg_enabled:
            q = seg_q[s] if seg_abs else y_ac_qi + seg_q[s]
        else:
            q = y_ac_qi
        q = _clamp_q(q)
        dq.append((
            DC_QLOOKUP[_clamp_q(q + y1dc_d)],
            AC_QLOOKUP[q],
            DC_QLOOKUP[_clamp_q(q + y2dc_d)] * 2,
            max(8, AC_QLOOKUP[_clamp_q(q + y2ac_d)] * 155 // 100),
            min(132, DC_QLOOKUP[_clamp_q(q + uvdc_d)]),
            AC_QLOOKUP[_clamp_q(q + uvac_d)],
        ))

    mb_w = (w + 15) >> 4
    mb_h = (h + 15) >> 4

    # ---- mode pass (§11): all MB records live in the first partition
    seg_ids = np.zeros((mb_h, mb_w), np.int32)
    skips = np.zeros((mb_h, mb_w), np.bool_)
    ymodes = np.zeros((mb_h, mb_w), np.int32)
    uvmodes = np.zeros((mb_h, mb_w), np.int32)
    bmodes = np.zeros((mb_h, mb_w, 16), np.int32)
    above_bm = [[B_DC] * 4 for _ in range(mb_w)]
    for my in range(mb_h):
        left_bm = [B_DC] * 4
        for mx in range(mb_w):
            if seg_update_map:
                seg_ids[my, mx] = bd.tree(SEGMENT_TREE, seg_tree_probs)
            if mb_skip_enabled:
                skips[my, mx] = bd.get(prob_skip)
            ym = bd.tree(KF_YMODE_TREE, KF_YMODE_PROBS)
            ymodes[my, mx] = ym
            if ym == B_PRED:
                local = [0] * 16
                for sb in range(16):
                    sy, sx = sb >> 2, sb & 3
                    a = above_bm[mx][sx] if sy == 0 else local[sb - 4]
                    lft = left_bm[sy] if sx == 0 else local[sb - 1]
                    base = (a * 10 + lft) * 9
                    local[sb] = bd.tree(
                        BMODE_TREE, KF_BMODE_PROBS[base : base + 9]
                    )
                bmodes[my, mx] = local
                above_bm[mx] = local[12:]
                left_bm = local[3::4]
            else:
                bm = MODE_TO_BMODE[ym]
                bmodes[my, mx] = bm
                above_bm[mx] = [bm] * 4
                left_bm = [bm] * 4
            uvmodes[my, mx] = bd.tree(UV_MODE_TREE, KF_UV_MODE_PROBS)

    # ---- coefficient + reconstruction pass
    Y = np.empty((mb_h * 16, mb_w * 16), np.uint8)
    U = np.empty((mb_h * 8, mb_w * 8), np.uint8)
    V = np.empty((mb_h * 8, mb_w * 8), np.uint8)
    has_coeffs = np.zeros((mb_h, mb_w), np.bool_)
    above_nz = np.zeros((mb_w, 9), np.int32)
    coeffs = np.zeros((25, 16), np.int64)
    for my in range(mb_h):
        left_nz = np.zeros(9, np.int32)
        tb = token_bd[my % n_parts]
        for mx in range(mb_w):
            ym = int(ymodes[my, mx])
            has_y2 = ym != B_PRED
            d = dq[int(seg_ids[my, mx])]
            coeffs[:] = 0
            a_nz = above_nz[mx]
            nonzero = False
            if skips[my, mx]:
                a_nz[0:8] = 0
                left_nz[0:8] = 0
                if has_y2:
                    a_nz[8] = 0
                    left_nz[8] = 0
            else:
                if has_y2:
                    c24 = [0] * 16
                    nz = _decode_block(
                        tb, c24, probs[1], 0,
                        int(a_nz[8] + left_nz[8]), d[2], d[3],
                    )
                    a_nz[8] = left_nz[8] = nz
                    nonzero |= bool(nz)
                    dcs = _iwht4x4(c24)
                    plane_y, first = 0, 1
                else:
                    dcs = None
                    plane_y, first = 3, 0
                py = probs[plane_y]
                for sb in range(16):
                    sy, sx = sb >> 2, sb & 3
                    blk = [0] * 16
                    nz = _decode_block(
                        tb, blk, py, first,
                        int(a_nz[sx] + left_nz[sy]), d[0], d[1],
                    )
                    if dcs is not None:
                        blk[0] = dcs[sb]
                    coeffs[sb] = blk
                    a_nz[sx] = left_nz[sy] = nz
                    nonzero |= bool(nz)
                pu = probs[2]
                for pl, base in ((0, 16), (1, 20)):
                    for sb in range(4):
                        sy, sx = sb >> 1, sb & 1
                        blk = [0] * 16
                        nz = _decode_block(
                            tb, blk, pu, 0,
                            int(a_nz[4 + 2 * pl + sx] + left_nz[4 + 2 * pl + sy]),
                            d[4], d[5],
                        )
                        coeffs[base + sb] = blk
                        a_nz[4 + 2 * pl + sx] = left_nz[4 + 2 * pl + sy] = nz
                        nonzero |= bool(nz)
                if has_y2 and dcs is not None and any(dcs):
                    nonzero = True
            has_coeffs[my, mx] = nonzero
            _reconstruct_mb(
                Y, U, V, my, mx, mb_w, mb_h, ym,
                int(uvmodes[my, mx]), bmodes[my, mx], coeffs,
            )

    # ---- loop filter (§15), full-frame pass in raster order
    if filter_level > 0:
        _filter_frame(
            Y, U, V, mb_w, mb_h, simple_filter, filter_level, sharpness,
            seg_enabled, seg_abs, seg_lf, seg_ids, lf_delta_enabled,
            ref_deltas, mode_deltas, ymodes, has_coeffs, skips,
        )

    return (
        Y[:h, :w],
        U[: (h + 1) >> 1, : (w + 1) >> 1],
        V[: (h + 1) >> 1, : (w + 1) >> 1],
    )


def _mb_context(plane, my, mx, mb_w, size):
    """(above[size], left[size], above_left) for a whole-MB predictor,
    None when off-frame (DC uses availability; V/H/TM use 127/129)."""
    y0, x0 = my * size, mx * size
    above = plane[y0 - 1, x0 : x0 + size].astype(np.int64) if my > 0 else None
    left = plane[y0 : y0 + size, x0 - 1].astype(np.int64) if mx > 0 else None
    if my > 0 and mx > 0:
        al = int(plane[y0 - 1, x0 - 1])
    elif my > 0:
        al = 129
    else:
        al = 127
    return above, left, al


def _reconstruct_mb(Y, U, V, my, mx, mb_w, mb_h, ym, uvm, bm, coeffs):
    y0, x0 = my * 16, mx * 16
    resid = _idct_many(coeffs[:16])
    if ym != B_PRED:
        above, left, al = _mb_context(Y, my, mx, mb_w, 16)
        pred = _pred_block(ym, above, left, al, 16)
        block = pred.reshape(4, 4, 4, 4).transpose(0, 2, 1, 3).reshape(16, 4, 4)
        out = np.clip(block + resid, 0, 255).astype(np.uint8)
        Y[y0 : y0 + 16, x0 : x0 + 16] = (
            out.reshape(4, 4, 4, 4).transpose(0, 2, 1, 3).reshape(16, 16)
        )
    else:
        # B_PRED: 20-px above row (incl. above-right quirk) + per-
        # subblock reconstruction in raster order
        arow = np.empty(20, np.int64)
        if my > 0:
            arow[:16] = Y[y0 - 1, x0 : x0 + 16]
            if mx < mb_w - 1:
                arow[16:] = Y[y0 - 1, x0 + 16 : x0 + 20]
            else:
                arow[16:] = Y[y0 - 1, x0 + 15]
        else:
            arow[:] = 127
        for sb in range(16):
            sy, sx = sb >> 2, sb & 3
            py, px = y0 + sy * 4, x0 + sx * 4
            # above 4 + above-right 4
            if sy == 0:
                a4 = arow[sx * 4 : sx * 4 + 4]
            else:
                a4 = Y[py - 1, px : px + 4].astype(np.int64)
            if sx == 3:
                r4 = arow[16:20]
            elif sy == 0:
                r4 = arow[sx * 4 + 4 : sx * 4 + 8]
            else:
                r4 = Y[py - 1, px + 4 : px + 8].astype(np.int64)
            # left 4 + above-left
            if px > 0:
                l4 = Y[py : py + 4, px - 1].astype(np.int64)
            else:
                l4 = np.full(4, 129, np.int64)
            if sy > 0 and px > 0:
                x_al = int(Y[py - 1, px - 1])
            elif sy > 0:  # px == 0: frame left edge
                x_al = 129
            elif sx > 0:
                x_al = int(arow[sx * 4 - 1])
            else:
                x_al = 127 if my == 0 else (129 if mx == 0 else int(Y[y0 - 1, x0 - 1]))
            ctx = (
                int(l4[3]), int(l4[2]), int(l4[1]), int(l4[0]), x_al,
                int(a4[0]), int(a4[1]), int(a4[2]), int(a4[3]),
                int(r4[0]), int(r4[1]), int(r4[2]), int(r4[3]),
            )
            pred = np.array(_pred_b(int(bm[sb]), ctx), np.int64)
            Y[py : py + 4, px : px + 4] = np.clip(
                pred + resid[sb], 0, 255
            ).astype(np.uint8)
    # chroma
    residu = _idct_many(coeffs[16:20])
    residv = _idct_many(coeffs[20:24])
    for plane, res in ((U, residu), (V, residv)):
        above, left, al = _mb_context(plane, my, mx, mb_w, 8)
        pred = _pred_block(uvm, above, left, al, 8)
        c0, cx0 = my * 8, mx * 8
        block = pred.reshape(2, 4, 2, 4).transpose(0, 2, 1, 3).reshape(4, 4, 4)
        out = np.clip(block + res, 0, 255).astype(np.uint8)
        plane[c0 : c0 + 8, cx0 : cx0 + 8] = (
            out.reshape(2, 2, 4, 4).transpose(0, 2, 1, 3).reshape(8, 8)
        )


def _filter_frame(Y, U, V, mb_w, mb_h, simple, base_level, sharpness,
                  seg_enabled, seg_abs, seg_lf, seg_ids, lf_delta,
                  ref_deltas, mode_deltas, ymodes, has_coeffs, skips):
    for my in range(mb_h):
        for mx in range(mb_w):
            lvl = base_level
            if seg_enabled:
                s = int(seg_ids[my, mx])
                lvl = seg_lf[s] if seg_abs else lvl + seg_lf[s]
                lvl = max(0, min(63, lvl))
            if lf_delta:
                lvl += ref_deltas[0]  # keyframe MBs are INTRA
                if ymodes[my, mx] == B_PRED:
                    lvl += mode_deltas[0]
                lvl = max(0, min(63, lvl))
            if lvl == 0:
                continue
            interior = lvl
            if sharpness:
                interior >>= 2 if sharpness > 4 else 1
                interior = min(interior, 9 - sharpness)
            interior = max(1, interior)
            mb_lim = ((lvl + 2) * 2) + interior
            sub_lim = (lvl * 2) + interior
            hev_t = 2 if lvl >= 40 else (1 if lvl >= 15 else 0)
            inner = bool(has_coeffs[my, mx]) or ymodes[my, mx] == B_PRED
            y0, x0 = my * 16, mx * 16
            c0, cx0 = my * 8, mx * 8
            if simple:
                if mx > 0:
                    _filter_simple(Y, y0, 16, x0, True, mb_lim)
                if inner:
                    for dx in (4, 8, 12):
                        _filter_simple(Y, y0, 16, x0 + dx, True, sub_lim)
                if my > 0:
                    _filter_simple(Y, x0, 16, y0, False, mb_lim)
                if inner:
                    for dy in (4, 8, 12):
                        _filter_simple(Y, x0, 16, y0 + dy, False, sub_lim)
                continue
            if mx > 0:
                _filter_normal(Y, y0, 16, x0, True, interior, mb_lim,
                               hev_t, True)
                _filter_normal(U, c0, 8, cx0, True, interior, mb_lim,
                               hev_t, True)
                _filter_normal(V, c0, 8, cx0, True, interior, mb_lim,
                               hev_t, True)
            if inner:
                for dx in (4, 8, 12):
                    _filter_normal(Y, y0, 16, x0 + dx, True, interior,
                                   sub_lim, hev_t, False)
                _filter_normal(U, c0, 8, cx0 + 4, True, interior, sub_lim,
                               hev_t, False)
                _filter_normal(V, c0, 8, cx0 + 4, True, interior, sub_lim,
                               hev_t, False)
            if my > 0:
                _filter_normal(Y, x0, 16, y0, False, interior, mb_lim,
                               hev_t, True)
                _filter_normal(U, cx0, 8, c0, False, interior, mb_lim,
                               hev_t, True)
                _filter_normal(V, cx0, 8, c0, False, interior, mb_lim,
                               hev_t, True)
            if inner:
                for dy in (4, 8, 12):
                    _filter_normal(Y, x0, 16, y0 + dy, False, interior,
                                   sub_lim, hev_t, False)
                _filter_normal(U, cx0, 8, c0 + 4, False, interior, sub_lim,
                               hev_t, False)
                _filter_normal(V, cx0, 8, c0 + 4, False, interior, sub_lim,
                               hev_t, False)


def yuv_to_rgb(y: np.ndarray, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """ITU-R BT.601 limited-range YUV420 -> RGB, nearest-neighbor
    chroma upsampling. Deliberately the plain integer matrix (not
    libwebp's fancy bilinear upsampler): the conversion choice is
    documented engine behavior; VP8 conformance itself is pinned on
    the Y/U/V planes by tests/test_vp8_parity.py."""
    h, w = y.shape
    uu = np.repeat(np.repeat(u, 2, 0), 2, 1)[:h, :w].astype(np.int32) - 128
    vv = np.repeat(np.repeat(v, 2, 0), 2, 1)[:h, :w].astype(np.int32) - 128
    c = y.astype(np.int32) - 16
    r = (298 * c + 409 * vv + 128) >> 8
    g = (298 * c - 100 * uu - 208 * vv + 128) >> 8
    b = (298 * c + 516 * uu + 128) >> 8
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


# ------------------------------------------------------------- encoder
#
# A minimal VP8 keyframe ENCODER — enough spec surface to build test
# fixtures and oracle streams without libwebp: 16x16 DC-predicted
# macroblocks carrying exact per-MB constants (closed-form oracle
# fixtures, filter level 0), plus arbitrary quantized Y levels and
# the filter/partition/segment/skip knobs so reverse-parity tests can
# exercise decoder paths (simple filter, sharpness, 2/4/8 token
# partitions) that libwebp's encoder never emits. Always writes
# default probability tables (update flags all zero).


class _BoolEnc:
    """Boolean arithmetic encoder, RFC 6386 §8."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.range = 255
        self.bottom = 0
        self.bit_count = 24

    def _carry(self) -> None:
        i = len(self.out) - 1
        while i >= 0 and self.out[i] == 255:
            self.out[i] = 0
            i -= 1
        if i >= 0:
            self.out[i] += 1

    def put(self, bit: int, prob: int) -> None:
        split = 1 + (((self.range - 1) * prob) >> 8)
        if bit:
            self.bottom += split
            self.range -= split
        else:
            self.range = split
        while self.range < 128:
            self.range <<= 1
            if self.bottom & (1 << 31):
                self._carry()
            self.bottom = (self.bottom << 1) & 0xFFFFFFFF
            self.bit_count -= 1
            if self.bit_count == 0:
                self.out.append((self.bottom >> 24) & 0xFF)
                self.bottom &= 0xFFFFFF
                self.bit_count = 8

    def literal(self, v: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.put((v >> i) & 1, 128)

    def tree(self, tree: tuple, probs, leaf: int, start: int = 0) -> None:
        # depth-first search for the bit path root->leaf
        def walk(i: int, path):
            for bit in (0, 1):
                t = tree[i + bit]
                if t <= 0:
                    if -t == leaf:
                        return path + [(i >> 1, bit)]
                elif (found := walk(t, path + [(i >> 1, bit)])) is not None:
                    return found
            return None

        for prob_i, bit in walk(start, []):
            self.put(bit, probs[prob_i])

    def flush(self) -> bytes:
        c = self.bit_count
        v = self.bottom
        if v & (1 << (32 - c)):
            self._carry()
        v = (v << (c & 7)) & 0xFFFFFFFF
        c >>= 3
        while c > 0:
            v = (v << 8) & 0xFFFFFFFF
            c -= 1
        for _ in range(4):
            self.out.append((v >> 24) & 0xFF)
            v = (v << 8) & 0xFFFFFFFF
        return bytes(self.out)


def _enc_block_tokens(be, levels, probs_plane, first, ctx) -> int:
    """Mirror of _decode_block: emit tokens for zigzag-ordered
    quantized levels. Returns the has-nonzero flag."""
    last = -1
    for i in range(15, first - 1, -1):
        if levels[i]:
            last = i
            break
    n = first
    p = probs_plane[COEFF_BANDS[n]][ctx]
    start = 0
    while n <= last:
        v = levels[n]
        a = abs(v)
        if a == 0:
            be.tree(COEFF_TREE, p, 0, start)
            start = 2
            n += 1
            p = probs_plane[COEFF_BANDS[n]][0]
            continue
        if a <= 4:
            be.tree(COEFF_TREE, p, a, start)
            nctx = 1 if a == 1 else 2
        else:
            for cat in range(5, -1, -1):
                if a >= CAT_BASE[cat]:
                    break
            be.tree(COEFF_TREE, p, TOK_CAT1 + cat, start)
            extra = a - CAT_BASE[cat]
            cp = CAT_PROBS[cat]
            for i, pb in enumerate(cp):
                be.put((extra >> (len(cp) - 1 - i)) & 1, pb)
            nctx = 2
        be.put(1 if v < 0 else 0, 128)
        start = 0
        n += 1
        if n < 16:
            p = probs_plane[COEFF_BANDS[n]][nctx]
    if last < 15:
        be.tree(COEFF_TREE, p, TOK_EOB, start)
    return 1 if last >= first else 0


_DEFAULT_PROBS = [
    [
        [
            list(COEFF_PROBS[((i * 8 + j) * 3 + k) * 11 : ((i * 8 + j) * 3 + k) * 11 + 11])
            for k in range(3)
        ]
        for j in range(8)
    ]
    for i in range(4)
]


def encode_vp8(mb_vals, *, q_index: int = 0, filter_type: int = 0,
               filter_level: int = 0, sharpness: int = 0,
               n_partitions: int = 1, use_skip: bool = False,
               y_levels=None) -> bytes:
    """Encode a grayscale keyframe of per-macroblock constants
    (``mb_vals``: (mb_h, mb_w) uint8) as a 'VP8 ' chunk payload.

    Every MB is 16x16 DC_PRED with a single Y2 DC level chosen in
    closed form so the decoded pixels equal ``mb_vals`` EXACTLY when
    ``q_index`` is 0 (y2dc quantizer 8: level = 8 * residual survives
    (level*8+3)>>3 and (8r+4)>>3 bit-perfectly); chroma is all-zero
    (U = V = 128). ``y_levels`` optionally adds per-MB quantized Y AC
    levels ((mb_h, mb_w, 16, 16) zigzag order) for reverse-parity
    stress streams — exactness then no longer holds, conformance is
    checked against libwebp instead."""
    mb_vals = np.asarray(mb_vals, np.int64)
    mb_h, mb_w = mb_vals.shape
    w, h = mb_w * 16, mb_h * 16

    be = _BoolEnc()
    be.literal(0, 1)  # color space
    be.literal(0, 1)  # clamping
    be.literal(0, 1)  # segmentation disabled
    be.literal(filter_type & 1, 1)
    be.literal(filter_level, 6)
    be.literal(sharpness, 3)
    be.literal(0, 1)  # loop-filter deltas disabled
    log2p = {1: 0, 2: 1, 4: 2, 8: 3}[n_partitions]
    be.literal(log2p, 2)
    be.literal(q_index, 7)  # y_ac_qi
    for _ in range(5):  # y1dc/y2dc/y2ac/uvdc/uvac deltas absent
        be.put(0, 128)
    be.literal(1, 1)  # refresh entropy probs
    for i in range(1056):
        be.put(0, COEFF_UPDATE_PROBS[i])
    be.literal(1 if use_skip else 0, 1)
    prob_skip = 128
    if use_skip:
        be.literal(prob_skip, 8)

    # closed-form DC_PRED reconstruction plan (all-constant MBs)
    pred = np.zeros((mb_h, mb_w), np.int64)
    for my in range(mb_h):
        for mx in range(mb_w):
            if my == 0 and mx == 0:
                pred[my, mx] = 128
            elif my == 0:
                pred[my, mx] = mb_vals[my, mx - 1]
            elif mx == 0:
                pred[my, mx] = mb_vals[my - 1, mx]
            else:
                pred[my, mx] = (
                    mb_vals[my - 1, mx] + mb_vals[my, mx - 1] + 1
                ) >> 1
    resid = mb_vals - pred

    # mode records (first partition): skip only when truly empty
    for my in range(mb_h):
        for mx in range(mb_w):
            empty = resid[my, mx] == 0 and (
                y_levels is None or not np.any(y_levels[my, mx])
            )
            if use_skip:
                be.put(1 if empty else 0, prob_skip)
            be.tree(KF_YMODE_TREE, KF_YMODE_PROBS, DC_PRED)
            be.tree(UV_MODE_TREE, KF_UV_MODE_PROBS, DC_PRED)

    # token partitions
    tps = [_BoolEnc() for _ in range(n_partitions)]
    above_nz = np.zeros((mb_w, 9), np.int32)
    for my in range(mb_h):
        left_nz = np.zeros(9, np.int32)
        te = tps[my % n_partitions]
        for mx in range(mb_w):
            empty = resid[my, mx] == 0 and (
                y_levels is None or not np.any(y_levels[my, mx])
            )
            a_nz = above_nz[mx]
            if use_skip and empty:
                a_nz[:] = 0
                left_nz[:] = 0
                continue
            y2 = [0] * 16
            y2[0] = int(resid[my, mx]) * 8
            nz = _enc_block_tokens(
                te, y2, _DEFAULT_PROBS[1], 0, int(a_nz[8] + left_nz[8])
            )
            a_nz[8] = left_nz[8] = nz
            for sb in range(16):
                sy, sx = sb >> 2, sb & 3
                lv = (
                    [int(x) for x in y_levels[my, mx, sb]]
                    if y_levels is not None
                    else [0] * 16
                )
                lv[0] = 0  # DC comes from Y2
                nz = _enc_block_tokens(
                    te, lv, _DEFAULT_PROBS[0], 1,
                    int(a_nz[sx] + left_nz[sy]),
                )
                a_nz[sx] = left_nz[sy] = nz
            for pl in range(2):
                for sb in range(4):
                    sy, sx = sb >> 1, sb & 1
                    nz = _enc_block_tokens(
                        te, [0] * 16, _DEFAULT_PROBS[2], 0,
                        int(a_nz[4 + 2 * pl + sx] + left_nz[4 + 2 * pl + sy]),
                    )
                    a_nz[4 + 2 * pl + sx] = left_nz[4 + 2 * pl + sy] = nz

    part1 = be.flush()
    parts = [t.flush() for t in tps]
    tag = (len(part1) << 5) | (1 << 4) | (0 << 1) | 0
    head = bytes((tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF))
    head += b"\x9d\x01\x2a"
    head += struct.pack("<HH", w, h)
    size_table = b"".join(
        struct.pack("<I", len(p))[:3] for p in parts[:-1]
    )
    return head + part1 + size_table + b"".join(parts)


def encode_webp_lossy(mb_vals, **kwargs) -> bytes:
    """encode_vp8 wrapped in the RIFF/WEBP container."""
    chunk = encode_vp8(mb_vals, **kwargs)
    if len(chunk) & 1:
        padded = chunk + b"\x00"
    else:
        padded = chunk
    riff_size = 4 + 8 + len(padded)
    return (
        b"RIFF" + struct.pack("<I", riff_size) + b"WEBP"
        + b"VP8 " + struct.pack("<I", len(chunk)) + padded
    )
