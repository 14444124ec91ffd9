"""Clean-room PNG codec (sources/png.py): chunk walk + CRC, filter
reconstruction, color types, palette expansion — spec-shaped fixtures
with marker/CRC-level assertions, plus the multimodal hook."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from hortacloud_importer_spark.sources.png import (
    PNG_SIGNATURE,
    PngParseError,
    decode_png,
    encode_png,
)


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
@pytest.mark.parametrize("dtype", [np.uint8, np.uint16])
def test_roundtrip_color_types(channels, dtype):
    rng = np.random.default_rng(3)
    hi = 256 if dtype == np.uint8 else 65536
    img = rng.integers(0, hi, (13, 17, channels)).astype(dtype)
    got = decode_png(encode_png(img))
    assert got.dtype == dtype and got.shape == img.shape
    assert np.array_equal(got, img)


def test_grayscale_2d_input():
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    got = decode_png(encode_png(img))
    assert got.shape == (8, 8, 1)
    assert np.array_equal(got[:, :, 0], img)


def _chunk(ctype: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + ctype
        + payload
        + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
    )


def _hand_png(w, h, depth, color, body, extra=b""):
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 0)
    return (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + extra
        + _chunk(b"IDAT", zlib.compress(body))
        + _chunk(b"IEND", b"")
    )


def test_all_filter_types_reconstruct():
    """Hand-filter a known image with Sub/Up/Average/Paeth per line
    and require exact reconstruction — the decoder is tested against
    spec-computed bytes, not its own inverse."""
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (5, 7), dtype=np.uint8)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    lines = bytearray()
    filters = [0, 1, 2, 3, 4]
    for y, f in enumerate(filters):
        row = img[y].astype(int)
        prior = img[y - 1].astype(int) if y else np.zeros(7, dtype=int)
        lines.append(f)
        for x in range(7):
            left = row[x - 1] if x else 0
            up = prior[x]
            ul = prior[x - 1] if x else 0
            if f == 0:
                v = row[x]
            elif f == 1:
                v = row[x] - left
            elif f == 2:
                v = row[x] - up
            elif f == 3:
                v = row[x] - ((left + up) >> 1)
            else:
                v = row[x] - paeth(left, up, ul)
            lines.append(v & 0xFF)
    got = decode_png(_hand_png(7, 5, 8, 0, bytes(lines)))
    assert np.array_equal(got[:, :, 0], img)


@pytest.mark.parametrize("depth", [1, 2, 4, 8])
def test_palette_expansion(depth):
    palette = np.array(
        [[255, 0, 0], [0, 255, 0], [0, 0, 255], [9, 9, 9]], dtype=np.uint8
    )
    w, h = 5, 3
    rng = np.random.default_rng(depth)
    idx = rng.integers(0, min(4, 1 << depth), (h, w), dtype=np.uint8)
    lines = bytearray()
    for y in range(h):
        lines.append(0)
        bits = np.unpackbits(idx[y][:, None], axis=1, count=8)[:, 8 - depth :]
        packed = np.packbits(bits.ravel())
        lines += packed.tobytes()
    blob = _hand_png(
        w, h, depth, 3, bytes(lines),
        extra=_chunk(b"PLTE", palette.tobytes()),
    )
    got = decode_png(blob)
    assert got.shape == (h, w, 3)
    assert np.array_equal(got, palette[idx])


def test_palette_trns_adds_alpha():
    palette = np.array([[1, 2, 3], [4, 5, 6]], dtype=np.uint8)
    idx = np.array([[0, 1]], dtype=np.uint8)
    blob = _hand_png(
        2, 1, 8, 3, b"\x00" + idx.tobytes(),
        extra=_chunk(b"PLTE", palette.tobytes()) + _chunk(b"tRNS", b"\x80"),
    )
    got = decode_png(blob)
    assert got.shape == (1, 2, 4)
    assert list(got[0, 0]) == [1, 2, 3, 0x80]
    assert list(got[0, 1]) == [4, 5, 6, 255]


def test_crc_and_gates():
    img = np.zeros((4, 4), dtype=np.uint8)
    blob = bytearray(encode_png(img))
    blob[-5] ^= 0xFF  # corrupt IEND CRC
    with pytest.raises(PngParseError, match="CRC"):
        decode_png(bytes(blob))
    # unknown interlace method
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 2)
    blob2 = (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"\x00" * 20))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(PngParseError, match="interlace"):
        decode_png(blob2)
    with pytest.raises(PngParseError, match="signature"):
        decode_png(b"GIF89a")


def test_multimodal_png_hook():
    from hortacloud_importer_spark.operators.multimodal import _decode_one

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (9, 11, 3), dtype=np.uint8)
    arr = _decode_one("png", encode_png(img), {})
    assert arr.shape == (1, 9, 11, 3)
    assert np.array_equal(arr[0], img)


def test_hand_filtered_sub_wide_image_vectorized_path():
    """The vectorized Sub reconstruction (per-lane uint8 cumsum) must
    match spec semantics on a multi-byte-per-pixel image with
    overflow-heavy values."""
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (4, 33, 3), dtype=np.uint8)
    body = bytearray()
    for y in range(4):
        body.append(1)  # Sub
        row = img[y].reshape(-1).astype(int)
        prev = np.concatenate([[0, 0, 0], row[:-3]])
        body += ((row - prev) & 0xFF).astype(np.uint8).tobytes()
    got = decode_png(_hand_png(33, 4, 8, 2, bytes(body)))
    assert np.array_equal(got, img)


def test_malformed_streams_raise_png_errors():
    # IHDR payload of the wrong size, CRC made valid
    bad_ihdr = struct.pack(">IIBBBB", 4, 4, 8, 0, 0, 0)  # 12 bytes
    blob = PNG_SIGNATURE + _chunk(b"IHDR", bad_ihdr) + _chunk(b"IEND", b"")
    with pytest.raises(PngParseError, match="IHDR"):
        decode_png(blob)
    # CRC-valid but garbled IDAT
    blob2 = (
        PNG_SIGNATURE
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))
        + _chunk(b"IDAT", b"not zlib data")
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(PngParseError, match="IDAT"):
        decode_png(blob2)


_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _adam7_png(img: np.ndarray) -> bytes:
    """Hand-build an Adam7-interlaced PNG per the spec pass grid
    (filter 0 lines), so the decoder is tested against spec-shaped
    bytes."""
    h, w = img.shape[:2]
    c = 1 if img.ndim == 2 else img.shape[2]
    arr = img.reshape(h, w, c)
    color = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    depth = 16 if arr.dtype == np.uint16 else 8
    body = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        sub = arr[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        enc = sub.astype(">u2") if depth == 16 else sub
        for y in range(sub.shape[0]):
            body.append(0)
            body += enc[y].tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 1)
    return (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(body)))
        + _chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("shape", [(16, 16, 3), (13, 9, 1), (3, 5, 2), (1, 1, 1)])
def test_adam7_interlaced_decode(shape):
    rng = np.random.default_rng(sum(shape))
    img = rng.integers(0, 256, shape, dtype=np.uint8)
    got = decode_png(_adam7_png(img))
    assert np.array_equal(got, img.reshape(shape[0], shape[1], shape[2]))


def test_adam7_16bit_decode():
    rng = np.random.default_rng(77)
    img = rng.integers(0, 65536, (10, 11, 1)).astype(np.uint16)
    got = decode_png(_adam7_png(img))
    assert got.dtype == np.uint16
    assert np.array_equal(got, img)


def _forward_filter(img_bytes: np.ndarray, filters: list[int], bpp: int) -> bytes:
    """Spec forward filter: (h, stride) sample bytes + per-row filter
    codes -> the filtered scanline stream a conforming encoder writes."""

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    h, stride = img_bytes.shape
    lines = bytearray()
    for y, f in enumerate(filters):
        row = img_bytes[y].astype(int)
        prior = img_bytes[y - 1].astype(int) if y else np.zeros(stride, int)
        lines.append(f)
        for x in range(stride):
            left = row[x - bpp] if x >= bpp else 0
            up = prior[x]
            ul = prior[x - bpp] if x >= bpp else 0
            if f == 0:
                v = row[x]
            elif f == 1:
                v = row[x] - left
            elif f == 2:
                v = row[x] - up
            elif f == 3:
                v = row[x] - ((left + up) >> 1)
            else:
                v = row[x] - paeth(left, up, ul)
            lines.append(v & 0xFF)
    return bytes(lines)


@pytest.mark.parametrize(
    "h,w,bpp,seed", [(40, 37, 3, 1), (17, 64, 1, 2), (33, 12, 4, 3), (90, 9, 2, 4)]
)
def test_unfilter_wavefront_matches_loop(monkeypatch, h, w, bpp, seed):
    """The anti-diagonal wavefront path must byte-match the scalar
    row loop on mixed-filter images (both decode the same
    spec-filtered stream back to the source bytes)."""
    from hortacloud_importer_spark.sources import png as P

    rng = np.random.default_rng(seed)
    stride = w * bpp
    img = rng.integers(0, 256, (h, stride), dtype=np.uint8)
    filters = rng.integers(0, 5, h).tolist()
    raw = _forward_filter(img, filters, bpp)
    # loop path
    monkeypatch.setattr(P, "_WAVEFRONT_MIN_BYTES", 1 << 60)
    loop = P._unfilter(raw, h, stride, bpp)
    # wavefront path, with a tiny band to exercise the band carry
    monkeypatch.setattr(P, "_WAVEFRONT_MIN_BYTES", 0)
    monkeypatch.setattr(P, "_WAVEFRONT_BAND", 7)
    wave = P._unfilter(raw, h, stride, bpp)
    assert np.array_equal(loop, wave)
    assert np.array_equal(wave, img)


def test_unfilter_wavefront_paeth_heavy_decode():
    """A Paeth-only image large enough to trigger the wavefront path
    end-to-end through decode_png."""
    from hortacloud_importer_spark.sources import png as P

    rng = np.random.default_rng(11)
    h, w = 128, 200  # 128*600 filtered bytes > _WAVEFRONT_MIN_BYTES/ n34*stride
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    raw = _forward_filter(img.reshape(h, w * 3), [4] * h, 3)
    assert h * (w * 3) >= P._WAVEFRONT_MIN_BYTES
    blob = _hand_png(w, h, 8, 2, raw)
    assert np.array_equal(decode_png(blob), img)


# ------------------------------------------------ APNG (animation)


def test_apng_composites_frames_offsets_blend_dispose():
    from hortacloud_importer_spark.sources.png import (
        decode_png_frames,
        encode_apng,
        png_frame_count,
    )

    rng = np.random.default_rng(109)
    f0 = rng.integers(0, 256, (8, 10, 3), dtype=np.uint8)
    f1 = rng.integers(0, 256, (4, 6, 3), dtype=np.uint8)
    blob = encode_apng([f0, f1], offsets=[(0, 0), (2, 2)])
    assert png_frame_count(blob) == 2
    fr = decode_png_frames(blob)
    assert fr.shape == (2, 8, 10, 3)
    assert np.array_equal(fr[0], f0)
    want1 = f0.copy()
    want1[2:6, 2:8] = f1
    assert np.array_equal(fr[1], want1)

    # over-blend with RGBA frames: integer alpha composite
    f0a = np.dstack([f0, np.full((8, 10), 255, np.uint8)])
    fa = np.dstack([f1, np.full((4, 6), 128, np.uint8)])
    fr2 = decode_png_frames(
        encode_apng([f0a, fa], offsets=[(0, 0), (2, 2)], blend=1)
    )
    a = 128
    exp = (
        (a * f1.astype(np.uint16)
         + (255 - a) * f0[2:6, 2:8].astype(np.uint16) + 127) // 255
    ).astype(np.uint8)
    assert np.array_equal(fr2[1, 2:6, 2:8, :3], exp)

    # dispose-to-background leaves a transparent hole for later frames
    f2 = rng.integers(0, 256, (2, 2, 3), dtype=np.uint8)
    fr3 = decode_png_frames(
        encode_apng([f0, f1, f2], offsets=[(0, 0), (2, 2), (0, 0)],
                    dispose=1)
    )
    assert fr3.shape[3] == 4
    assert (fr3[2, 2:6, 2:8, 3] == 0).all()

    # dispose-previous reverts each frame's region after its snapshot
    fr4 = decode_png_frames(
        encode_apng([f0, f1, f2], offsets=[(0, 0), (2, 2), (0, 0)],
                    dispose=2)
    )
    assert np.array_equal(fr4[2, 0:2, 0:2, :3], f2)
    assert (fr4[2, 4:, :, 3] == 0).all()


def test_apng_over_blend_onto_transparent_canvas():
    """Porter-Duff over with a partially transparent destination: the
    destination term is weighted by dst alpha and the result is
    unpremultiplied by the output alpha (not the opaque-dst shortcut)."""
    from hortacloud_importer_spark.sources.png import (
        decode_png_frames,
        encode_apng,
    )

    rng = np.random.default_rng(131)
    base_rgb = rng.integers(0, 256, (4, 4, 3), dtype=np.uint8)
    for ad in (0, 64, 200):
        f0 = np.dstack([base_rgb, np.full((4, 4), ad, np.uint8)])
        top_rgb = rng.integers(0, 256, (4, 4, 3), dtype=np.uint8)
        for a in (0, 1, 128, 254):
            f1 = np.dstack([top_rgb, np.full((4, 4), a, np.uint8)])
            fr = decode_png_frames(encode_apng([f0, f1], blend=1))
            got = fr[1]
            den = a * 255 + (255 - a) * ad
            num = (
                a * 255 * top_rgb.astype(np.int64)
                + (255 - a) * ad * base_rgb.astype(np.int64)
            )
            if den == 0:
                exp_rgb = np.zeros_like(base_rgb)
            else:
                exp_rgb = ((2 * num + den) // (2 * den)).astype(np.uint8)
            exp_a = (den + 127) // 255
            assert np.array_equal(got[:, :, :3], exp_rgb), (ad, a)
            assert (got[:, :, 3] == exp_a).all(), (ad, a)
            # spec sanity: src over transparent dst returns src exactly
            if ad == 0 and a > 0:
                assert np.array_equal(got[:, :, :3], top_rgb)


def test_apng_stills_pass_through_with_native_dtype():
    from hortacloud_importer_spark.sources.png import decode_png_frames

    rng = np.random.default_rng(113)
    img8 = rng.integers(0, 256, (6, 7, 3), dtype=np.uint8)
    fr = decode_png_frames(encode_png(img8))
    assert fr.shape == (1, 6, 7, 3) and np.array_equal(fr[0], img8)
    img16 = rng.integers(0, 65536, (6, 7)).astype(np.uint16)
    fr = decode_png_frames(encode_png(img16))
    assert fr.dtype == np.uint16
    assert np.array_equal(fr[0, :, :, 0], img16)


def test_apng_errors_are_named():
    from hortacloud_importer_spark.sources.png import (
        decode_png_frames,
        encode_apng,
    )

    rng = np.random.default_rng(127)
    f = rng.integers(0, 256, (4, 4, 3), dtype=np.uint8)
    blob = bytearray(encode_apng([f, f]))
    # out-of-order sequence number
    i = blob.find(b"fdAT")
    b = bytearray(blob)
    b[i + 4 : i + 8] = (9).to_bytes(4, "big")
    import zlib as _z
    # fix the CRC so the chunk walk accepts the mutated payload
    ln = int.from_bytes(b[i - 4 : i], "big")
    crc = _z.crc32(bytes(b[i : i + 4 + ln])) & 0xFFFFFFFF
    b[i + 4 + ln : i + 8 + ln] = crc.to_bytes(4, "big")
    with pytest.raises(PngParseError, match="sequence"):
        decode_png_frames(bytes(b))
    # frame rectangle outside the canvas
    i = blob.find(b"fcTL")
    b = bytearray(blob)
    b[i + 8 : i + 12] = (99).to_bytes(4, "big")  # frame width 99
    ln = int.from_bytes(b[i - 4 : i], "big")
    crc = _z.crc32(bytes(b[i : i + 4 + ln])) & 0xFFFFFFFF
    b[i + 4 + ln : i + 8 + ln] = crc.to_bytes(4, "big")
    with pytest.raises(PngParseError, match="canvas"):
        decode_png_frames(bytes(b))


def test_apng_fuzz_raises_named_error_only():
    import random

    from hortacloud_importer_spark.sources.png import (
        decode_png_frames,
        encode_apng,
    )

    rng = np.random.default_rng(131)
    frames = [
        rng.integers(0, 256, (6, 8, 3), dtype=np.uint8) for _ in range(3)
    ]
    payload = encode_apng(frames, dispose=1)
    rnd = random.Random(0xA9)
    for trial in range(400):
        b = bytearray(payload)
        mode = trial % 3
        if mode == 0:
            b = b[: rnd.randrange(len(b))]
        elif mode == 1:
            for _ in range(rnd.randrange(1, 5)):
                b[rnd.randrange(len(b))] = rnd.randrange(256)
        else:
            at = rnd.randrange(len(b))
            b[at : at + 8] = bytes(rnd.randrange(256) for _ in range(8))
        try:
            decode_png_frames(bytes(b))
        except PngParseError:
            pass


def test_multimodal_kernel_routes_apng():
    from hortacloud_importer_spark.operators.multimodal import (
        _decode_one,
        _probe_one,
    )
    from hortacloud_importer_spark.sources.png import encode_apng

    rng = np.random.default_rng(137)
    frames = [
        rng.integers(0, 256, (6, 8, 3), dtype=np.uint8) for _ in range(4)
    ]
    blob = encode_apng(frames)
    arr = _decode_one("png", blob, {})
    assert arr.shape == (4, 6, 8, 3)
    meta = _probe_one("png", blob, {})
    assert (meta["height"], meta["width"], meta["n_frames"]) == (6, 8, 4)


def test_apng_16bit_composites_on_uint16_canvas():
    """16-bit truecolor APNG: source-blend replace, over-blend with
    m = 65535 arithmetic, and dispose-to-background holes — the
    formerly-gated depth now composites exactly."""
    from hortacloud_importer_spark.sources.png import (
        decode_png_frames,
        encode_apng,
    )

    rng = np.random.default_rng(137)
    f0 = rng.integers(0, 65536, (6, 8, 3)).astype(np.uint16)
    f1 = rng.integers(0, 65536, (3, 4, 3)).astype(np.uint16)
    fr = decode_png_frames(encode_apng([f0, f1], offsets=[(0, 0), (2, 2)]))
    assert fr.dtype == np.uint16
    assert fr.shape == (2, 6, 8, 3)
    assert np.array_equal(fr[0], f0)
    want = f0.copy()
    want[2:5, 2:6] = f1
    assert np.array_equal(fr[1], want)

    # over-blend with RGBA: integer Porter-Duff at m = 65535
    m = 65535
    a_val = 30000
    f0a = np.dstack([f0, np.full((6, 8), m, np.uint16)])
    f1a = np.dstack([f1, np.full((3, 4), a_val, np.uint16)])
    fr2 = decode_png_frames(
        encode_apng([f0a, f1a], offsets=[(0, 0), (2, 2)], blend=1)
    )
    num = (
        a_val * m * f1.astype(np.int64)
        + (m - a_val) * m * f0[2:5, 2:6].astype(np.int64)
    )
    den = a_val * m + (m - a_val) * m
    exp = ((2 * num + den) // (2 * den)).astype(np.uint16)
    assert np.array_equal(fr2[1, 2:5, 2:6, :3], exp)
    # every pixel stays opaque (out alpha = m exactly), so the result
    # strips to 3 channels — the uint16 twin of the 8-bit behavior
    assert fr2.shape[3] == 3

    # dispose-to-background leaves a transparent uint16 hole
    f2 = rng.integers(0, 65536, (2, 2, 3)).astype(np.uint16)
    fr3 = decode_png_frames(
        encode_apng([f0, f1, f2], offsets=[(0, 0), (2, 2), (0, 0)],
                    dispose=1)
    )
    assert fr3.dtype == np.uint16 and fr3.shape[3] == 4
    assert (fr3[2, 2:5, 2:6, 3] == 0).all()
