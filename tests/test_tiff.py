"""Clean-room baseline-TIFF reader (A1/A2 front door).

The golden-byte case is hand-assembled in the test, independent of
encode_tiff, so a writer bug cannot mask a reader bug.
"""

from __future__ import annotations

import io
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from hortacloud_importer_spark.sources.tiff import (
    TiffParseError,
    decode_tiff,
    decode_tiff_window,
    encode_tiff,
    tiff_page_table,
    tiff_probe,
)


def _golden_single_page() -> tuple[bytes, np.ndarray]:
    """Little-endian, one 2x3 uint8 grayscale page, one strip."""
    pixels = bytes([10, 20, 30, 40, 50, 60])
    entries = []

    def e(tag, ftype, count, value4):
        entries.append(struct.pack("<HHI", tag, ftype, count) + value4)

    # IFD at offset 8, 7 entries -> strip data right after
    n = 7
    strip_off = 8 + 2 + n * 12 + 4
    e(256, 4, 1, struct.pack("<I", 3))            # ImageWidth = 3
    e(257, 4, 1, struct.pack("<I", 2))            # ImageLength = 2
    e(258, 3, 1, struct.pack("<HH", 8, 0))        # BitsPerSample = 8
    e(259, 3, 1, struct.pack("<HH", 1, 0))        # Compression = none
    e(273, 4, 1, struct.pack("<I", strip_off))    # StripOffsets
    e(278, 4, 1, struct.pack("<I", 2))            # RowsPerStrip
    e(279, 4, 1, struct.pack("<I", len(pixels)))  # StripByteCounts
    blob = (
        b"II*\x00"
        + struct.pack("<I", 8)
        + struct.pack("<H", n)
        + b"".join(entries)
        + struct.pack("<I", 0)  # no next IFD
        + pixels
    )
    want = np.array([[10, 20, 30], [40, 50, 60]], dtype=np.uint8)[..., None]
    return blob, want[None, ...]


def test_golden_bytes_decode():
    blob, want = _golden_single_page()
    got = decode_tiff(blob)
    assert got.shape == (1, 2, 3, 1)
    assert got.dtype == np.uint8
    assert np.array_equal(got, want)


def test_multipage_uint16_roundtrip():
    rng = np.random.default_rng(3)
    stack = rng.integers(0, 65535, (4, 6, 5), dtype=np.uint16)
    got = decode_tiff(encode_tiff(stack))
    assert got.shape == (4, 6, 5, 1)
    assert got.dtype == np.uint16
    assert np.array_equal(got[..., 0], stack)


def test_multisample_page_roundtrip():
    rng = np.random.default_rng(4)
    rgb = rng.integers(0, 255, (1, 4, 4, 3), dtype=np.uint8)
    got = decode_tiff(encode_tiff(rgb))
    assert np.array_equal(got, rgb)


def test_compressed_raises_with_codec_hint():
    blob, _ = _golden_single_page()
    # flip the Compression entry (tag 259) value from 1 -> 6: OLD-style
    # JPEG stays gated (new-style 7 decodes via sources/jpeg.py now)
    idx = blob.find(struct.pack("<HHI", 259, 3, 1))
    bad = blob[: idx + 8] + struct.pack("<HH", 6, 0) + blob[idx + 12 :]
    with pytest.raises(TiffParseError, match="compression 6; built-in codec"):
        decode_tiff(bad)


def test_compression7_with_non_jpeg_payload_fails_clearly():
    blob, _ = _golden_single_page()
    # compression says JPEG but the strip holds raw pixels
    idx = blob.find(struct.pack("<HHI", 259, 3, 1))
    bad = blob[: idx + 8] + struct.pack("<HH", 7, 0) + blob[idx + 12 :]
    with pytest.raises(TiffParseError, match="JPEG"):
        decode_tiff(bad)


def _swap_strip_codec(blob: bytes, comp_code: int, new_payload: bytes) -> bytes:
    """Re-point a single-strip uncompressed blob at a recoded payload."""
    idx = blob.find(struct.pack("<HHI", 259, 3, 1))
    assert idx >= 0
    blob = blob[: idx + 8] + struct.pack("<HH", comp_code, 0) + blob[idx + 12 :]
    cdx = blob.find(struct.pack("<HHI", 279, 4, 1))
    assert cdx >= 0
    (old_count,) = struct.unpack_from("<I", blob, cdx + 8)
    return (
        blob[: cdx + 8]
        + struct.pack("<I", len(new_payload))
        + blob[cdx + 12 : len(blob) - old_count]
        + new_payload
    )


def test_packbits_decode():
    """PackBits (tag 32773) decoded per TIFF 6.0 §9 — payload built by
    an independent test-local encoder."""

    def packbits(data: bytes) -> bytes:
        out = bytearray()
        i = 0
        while i < len(data):
            run = 1
            while i + run < len(data) and run < 128 and data[i + run] == data[i]:
                run += 1
            if run >= 2:
                out += bytes([257 - run, data[i]])
                i += run
            else:
                j = i + 1
                while (
                    j < len(data)
                    and j - i < 128
                    and not (j + 1 < len(data) and data[j] == data[j + 1])
                ):
                    j += 1
                out += bytes([j - i - 1]) + data[i:j]
                i = j
        return bytes(out)

    img = np.array(
        [[7, 7, 7, 7, 1, 2], [3, 3, 3, 3, 3, 3], [9, 8, 7, 6, 5, 4]],
        dtype=np.uint8,
    )
    blob = encode_tiff(img[None, ...])  # uncompressed single strip
    patched = _swap_strip_codec(blob, 32773, packbits(img.tobytes()))
    assert np.array_equal(decode_tiff(patched)[0, ..., 0], img)


def test_lzw_decode_with_width_changes():
    """TIFF-flavor LZW (tag 5): MSB-first codes, CLEAR/EOI, EARLY width
    change — stream built by an independent test-local compressor and
    large enough to push past 9-bit codes."""

    def lzw(data: bytes) -> bytes:
        CLEAR, EOI = 256, 257
        bits: list[tuple[int, int]] = []
        width = 9
        table = {bytes([i]): i for i in range(256)}
        next_code = 258
        bits.append((CLEAR, width))
        w = b""
        for b in data:
            wc = w + bytes([b])
            if wc in table:
                w = wc
                continue
            bits.append((table[w], width))
            table[wc] = next_code
            next_code += 1
            if next_code + 1 >= (1 << width) and width < 12:
                width += 1
            w = bytes([b])
        if w:
            bits.append((table[w], width))
        bits.append((EOI, width))
        acc = nacc = 0
        out = bytearray()
        for code, cw in bits:
            acc = (acc << cw) | code
            nacc += cw
            while nacc >= 8:
                out.append((acc >> (nacc - 8)) & 0xFF)
                nacc -= 8
        if nacc:
            out.append((acc << (8 - nacc)) & 0xFF)
        return bytes(out)

    rng = np.random.default_rng(47)
    img = rng.integers(0, 255, (24, 40), dtype=np.uint8)  # ~1k entries
    blob = encode_tiff(img[None, ...])
    patched = _swap_strip_codec(blob, 5, lzw(img.tobytes()))
    assert np.array_equal(decode_tiff(patched)[0, ..., 0], img)


def test_bad_magic_raises():
    with pytest.raises(TiffParseError):
        decode_tiff(b"PK\x03\x04not a tiff")


def test_zlib_roundtrip_8_and_16_bit():
    """Deflate blocks (tag 8) — the reference's own output format
    (compression=("ZLIB", 6), tiff2octree.py:315)."""
    rng = np.random.default_rng(6)
    for dtype, hi in ((np.uint8, 255), (np.uint16, 65535)):
        stack = rng.integers(0, hi, (2, 7, 5), dtype=dtype)
        blob = encode_tiff(stack, compression="zlib")
        got = decode_tiff(blob)
        assert got.dtype == dtype
        assert np.array_equal(got[..., 0], stack)
        # compression actually happened (tag present, not a raw copy)
        assert struct.pack("<HHI", 259, 3, 1) + struct.pack("<HH", 8, 0) in blob


def test_zlib_legacy_tag_32946():
    """Tag 32946 is the original deflate code; same bitstream as 8."""
    stack = np.arange(48, dtype=np.uint8).reshape(1, 6, 8)
    blob = encode_tiff(stack, compression="zlib")
    needle = struct.pack("<HHI", 259, 3, 1) + struct.pack("<HH", 8, 0)
    idx = blob.find(needle)
    assert idx >= 0
    legacy = blob[: idx + 8] + struct.pack("<HH", 32946, 0) + blob[idx + 12 :]
    assert np.array_equal(decode_tiff(legacy), decode_tiff(blob))


def test_zlib_oversized_stream_is_bounded():
    """A crafted block that inflates far past the expected size must not
    balloon memory: the inflate is capped at the block's pixel count."""
    import zlib

    stack = np.full((1, 4, 4), 7, dtype=np.uint8)
    blob = encode_tiff(stack, compression="zlib")
    bomb = zlib.compress(bytes([7]) * 16 + b"\x00" * (64 << 20), 6)
    counts_needle = struct.pack("<HHI", 279, 4, 1)
    idx = blob.find(counts_needle)
    assert idx >= 0
    # strip payload is the tail of the blob; swap it for the bomb
    (old_count,) = struct.unpack_from("<I", blob, idx + 8)
    patched = (
        blob[: idx + 8]
        + struct.pack("<I", len(bomb))
        + blob[idx + 12 : len(blob) - old_count]
        + bomb
    )
    got = decode_tiff(patched)  # decodes the first 16 bytes, ignores the rest
    assert np.array_equal(got[..., 0], stack)


def test_tiled_roundtrip_and_window_pruning():
    """Tiled layout (tags 322-325) matching the reference's 256x256
    rewrite (tiff2octree.py:516-551); a window decodes O(window) tiles."""
    rng = np.random.default_rng(7)
    img = rng.integers(0, 65535, (1, 16, 16), dtype=np.uint16)
    blob = encode_tiff(img, tile=(4, 4), compression="zlib")
    assert np.array_equal(decode_tiff(blob)[..., 0], img)

    stats: dict = {}
    win = decode_tiff_window(blob, page=0, y=(0, 4), x=(4, 8), stats=stats)
    assert np.array_equal(win[..., 0], img[0, 0:4, 4:8])
    counts = tiff_page_table(io.BytesIO(blob))[1][0][325]  # TileByteCounts
    assert stats == {
        "blocks_decoded": 1,
        "blocks_total": 16,
        "bytes_read": counts[1],  # the tile at row 0, column 1
        "bytes_total": sum(counts),
    }

    # a window straddling tile borders decodes exactly the touched tiles
    stats = {}
    win = decode_tiff_window(blob, page=0, y=(3, 9), x=(2, 6), stats=stats)
    assert np.array_equal(win[..., 0], img[0, 3:9, 2:6])
    assert stats["blocks_decoded"] == 6  # 3 tile-rows x 2 tile-cols


def test_predictor2_roundtrip_8_16_multisample():
    """Horizontal differencing (tag 317) under zlib, per-channel."""
    rng = np.random.default_rng(8)
    cases = [
        rng.integers(0, 255, (2, 5, 9, 3), dtype=np.uint8),   # RGB
        rng.integers(0, 65535, (1, 6, 4), dtype=np.uint16),   # gray 16
    ]
    for arr in cases:
        blob = encode_tiff(arr, compression="zlib", predictor=2)
        got = decode_tiff(blob)
        want = arr if arr.ndim == 4 else arr[..., None]
        assert np.array_equal(got, want)


def test_big_endian_golden_bytes():
    """MM byte order with uint16 samples — values above 255 catch any
    byte-swap bug. Hand-assembled, independent of encode_tiff."""
    pixels = struct.pack(">6H", 256, 512, 1024, 2048, 4096, 60000)
    entries = []

    def e(tag, ftype, count, value4):
        entries.append(struct.pack(">HHI", tag, ftype, count) + value4)

    n = 7
    strip_off = 8 + 2 + n * 12 + 4
    e(256, 4, 1, struct.pack(">I", 3))
    e(257, 4, 1, struct.pack(">I", 2))
    e(258, 3, 1, struct.pack(">HH", 16, 0))
    e(259, 3, 1, struct.pack(">HH", 1, 0))
    e(273, 4, 1, struct.pack(">I", strip_off))
    e(278, 4, 1, struct.pack(">I", 2))
    e(279, 4, 1, struct.pack(">I", len(pixels)))
    blob = (
        b"MM\x00*"
        + struct.pack(">I", 8)
        + struct.pack(">H", n)
        + b"".join(entries)
        + struct.pack(">I", 0)
        + pixels
    )
    got = decode_tiff(blob)
    want = np.array([[256, 512, 1024], [2048, 4096, 60000]], dtype=np.uint16)
    assert np.array_equal(got[0, ..., 0], want)


def test_missing_strip_table_raises_parse_error():
    """Dropping StripOffsets must raise TiffParseError (the documented
    exception), not KeyError."""
    blob, _ = _golden_single_page()
    idx = blob.find(struct.pack("<HHI", 273, 4, 1))
    # retag the StripOffsets entry to an unknown tag id
    bad = blob[:idx] + struct.pack("<H", 60000) + blob[idx + 2 :]
    with pytest.raises(TiffParseError, match="StripOffsets"):
        decode_tiff(bad)


def test_planar_configuration_2_needs_per_plane_strips():
    """Separate-plane layout (tag 284 = 2) decodes via per-plane
    strip tables; a PC=2 page whose table holds only ONE strip for
    3 samples is malformed and must raise the planar table error
    (never silently scramble pixels)."""
    pixels = bytes(range(12))  # claimed 2x2 RGB
    entries = []

    def e(tag, ftype, count, value4):
        entries.append(struct.pack("<HHI", tag, ftype, count) + value4)

    n = 8
    strip_off = 8 + 2 + n * 12 + 4
    e(256, 4, 1, struct.pack("<I", 2))
    e(257, 4, 1, struct.pack("<I", 2))
    e(258, 3, 1, struct.pack("<HH", 8, 0))
    e(259, 3, 1, struct.pack("<HH", 1, 0))
    e(273, 4, 1, struct.pack("<I", strip_off))
    e(277, 3, 1, struct.pack("<HH", 3, 0))  # SamplesPerPixel = 3
    e(279, 4, 1, struct.pack("<I", len(pixels)))
    e(284, 3, 1, struct.pack("<HH", 2, 0))  # PlanarConfiguration = 2
    blob = (
        b"II*\x00"
        + struct.pack("<I", 8)
        + struct.pack("<H", n)
        + b"".join(entries)
        + struct.pack("<I", 0)
        + pixels
    )
    with pytest.raises(TiffParseError, match="planar.*too.*short"):
        decode_tiff(blob)
    # an out-of-spec PlanarConfiguration value still names the tag
    bad = blob.replace(
        struct.pack("<HHIHH", 284, 3, 1, 2, 0),
        struct.pack("<HHIHH", 284, 3, 1, 5, 0),
    )
    with pytest.raises(TiffParseError, match="PlanarConfiguration"):
        decode_tiff(bad)


def test_window_rejects_bad_magic():
    """decode_tiff_window shares decode_tiff's header validation."""
    junk = b"II\x00\x00" + b"\x00" * 64  # II but magic != 42
    with pytest.raises(TiffParseError, match="magic"):
        decode_tiff_window(junk, page=0)


def test_binaryfile_scan_to_features(spark, tmp_path):
    """A1 end to end with REAL files: a directory of z-slice TIFFs ->
    binaryFile scan -> mapInPandas decode -> per-file feature rows
    (the reference's slice_to_dask_array shape, tiff2octree.py:653-691)."""
    from hortacloud_importer_spark.operators.multimodal import media_features

    rng = np.random.default_rng(5)
    slices = rng.integers(0, 255, (3, 8, 8), dtype=np.uint8)
    for z in range(3):
        (tmp_path / f"default.0.{z:03d}.tif").write_bytes(
            encode_tiff(slices[z][None, ...])
        )
    media = (
        spark.read.format("binaryFile")
        .load(f"file://{tmp_path}/*.tif")
        .select(
            F.xxhash64("path").alias("media_id"),
            F.lit("image").alias("kind"),
            F.lit("tiff").alias("format"),
            F.col("content").alias("payload"),
            F.expr(
                "named_struct('height', 8, 'width', 8, 'channels', 1,"
                " 'sample_rate', 0, 'n_frames', 1)"
            ).alias("meta"),
        )
    )
    rows = media_features(media).collect()
    assert len(rows) == 3
    means = sorted(round(r["mean_intensity"], 6) for r in rows)
    want = sorted(round(float(s.mean()), 6) for s in slices)
    assert means == want
    assert all(r["n_bytes"] == 64 for r in rows)


def test_tiff_roundtrip_property():
    """Hypothesis: encode->decode is the identity for every combination
    of shape, dtype, compression, tiling, and predictor the codec
    claims to support."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=40,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        npages=st.integers(1, 3),
        h=st.integers(1, 33),
        w=st.integers(1, 33),
        spp=st.sampled_from([1, 2, 3, 4]),
        bits=st.sampled_from([8, 16]),
        compression=st.sampled_from([None, "zlib"]),
        tiled=st.booleans(),
        predictor=st.sampled_from([1, 2]),
        bigtiff=st.booleans(),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(npages, h, w, spp, bits, compression, tiled, predictor, bigtiff, seed):
        rng = np.random.default_rng(seed)
        dtype = np.uint8 if bits == 8 else np.uint16
        arr = rng.integers(0, 2**bits - 1, (npages, h, w, spp), dtype=dtype)
        blob = encode_tiff(
            arr,
            compression=compression,
            tile=(8, 8) if tiled else None,
            predictor=predictor,
            bigtiff=bigtiff,
        )
        got = decode_tiff(blob)
        assert got.shape == arr.shape
        assert got.dtype == arr.dtype
        assert np.array_equal(got, arr)

    check()


def test_tiff_window_property():
    """Hypothesis: any window over any layout equals the same slice of
    the full decode."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=30,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        h=st.integers(1, 40),
        w=st.integers(1, 40),
        tiled=st.booleans(),
        compression=st.sampled_from([None, "zlib"]),
        data=st.data(),
    )
    def check(h, w, tiled, compression, data):
        rng = np.random.default_rng(7)
        arr = rng.integers(0, 255, (1, h, w), dtype=np.uint8)
        blob = encode_tiff(
            arr, compression=compression, tile=(8, 8) if tiled else None
        )
        y0 = data.draw(st.integers(0, h - 1))
        y1 = data.draw(st.integers(y0 + 1, h))
        x0 = data.draw(st.integers(0, w - 1))
        x1 = data.draw(st.integers(x0 + 1, w))
        win = decode_tiff_window(blob, y=(y0, y1), x=(x0, x1))
        assert np.array_equal(win[..., 0], arr[0, y0:y1, x0:x1])

    check()


def test_bigtiff_roundtrip_all_layouts():
    """BigTIFF (magic 43, 8-byte offsets): the layout any >4 GB slice
    needs. Round-trips across strip/tiled x raw/zlib x predictor."""
    rng = np.random.default_rng(43)
    arr = rng.integers(0, 65535, (3, 10, 7), dtype=np.uint16)
    for kwargs in (
        {},
        {"compression": "zlib"},
        {"tile": (4, 4), "compression": "zlib"},
        {"predictor": 2, "compression": "zlib"},
    ):
        blob = encode_tiff(arr, bigtiff=True, **kwargs)
        assert blob[2:4] == b"+\x00"  # version 43
        assert np.array_equal(decode_tiff(blob)[..., 0], arr), kwargs
    # and the windowed decode prunes tiles the same way
    blob = encode_tiff(arr[:1], bigtiff=True, tile=(4, 4), compression="zlib")
    stats: dict = {}
    win = decode_tiff_window(blob, y=(0, 4), x=(0, 4), stats=stats)
    assert np.array_equal(win[..., 0], arr[0, 0:4, 0:4])
    assert stats["blocks_decoded"] == 1


def test_bigtiff_bad_offsize_rejected():
    blob = bytearray(encode_tiff(np.zeros((1, 2, 2), np.uint8), bigtiff=True))
    blob[4] = 4  # offsize must be 8
    with pytest.raises(TiffParseError, match="BigTIFF"):
        decode_tiff(bytes(blob))


def test_tiff_shape_matches_decode_without_payload():
    """tiff_shape walks IFDs only: it agrees with decode_tiff on shape
    and still answers when the strip payload bytes are zeroed."""
    import numpy as np

    from hortacloud_importer_spark.sources.tiff import (
        decode_tiff,
        encode_tiff,
        tiff_shape,
    )

    arr = np.arange(3 * 4 * 5, dtype=np.uint16).reshape(3, 4, 5)
    data = encode_tiff(arr)
    assert tiff_shape(data) == decode_tiff(data).shape[:3] == (3, 4, 5)


def test_page_table_streaming_decode_matches_full_decode():
    """tiff_page_table + decode_stack_page (seek-based, bounded by one
    page) agree with the whole-file decoder across classic/BigTIFF,
    strip/tile, and every built-in codec."""
    import io

    from hortacloud_importer_spark.sources.tiff import (
        decode_stack_page,
        decode_tiff,
        tiff_page_table,
    )

    rng = np.random.default_rng(23)
    vol = rng.integers(0, 1 << 16, size=(4, 10, 6), dtype=np.uint16)
    for kw in (
        {},
        {"compression": "zlib"},
        {"bigtiff": True},
        {"tile": (4, 4)},
        {"compression": "zlib", "bigtiff": True, "predictor": 2},
    ):
        data = encode_tiff(vol, **kw)
        full = decode_tiff(data)
        fh = io.BytesIO(data)
        ec, pages = tiff_page_table(fh)
        assert len(pages) == 4, kw
        for z in range(4):
            got = decode_stack_page(fh, ec, pages[z])
            assert np.array_equal(got, full[z]), (kw, z)


def test_stack_voxels_bigtiff_zlib_roundtrip(tmp_path):
    """The stack listing walks a compressed BigTIFF's IFD chain once on
    the driver; each page is then read by seek with its IFD (strip
    fetches only, never a whole-file read), and the voxels painted
    from them reproduce the full decode."""
    from hortacloud_importer_spark.sources.listing import stack_volume
    from tests.test_listing import read_volume

    rng = np.random.default_rng(31)
    vol = rng.integers(1, 1 << 16, size=(5, 6, 7), dtype=np.uint16)
    f = tmp_path / "stack.tif"
    f.write_bytes(encode_tiff(vol, bigtiff=True, compression="zlib"))
    volume = stack_volume(str(f))
    assert volume.dims == (5, 6, 7)
    assert np.array_equal(read_volume(volume)[0], vol)


def test_stack_voxels_file_uri_directory(tmp_path):
    """Directory listing must go through the URI-derived filesystem
    (review finding: the scheme-stripped path was re-rooted onto a
    LocalFileSystem, breaking s3://-style inputs; file:// exercises
    the same dispatch), and the listed pages keep the scheme."""
    from hortacloud_importer_spark.sources.listing import stack_volume
    from tests.test_listing import read_volume

    rng = np.random.default_rng(47)
    vol = rng.integers(1, 250, (2, 3, 4), dtype=np.uint8)
    d = tmp_path / "uristacks"
    d.mkdir()
    (d / "a.tif").write_bytes(encode_tiff(vol))
    volume = stack_volume(f"file://{d}")
    assert volume.dims == (2, 3, 4)
    pages = volume.channels[0].items((0, 0, 0), volume.dims)
    assert [p[0] for p in pages] == [f"file://{d}/a.tif"] * 2
    assert np.array_equal(read_volume(volume)[0], vol)


def test_stack_voxels_ignores_hidden_files_and_expands_braces(tmp_path):
    """binaryFile-parity listing rules: _SUCCESS / dotfiles are never
    stack files, and Hadoop-style {a,b} alternation works."""
    from hortacloud_importer_spark.sources.listing import stack_volume
    from tests.test_listing import read_volume

    rng = np.random.default_rng(53)
    vols = [rng.integers(1, 250, (2, 3, 4), dtype=np.uint8) for _ in range(2)]
    d = tmp_path / "globdir"
    d.mkdir()
    (d / "stack_1.tif").write_bytes(encode_tiff(vols[0]))
    (d / "stack_2.tif").write_bytes(encode_tiff(vols[1]))
    (d / "stack_9.tif").write_bytes(encode_tiff(
        rng.integers(1, 9, (7, 3, 4), dtype=np.uint8)  # excluded by glob
    ))
    (d / "_SUCCESS").write_text("")
    (d / ".DS_Store").write_bytes(b"junk")
    (d / "._stack_1.tif").write_bytes(b"resource fork junk")

    volume = stack_volume(str(d / "stack_{1,2}.tif"))
    assert volume.dims == (4, 3, 4)
    assert np.array_equal(read_volume(volume)[0], np.concatenate(vols))

    # directory listing skips the hidden junk too
    d2 = tmp_path / "dirdir"
    d2.mkdir()
    (d2 / "a.tif").write_bytes(encode_tiff(vols[0]))
    (d2 / "_SUCCESS").write_text("")
    (d2 / ".hidden.tif").write_bytes(b"junk")
    assert stack_volume(str(d2)).dims == (2, 3, 4)


def test_float32_tiff_roundtrip_and_gates():
    """SampleFormat-3 float32 pages (the reference's float stack
    input, tiff2octree.py:250-251): raw + zlib roundtrip NaN-exactly;
    entropy codecs, predictors, and non-32-bit floats gate by name."""
    import struct as _struct

    rng = np.random.default_rng(6)
    a = rng.random((2, 5, 9)).astype(np.float32)
    a[0, 0, 0] = np.nan
    a[1, 4, 8] = 0.0
    for comp in (None, "zlib"):
        back = decode_tiff(encode_tiff(a, compression=comp))
        assert back.dtype == np.float32
        assert np.array_equal(back[:, :, :, 0], a, equal_nan=True)
    assert tiff_probe(encode_tiff(a)) == (2, 5, 9, 1)
    with pytest.raises(ValueError, match="float32"):
        encode_tiff(a, compression="jpeg")
    with pytest.raises(ValueError, match="float32"):
        encode_tiff(a, predictor=2)
    # SampleFormat 2 (signed int) stays gated with the named error
    blob = bytearray(encode_tiff(a))
    i = blob.find(_struct.pack("<HH", 339, 3))
    _struct.pack_into("<I", blob, i + 8, 2)
    with pytest.raises(TiffParseError, match="SampleFormat"):
        decode_tiff(bytes(blob))


def test_float32_voxel_boundary_requires_explicit_requant():
    from hortacloud_importer_spark.sources.datasource import (
        _decode_slice_pages,
    )

    a = np.array([[[0.0, 0.5], [1.0, np.nan]]], dtype=np.float32)
    data = encode_tiff(a)
    with pytest.raises(ValueError, match="float_mode"):
        _decode_slice_pages(data, "x.tif")
    pages = _decode_slice_pages(data, "x.tif", float_mode="requant")
    assert pages.dtype == np.uint16
    assert pages[0, :, :, 0].tolist() == [[0, 32768], [65535, 0]]


# ------------------------------------ PlanarConfiguration 2 (planes)


def _planar_tiff(planes: list[bytes], width: int, length: int,
                 rows_per_strip: int | None = None,
                 compression: int = 1, bits: int = 8,
                 predictor: int = 1) -> bytes:
    """Hand-assembled separate-plane TIFF: the strip tables hold all
    of sample 0's strips, then sample 1's, ... (TIFF 6.0 PC=2)."""
    spp = len(planes)
    rps = rows_per_strip or length
    strips_per_plane = -(-length // rps)
    strips = []
    for pl in planes:
        row_bytes = width * (bits // 8)
        for si in range(strips_per_plane):
            strips.append(pl[si * rps * row_bytes : (si + 1) * rps * row_bytes])
    n = 11
    ifd_at = 8
    data_at = ifd_at + 2 + n * 12 + 4 + 2 * spp  # after BitsPerSample array
    offs, cnts, pos = [], [], data_at
    for sdat in strips:
        offs.append(pos)
        cnts.append(len(sdat))
        pos += len(sdat)
    # external arrays for offsets/counts when > 1 entry
    def arr(vals, fmt, size):
        nonlocal pos
        if len(vals) * size <= 4:
            packed = b"".join(struct.pack("<" + fmt, v) for v in vals)
            return packed + b"\x00" * (4 - len(packed)), b""
        at = pos
        blob = b"".join(struct.pack("<" + fmt, v) for v in vals)
        pos += len(blob)
        return struct.pack("<I", at), blob

    bits_at = ifd_at + 2 + n * 12 + 4
    off_val, off_ext = arr(offs, "I", 4)
    cnt_val, cnt_ext = arr(cnts, "I", 4)
    entries = []

    def e(tag, ftype, count, value4):
        entries.append(struct.pack("<HHI", tag, ftype, count) + value4)

    e(256, 4, 1, struct.pack("<I", width))
    e(257, 4, 1, struct.pack("<I", length))
    e(258, 3, spp, struct.pack("<I", bits_at))
    e(259, 3, 1, struct.pack("<HH", compression, 0))
    e(262, 3, 1, struct.pack("<HH", 1, 0))
    e(273, 4, len(offs), off_val)
    e(277, 3, 1, struct.pack("<HH", spp, 0))
    e(278, 4, 1, struct.pack("<I", rps))
    e(279, 4, len(cnts), cnt_val)
    e(284, 3, 1, struct.pack("<HH", 2, 0))  # PlanarConfiguration 2
    e(317, 3, 1, struct.pack("<HH", predictor, 0))
    assert len(entries) == n
    return (
        b"II*\x00" + struct.pack("<I", ifd_at)
        + struct.pack("<H", n) + b"".join(entries) + struct.pack("<I", 0)
        + b"".join(struct.pack("<H", bits) for _ in range(spp))
        + b"".join(strips) + off_ext + cnt_ext
    )


def test_planar_rgb_round_trip_and_window():
    rng = np.random.default_rng(101)
    img = rng.integers(0, 256, (10, 14, 3), dtype=np.uint8)
    planes = [img[:, :, c].tobytes() for c in range(3)]
    blob = _planar_tiff(planes, 14, 10)
    got = decode_tiff(blob)
    assert got.shape == (1, 10, 14, 3)
    assert np.array_equal(got[0], img)
    win = decode_tiff_window(blob, 0, y=(2, 8), x=(3, 11))
    assert np.array_equal(win, img[2:8, 3:11])


def test_planar_multi_strip_zlib():
    import zlib as _z

    rng = np.random.default_rng(103)
    img = rng.integers(0, 256, (12, 9, 3), dtype=np.uint8)
    rps = 5
    # compress each plane's strips independently
    def plane_strips(c):
        out = b""
        for s0 in range(0, 12, rps):
            out += _z.compress(img[s0 : s0 + rps, :, c].tobytes())
        return out
    # assemble with per-strip compressed sizes: easier to build the
    # raw strip list directly
    strips = []
    for c in range(3):
        for s0 in range(0, 12, rps):
            strips.append(_z.compress(img[s0 : s0 + rps, :, c].tobytes()))
    # reuse _planar_tiff by faking planes whose strip split matches
    # the compressed chunks: assemble manually instead
    spp, width, length = 3, 9, 12
    n = 11
    ifd_at = 8
    data_at = ifd_at + 2 + n * 12 + 4 + 2 * spp
    pos = data_at
    offs, cnts = [], []
    for sdat in strips:
        offs.append(pos)
        cnts.append(len(sdat))
        pos += len(sdat)
    off_at, cnt_at = pos, pos + 4 * len(offs)
    entries = []

    def e(tag, ftype, count, value4):
        entries.append(struct.pack("<HHI", tag, ftype, count) + value4)

    e(256, 4, 1, struct.pack("<I", width))
    e(257, 4, 1, struct.pack("<I", length))
    e(258, 3, spp, struct.pack("<I", ifd_at + 2 + n * 12 + 4))
    e(259, 3, 1, struct.pack("<HH", 8, 0))  # deflate
    e(262, 3, 1, struct.pack("<HH", 1, 0))
    e(273, 4, len(offs), struct.pack("<I", off_at))
    e(277, 3, 1, struct.pack("<HH", spp, 0))
    e(278, 4, 1, struct.pack("<I", 5))
    e(279, 4, len(cnts), struct.pack("<I", cnt_at))
    e(284, 3, 1, struct.pack("<HH", 2, 0))
    e(317, 3, 1, struct.pack("<HH", 1, 0))
    blob = (
        b"II*\x00" + struct.pack("<I", ifd_at)
        + struct.pack("<H", n) + b"".join(entries) + struct.pack("<I", 0)
        + b"".join(struct.pack("<H", 8) for _ in range(spp))
        + b"".join(strips)
        + b"".join(struct.pack("<I", o) for o in offs)
        + b"".join(struct.pack("<I", c) for c in cnts)
    )
    got = decode_tiff(blob)
    assert got.shape == (1, 12, 9, 3)
    assert np.array_equal(got[0], img)


def test_planar_short_table_raises_named_error():
    rng = np.random.default_rng(107)
    img = rng.integers(0, 256, (6, 6, 3), dtype=np.uint8)
    planes = [img[:, :, c].tobytes() for c in range(3)]
    blob = bytearray(_planar_tiff(planes, 6, 6))
    i = blob.find(struct.pack("<HHI", 277, 3, 1))
    blob[i + 8 : i + 10] = struct.pack("<H", 4)  # claim 4 samples
    with pytest.raises(TiffParseError, match="planar|table too short"):
        decode_tiff(bytes(blob))
