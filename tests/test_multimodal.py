"""Multimodal plumbing: real raw8 decode, features vs NumPy, resize,
frame sampling, binaryFile source, codec gating."""

from __future__ import annotations

import io

import numpy as np
import pytest
from pyspark.sql import functions as F

from hortacloud_importer_spark.operators.multimodal import (
    _decode_one,
    binary_file_source,
    media_features,
    resize_images,
    sample_frames,
    synthetic_media,
)


def _regen(mid, kind, seed=11):
    rng = np.random.default_rng((seed, mid))
    if kind == "image":
        h, w, c = int(rng.integers(4, 17)), int(rng.integers(4, 17)), 3
        return rng.integers(0, 256, size=h * w * c, dtype=np.uint8).reshape(h, w, c)
    if kind == "video":
        nf = int(rng.integers(4, 13))
        return rng.integers(0, 256, size=nf * 64, dtype=np.uint8).reshape(nf, 8, 8, 1)
    w = int(rng.integers(64, 257))
    return rng.integers(0, 256, size=w, dtype=np.uint8)


def test_features_match_numpy(spark):
    feats = media_features(synthetic_media(spark, 20, "image")).collect()
    assert len(feats) == 20
    for r in feats:
        arr = _regen(r["media_id"], "image")
        assert r["n_bytes"] == arr.size
        assert r["mean_intensity"] == pytest.approx(float(arr.mean()))
        assert r["min_intensity"] == arr.min() and r["max_intensity"] == arr.max()
        assert r["hist16"] == np.bincount(arr.ravel() >> 4, minlength=16).tolist()


def test_resize_nearest_neighbor(spark):
    out = resize_images(synthetic_media(spark, 8, "image"), 8, 8).collect()
    for r in out:
        assert r["meta"]["height"] == 8 and r["meta"]["width"] == 8
        arr = _regen(r["media_id"], "image")
        h, w, _ = arr.shape
        ys, xs = (np.arange(8) * h) // 8, (np.arange(8) * w) // 8
        want = arr[ys][:, xs]
        got = np.frombuffer(r["payload"], dtype=np.uint8).reshape(8, 8, 3)
        assert np.array_equal(got, want)


def test_frame_sampling(spark):
    media = synthetic_media(spark, 10, "video")
    frames = sample_frames(media, 2)
    got = frames.groupBy((F.col("media_id") / 1000).cast("long").alias("vid")).count()
    counts = {r["vid"]: r["count"] for r in got.collect()}
    for vid, n in counts.items():
        nf = _regen(vid, "video").shape[0]
        assert n == (nf + 1) // 2, (vid, nf)
    # each emitted frame payload is one full frame
    r = frames.first()
    assert len(r["payload"]) == 8 * 8 * 1


def test_binary_file_source(spark, tmp_path):
    for i in range(3):
        (tmp_path / f"img{i}.raw8").write_bytes(bytes(range(64)) * (i + 1))
    df = binary_file_source(spark, str(tmp_path / "*.raw8"), "raw8")
    rows = df.collect()
    assert len(rows) == 3
    assert {len(r["payload"]) for r in rows} == {64, 128, 192}
    assert all(r["format"] == "raw8" for r in rows)


def test_compressed_format_gated():
    # jpeg/png/gif/bmp/webp-lossless decode clean-room; a WELL-FORMED
    # heic container probes its box tree but pixel decode stays gated
    # (coded HEVC payload needs a codec binding); a malformed one
    # raises the named parse error instead
    from tests.test_isobmff import _heif

    from hortacloud_importer_spark.sources.heif import load_libheif

    expected = (
        NotImplementedError if load_libheif() is None
        else __import__(
            "hortacloud_importer_spark.sources.isobmff",
            fromlist=["IsobmffParseError"],
        ).IsobmffParseError
    )
    with pytest.raises(expected):
        _decode_one(
            "heic", _heif(True),
            {"height": 1, "width": 1, "channels": 1, "n_frames": 1},
        )
    from hortacloud_importer_spark.sources.isobmff import IsobmffParseError

    with pytest.raises(IsobmffParseError):
        _decode_one(
            "heic", b"\x00\x00\x00\x18ftypheic",
            {"height": 1, "width": 1, "channels": 1, "n_frames": 1},
        )
    # a truncated lossy VP8 chunk fails with the named parse error
    from hortacloud_importer_spark.sources.webp import WebpParseError

    with pytest.raises(WebpParseError, match="VP8"):
        _decode_one(
            "webp",
            b"RIFF\x10\x00\x00\x00WEBPVP8 \x04\x00\x00\x00\x00\x00\x00\x00",
            {"height": 1, "width": 1, "channels": 1, "n_frames": 1},
        )
    # corrupt payloads fail with parse errors, not silent results
    with pytest.raises(Exception, match="truncated|marker"):
        _decode_one(
            "jpeg", b"\xff\xd8\xff", {"height": 1, "width": 1, "channels": 1, "n_frames": 1}
        )
    with pytest.raises(Exception, match="chunk|signature"):
        _decode_one(
            "png", b"\x89PNG\r\n\x1a\n\x00", {"height": 1, "width": 1, "channels": 1, "n_frames": 1}
        )
    # a format no built-in decoder covers names the built-in set
    with pytest.raises(NotImplementedError, match="'xcf'.*tiff, jpeg, png"):
        _decode_one("xcf", b"gimp xcf v011", {})


def test_arrow_batch_shape(spark):
    """mapInPandas batches are pandas DataFrames with binary columns —
    assert the kernel sees bytes, not row-at-a-time Python objects."""
    media = synthetic_media(spark, 5, "image")
    kinds = media.select("payload").toPandas()
    assert all(isinstance(b, (bytes, bytearray)) for b in kinds["payload"])


def test_tiff_routes_to_baseline_reader():
    """The tiff format routes to the clean-room baseline reader."""
    import numpy as np

    from hortacloud_importer_spark.operators.multimodal import _decode_one
    from hortacloud_importer_spark.sources.tiff import encode_tiff

    page = np.arange(12, dtype=np.uint8).reshape(1, 3, 4)
    got = _decode_one(
        "tiff",
        encode_tiff(page),
        {"height": 3, "width": 4, "channels": 1, "n_frames": 1},
    )
    assert got.shape == (1, 3, 4, 1)
    assert np.array_equal(got[0, :, :, 0], page[0])


def test_retile_tiff_windowed_read_payoff(spark):
    """A7 over real TIFF payloads: strip layout in, 16x16-tiled zlib
    out — pixels identical, and a small window decodes O(window) tiles
    where the strip layout decodes the whole page."""
    from hortacloud_importer_spark.operators.multimodal import retile_tiff
    from hortacloud_importer_spark.sources.tiff import (
        decode_tiff,
        decode_tiff_window,
        encode_tiff,
        tiff_page_table,
    )

    rng = np.random.default_rng(13)
    img = rng.integers(0, 255, (64, 64), dtype=np.uint8)
    strip_blob = encode_tiff(img[None, ...])  # one strip, whole page
    media = spark.createDataFrame(
        [
            (
                1,
                "image",
                "tiff",
                bytearray(strip_blob),
                {
                    "height": 64,
                    "width": 64,
                    "channels": 1,
                    "sample_rate": 0,
                    "n_frames": 1,
                },
            )
        ],
        "media_id long, kind string, format string, payload binary,"
        " meta struct<height:int, width:int, channels:int,"
        " sample_rate:int, n_frames:int>",
    )
    out = retile_tiff(media, tile=(16, 16)).collect()
    assert len(out) == 1
    tiled_blob = bytes(out[0]["payload"])
    assert np.array_equal(decode_tiff(tiled_blob)[0, ..., 0], img)

    stats_tiled: dict = {}
    win = decode_tiff_window(tiled_blob, y=(0, 16), x=(16, 32), stats=stats_tiled)
    assert np.array_equal(win[..., 0], img[0:16, 16:32])
    counts = tiff_page_table(io.BytesIO(tiled_blob))[1][0][325]  # TileByteCounts
    assert stats_tiled == {
        "blocks_decoded": 1,
        "blocks_total": 16,
        "bytes_read": counts[1],  # the tile at row 0, column 1
        "bytes_total": sum(counts),
    }

    stats_strip: dict = {}
    decode_tiff_window(strip_blob, y=(0, 16), x=(16, 32), stats=stats_strip)
    assert stats_strip["blocks_decoded"] == stats_strip["blocks_total"] == 1
    # the strip "block" is the ENTIRE page; the tiled read touched 1/16


def test_decode_one_jpeg_via_builtin_codec():
    """The jpeg multimodal format decodes through the clean-room T.81
    decoder."""
    import numpy as np

    from hortacloud_importer_spark.operators.multimodal import _decode_one
    from hortacloud_importer_spark.sources.jpeg import encode_jpeg

    rng = np.random.default_rng(23)
    img = rng.integers(0, 256, (16, 24), dtype=np.uint8)
    arr = _decode_one("jpeg", encode_jpeg(img), {})
    assert arr.shape == (1, 16, 24, 1)
    assert np.abs(arr[0, :, :, 0].astype(int) - img.astype(int)).max() <= 1


def test_media_probe_matches_decode_dims():
    """Header-only probes must agree with the full decoders on every
    format (probe reads headers; decode is the ground truth)."""
    import numpy as np

    from hortacloud_importer_spark.operators.multimodal import (
        _decode_one,
        _probe_one,
    )
    from hortacloud_importer_spark.sources import avi, bmp, gif, jpeg
    from hortacloud_importer_spark.sources import pnm as pnm_mod
    from hortacloud_importer_spark.sources import png, tiff, wav, webp

    rng = np.random.default_rng(71)
    img = rng.integers(0, 256, (12, 18), dtype=np.uint8)
    rgb = rng.integers(0, 256, (12, 18, 3), dtype=np.uint8)
    pal = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    frames = rng.integers(0, 256, (3, 8, 10, 3), dtype=np.uint8)
    pcm = rng.integers(-500, 500, (200, 2), dtype=np.int16)
    cases = [
        ("jpeg", jpeg.encode_jpeg(img)),
        ("png", png.encode_png(img)),
        ("gif", gif.encode_gif(np.stack([img % 256] * 2), pal)),
        ("bmp", bmp.encode_bmp(rgb)),
        ("webp", webp.encode_webp(rgb)),
        ("ppm", pnm_mod.encode_pnm(rgb)),
        ("tiff", tiff.encode_tiff(img[None, ...].astype(np.uint16))),
        ("avi", avi.encode_avi(frames, codec="DIB")),
        ("wav", wav.encode_wav(pcm, rate=16000)),
    ]
    for fmt, payload in cases:
        meta = _probe_one(fmt, payload, {})
        arr = _decode_one(fmt, payload, {})
        assert meta["n_frames"] == arr.shape[0], fmt
        if fmt == "wav":
            assert meta["width"] == arr.shape[2], fmt
            assert meta["channels"] == arr.shape[3], fmt
            assert meta["sample_rate"] == 16000
        else:
            assert meta["height"] == arr.shape[1], fmt
            assert meta["width"] == arr.shape[2], fmt


def test_media_probe_lossy_webp_dims_without_decode():
    """The probe reads dimensions from the public VP8 keyframe header
    without running the (now real) pixel decode; a header-only
    payload with an empty first partition still fails decode by
    name."""
    import struct

    import pytest as _pytest

    from hortacloud_importer_spark.operators.multimodal import (
        _decode_one,
        _probe_one,
    )

    hdr = b"\x00\x00\x00" + b"\x9d\x01\x2a" + struct.pack("<HH", 640, 480)
    payload = (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(hdr))
        + b"WEBPVP8 "
        + struct.pack("<I", len(hdr))
        + hdr
    )
    meta = _probe_one("webp", payload, {})
    assert (meta["height"], meta["width"]) == (480, 640)
    with _pytest.raises(Exception, match="partition"):
        _decode_one("webp", payload, {})


def test_media_probe_error_modes(spark):
    from hortacloud_importer_spark.operators.multimodal import media_probe
    from hortacloud_importer_spark.sources.bmp import encode_bmp

    rng = np.random.default_rng(73)
    good = encode_bmp(rng.integers(0, 256, (4, 4, 3), dtype=np.uint8))
    media = spark.createDataFrame(
        [
            (1, "image", "bmp", bytearray(good), (0, 0, 0, 0, 1)),
            (2, "image", "bmp", bytearray(good[:20]), (0, 0, 0, 0, 1)),
        ],
        "media_id long, kind string, format string, payload binary, "
        "meta struct<height:int,width:int,channels:int,"
        "sample_rate:int,n_frames:int>",
    )
    rows = media_probe(media, errors="skip").collect()
    assert [r["media_id"] for r in rows] == [1]
    rows = {r["media_id"]: r for r in media_probe(media, errors="tag").collect()}
    assert rows[1]["probe_error"] is None and rows[1]["height"] == 4
    assert "BmpParseError" in rows[2]["probe_error"]


def test_features_wanted_columns_pushdown(spark):
    """columns=... narrows both the kernel's work and the Arrow output
    schema (guide §4.1: Spark cannot prune through an opaque
    mapInPandas). Values must match the full kernel's for the kept
    columns; unknown names and an empty subset must fail loudly."""
    media = synthetic_media(spark, 12, "image")
    narrow = media_features(media, columns=("n_bytes",))
    assert [f.name for f in narrow.schema.fields] == ["media_id", "n_bytes"]
    got = {r["media_id"]: r["n_bytes"] for r in narrow.collect()}
    full = {r["media_id"]: r["n_bytes"] for r in media_features(media).collect()}
    assert got == full
    # subset with stats: values identical to the full kernel
    sub = media_features(media, columns=("max_intensity", "n_bytes"))
    assert [f.name for f in sub.schema.fields] == [
        "media_id",
        "n_bytes",
        "max_intensity",
    ]
    fr = {r["media_id"]: r for r in media_features(media).collect()}
    for r in sub.collect():
        assert r["n_bytes"] == fr[r["media_id"]]["n_bytes"]
        assert r["max_intensity"] == fr[r["media_id"]]["max_intensity"]
    with pytest.raises(ValueError, match="unknown feature columns"):
        media_features(media, columns=("nope",))
    # an empty subset would build the malformed schema 'media_id long, '
    with pytest.raises(ValueError, match="at least one feature column"):
        media_features(media, columns=())


def test_features_wanted_columns_tag_mode(spark):
    """The errors contract is orthogonal to the pushdown: a corrupt
    payload still tags, with the kept columns zeroed (n_bytes = true
    payload length) and decode_error populated."""
    media = spark.createDataFrame(
        [(1, "image", "gif", bytearray(b"GIF89a\x01"), (0, 0, 0, 0, 1))],
        "media_id long, kind string, format string, payload binary, "
        "meta struct<height:int,width:int,channels:int,"
        "sample_rate:int,n_frames:int>",
    )
    rows = media_features(
        media, errors="tag", columns=("n_bytes",)
    ).collect()
    assert len(rows) == 1
    assert rows[0]["n_bytes"] == 7
    assert rows[0]["decode_error"] is not None
