"""§2.K4 — multimodal (image/audio/video) columns.

Design: media rows are ``(media_id, kind, format, payload binary,
meta struct)`` — payload is opaque bytes, metadata is typed, exactly
the reference's block model generalized (a KTX block IS a binary
payload with typed header metadata, ktx/__init__.py:139-158). All
compute is ``mapInPandas`` over Arrow batches: bytes stay on
executors, the driver only sees aggregates.

Decode is REAL for the whole crawl-format set — clean-room codecs in
sources/ cover tiff, jpeg (baseline/progressive/12-bit), png, gif,
bmp, webp (lossy VP8 + lossless VP8L), netpbm, avi (MJPG + DIB),
wav, flac, and jp2, with
``raw8`` as the plain-bytes fast path. Each format has exactly one
decoder, the clean-room one; formats none covers raise
``NotImplementedError`` naming the built-in set. Every decoder raises
its named ParseError on corrupt payloads (fuzz-pinned), which is what
the kernels' ``errors="skip"/"tag"`` crawl modes catch.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

META_SCHEMA = (
    "meta struct<height:int, width:int, channels:int,"
    " sample_rate:int, n_frames:int>"
)
MEDIA_SCHEMA = (
    "media_id long, kind string, format string, payload binary, " + META_SCHEMA
)


def _decode_one(fmt: str, payload: bytes, meta) -> np.ndarray:
    """payload -> (frames, h, w, channels) ndarray through the
    format's clean-room decoder; formats with none raise
    ``NotImplementedError``."""
    if fmt == "raw8":
        h, w, c = int(meta["height"]), int(meta["width"]), int(meta["channels"])
        nf = max(1, int(meta["n_frames"] or 1))
        return np.frombuffer(payload, dtype=np.uint8).reshape(nf, h, w, c)
    if fmt in ("tiff", "tif"):
        # the reference's entire front door is TIFF page decode
        # (slice_to_dask_array / stack_to_dask_array,
        # tiff2octree.py:653-691, 628-651): the clean-room reader
        # (sources/tiff.py) covers the stacks the reference renders
        from hortacloud_importer_spark.sources.tiff import decode_tiff

        return decode_tiff(bytes(payload))
    if fmt in ("jpeg", "jpg"):
        # clean-room T.81 decoder (sources/jpeg.py): grayscale + YCbCr,
        # sequential AND progressive Huffman, 8- and 12-bit
        from hortacloud_importer_spark.sources.jpeg import decode_jpeg

        return decode_jpeg(bytes(payload))[None, ...]
    if fmt == "png":
        # clean-room PNG (sources/png.py): stdlib zlib + filters;
        # APNG animations composite to real multi-frame output
        from hortacloud_importer_spark.sources.png import decode_png_frames

        return decode_png_frames(bytes(payload))
    if fmt == "gif":
        # clean-room GIF87a/89a (sources/gif.py): LZW, interlace,
        # animation compositing with 89a disposal — the one built-in
        # format carrying REAL multi-frame payloads, so video-style
        # frame sampling runs against genuine animation data
        from hortacloud_importer_spark.sources.gif import decode_gif

        return decode_gif(bytes(payload))
    if fmt == "bmp":
        # clean-room BMP (sources/bmp.py): 8/24/32-bit BI_RGB
        from hortacloud_importer_spark.sources.bmp import decode_bmp

        return decode_bmp(bytes(payload))[None, ...]
    if fmt in ("pgm", "ppm", "pbm", "pnm"):
        # clean-room netpbm (sources/pnm.py): P1-P6, 8/16-bit
        from hortacloud_importer_spark.sources.pnm import decode_pnm

        return decode_pnm(bytes(payload))[None, ...]
    if fmt == "tga":
        # clean-room TARGA (sources/tga.py): types 1/2/3 + RLE
        from hortacloud_importer_spark.sources.tga import decode_tga

        return decode_tga(bytes(payload))[None, ...]
    if fmt == "webp":
        # clean-room lossless VP8L (sources/webp.py) AND lossy VP8
        # keyframes (sources/vp8.py, libwebp-parity-pinned); VP8X
        # stills route to the inner chunk; ANIM containers composite
        # per the container spec (blend/dispose/offsets); ALPH gates
        from hortacloud_importer_spark.sources.webp import (
            decode_webp_frames,
        )

        return decode_webp_frames(bytes(payload))
    if fmt == "avi":
        # clean-room RIFF/AVI container (sources/avi.py): MJPG frames
        # through the T.81 decoder, uncompressed DIB frames byte-exact
        from hortacloud_importer_spark.sources.avi import decode_avi

        return decode_avi(bytes(payload))
    if fmt == "wav":
        # clean-room RIFF/WAVE parser (sources/wav.py): integer PCM
        # and IEEE float, any rate/channel count; compressed tags gate
        from hortacloud_importer_spark.sources.wav import decode_wav

        samples, _rate = decode_wav(bytes(payload))
        return samples[None, None, :, :]  # (1 frame, 1, n, channels)
    if fmt == "flac":
        # clean-room FLAC (sources/flac.py): all subframe types, Rice
        # residuals, stereo decorrelation, CRC + MD5 verified
        from hortacloud_importer_spark.sources.flac import decode_flac

        samples, _rate = decode_flac(bytes(payload))
        return samples[None, None, :, :]  # (1 frame, 1, n, channels)
    if fmt == "mp3":
        # header walk validates the container; sample decode is an
        # honest codec-binding gate (sources/mp3.py)
        from hortacloud_importer_spark.sources.mp3 import decode_mp3

        return decode_mp3(bytes(payload))
    if fmt in ("ogg", "oga", "opus"):
        # clean-room Ogg page walk (sources/ogg.py): FLAC-in-Ogg
        # decodes REAL samples via sources/flac.py; Vorbis/Opus sample
        # decode is the honest codec-binding gate
        from hortacloud_importer_spark.sources.ogg import decode_ogg

        samples, _rate = decode_ogg(bytes(payload))
        return samples[None, None, :, :]  # (1 frame, 1, n, channels)
    if fmt == "aac":
        # same posture for ADTS AAC (sources/adts.py)
        from hortacloud_importer_spark.sources.adts import decode_adts

        return decode_adts(bytes(payload))
    if fmt in ("jp2", "j2k"):
        # clean-room lossless JPEG 2000 (sources/j2k.py) with the
        # J2kUnsupported features raise NotImplementedError naming them
        from hortacloud_importer_spark.sources.jp2 import decode_jp2

        return decode_jp2(bytes(payload))
    if fmt in ("heic", "heif", "avif", "mp4", "mov", "m4a", "m4v"):
        # ISOBMFF containers parse header-only (media_probe); the
        # coded HEVC/AV1/AAC payload is an honest codec-binding gate
        from hortacloud_importer_spark.sources.isobmff import (
            decode_isobmff,
        )

        return decode_isobmff(bytes(payload))
    raise NotImplementedError(
        f"format {fmt!r} has no decoder; built-in clean-room decoders "
        "cover raw8, tiff, jpeg, png, gif, bmp, webp, pnm/pgm/ppm, tga, "
        "avi, wav, flac, mp3, ogg, aac, jp2 and the ISOBMFF containers"
    )


def synthetic_media(
    spark: SparkSession,
    n: int,
    kind: str = "image",
    seed: int = 11,
    portable: bool = False,
) -> DataFrame:
    """Deterministic raw8 media: per-row RNG seeded by (seed, id), so
    any executor regenerates identical payloads (no driver data).

    ``portable=True`` derives the dimensions AND every payload byte
    from md5 chains instead of numpy's PCG — the engine's
    portable-hash idiom (operators/minhash.py), so a DuckDB oracle
    regenerates byte i of item m as hex pair ``i % 16`` of
    ``md5('{seed}:{m}:{i // 16}')`` and replays the downstream
    resize/sample/feature arithmetic value-for-value. This is what
    flipped the mm_* feature queries from rows-only to oracle-exact
    (round-13 ask #3, same discipline as the MinHash/SimHash flip)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        def h8(mid: int, tag: str) -> int:
            return int(
                hashlib.md5(
                    f"{seed}:{mid}:{tag}".encode()
                ).hexdigest()[:8],
                16,
            )

        def pbytes(mid: int, n_bytes: int) -> bytes:
            out = bytearray()
            for blk in range((n_bytes + 15) // 16):
                out += hashlib.md5(f"{seed}:{mid}:{blk}".encode()).digest()
            return bytes(out[:n_bytes])

        for pdf in batches:
            rows = []
            for mid in pdf["id"]:
                mid = int(mid)
                if portable:
                    if kind == "image":
                        h, w, c = 4 + h8(mid, "h") % 13, 4 + h8(mid, "w") % 13, 3
                        nf, sr = 1, 0
                        payload = np.frombuffer(
                            pbytes(mid, h * w * c), dtype=np.uint8
                        )
                    elif kind == "video":
                        h, w, c = 8, 8, 1
                        nf, sr = 4 + h8(mid, "f") % 9, 0
                        payload = np.frombuffer(
                            pbytes(mid, nf * h * w * c), dtype=np.uint8
                        )
                    else:  # audio: 1-D PCM8
                        h, w, c = 1, 64 + h8(mid, "w") % 193, 1
                        nf, sr = 1, 8000
                        payload = np.frombuffer(pbytes(mid, w), dtype=np.uint8)
                else:
                    rng = np.random.default_rng((seed, mid))
                    if kind == "image":
                        h, w, c = int(rng.integers(4, 17)), int(rng.integers(4, 17)), 3
                        nf, sr = 1, 0
                        payload = rng.integers(0, 256, size=h * w * c, dtype=np.uint8)
                    elif kind == "video":
                        h, w, c = 8, 8, 1
                        nf, sr = int(rng.integers(4, 13)), 0
                        payload = rng.integers(0, 256, size=nf * h * w * c, dtype=np.uint8)
                    else:  # audio: 1-D PCM8
                        h, w, c = 1, int(rng.integers(64, 257)), 1
                        nf, sr = 1, 8000
                        payload = rng.integers(0, 256, size=w, dtype=np.uint8)
                rows.append(
                    {
                        "media_id": mid,
                        "kind": kind,
                        "format": "raw8",
                        "payload": payload.tobytes(),
                        "meta": {
                            "height": h,
                            "width": w,
                            "channels": c,
                            "sample_rate": sr,
                            "n_frames": nf,
                        },
                    }
                )
            yield pd.DataFrame(rows)

    # size partitions to the row count: tiny demo sets shouldn't pay 32
    # Python-worker startups (at scale n/4096 partitions ~ a few
    # thousand rows per Arrow batch)
    return spark.range(n, numPartitions=max(1, min(n // 16, 32))).mapInPandas(
        gen, MEDIA_SCHEMA
    )


def binary_file_source(spark: SparkSession, glob: str, fmt: str) -> DataFrame:
    """A1 for media: ``binaryFile`` scan -> media rows (metadata-only
    decode happens lazily in the operators below)."""
    df = spark.read.format("binaryFile").load(glob)
    return df.select(
        F.xxhash64("path").alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit(fmt).alias("format"),
        F.col("content").alias("payload"),
        F.expr(
            "named_struct('height', -1, 'width', -1, 'channels', -1,"
            " 'sample_rate', 0, 'n_frames', 1)"
        ).alias("meta"),
    )


FEATURES_SCHEMA = (
    "media_id long, n_bytes int, mean_intensity double, min_intensity int,"
    " max_intensity int, hist16 array<long>"
)


def _decode_error_types() -> tuple[type, ...]:
    """Every named decode failure the clean-room codecs raise. A
    skip/tag kernel catches exactly these — anything else (a bug, not
    a corrupt payload) still fails the task loudly."""
    from hortacloud_importer_spark.sources.adts import AdtsParseError
    from hortacloud_importer_spark.sources.avi import AviParseError
    from hortacloud_importer_spark.sources.bmp import BmpParseError
    from hortacloud_importer_spark.sources.codecs import CodecError
    from hortacloud_importer_spark.sources.flac import FlacParseError
    from hortacloud_importer_spark.sources.gif import GifParseError
    from hortacloud_importer_spark.sources.isobmff import IsobmffParseError
    from hortacloud_importer_spark.sources.jp2 import Jp2ParseError
    from hortacloud_importer_spark.sources.jpeg import JpegParseError
    from hortacloud_importer_spark.sources.mp3 import Mp3ParseError
    from hortacloud_importer_spark.sources.ogg import OggParseError
    from hortacloud_importer_spark.sources.png import PngParseError
    from hortacloud_importer_spark.sources.pnm import PnmParseError
    from hortacloud_importer_spark.sources.tga import TgaParseError
    from hortacloud_importer_spark.sources.tiff import TiffParseError
    from hortacloud_importer_spark.sources.wav import WavParseError
    from hortacloud_importer_spark.sources.webp import WebpParseError

    return (
        AdtsParseError,
        AviParseError,
        BmpParseError,
        CodecError,
        FlacParseError,
        GifParseError,
        IsobmffParseError,
        Jp2ParseError,
        JpegParseError,
        Mp3ParseError,
        OggParseError,
        PngParseError,
        PnmParseError,
        TgaParseError,
        TiffParseError,
        WavParseError,
        WebpParseError,
        # the honest format gates (needs-a-binding / out-of-scope)
        NotImplementedError,
    )


PROBE_SCHEMA = (
    "media_id long, format string, n_bytes long, height int, width int,"
    " channels int, n_frames int, sample_rate int"
)


def _probe_one(fmt: str, payload: bytes, meta) -> dict:
    """Header-only metadata: (height, width, channels, n_frames,
    sample_rate) WITHOUT decoding any pixel/sample data. The cheap
    first pass of a crawl pipeline — at 100 TB you schema-scan
    everything and decode selectively, so this must cost header reads
    (a few KiB per file), not decode CPU. Dimensions parse even for
    formats whose pixels gate (lossy/extended WebP)."""
    h = w = c = 0
    nf = 1
    rate = 0
    if fmt == "raw8":
        h, w, c = int(meta["height"]), int(meta["width"]), int(meta["channels"])
        nf = max(1, int(meta["n_frames"] or 1))
    elif fmt in ("tiff", "tif"):
        from hortacloud_importer_spark.sources.tiff import tiff_probe

        nf, h, w, c = tiff_probe(payload)
    elif fmt in ("jpeg", "jpg"):
        from hortacloud_importer_spark.sources.jpeg import jpeg_probe

        h, w, c = jpeg_probe(payload)
    elif fmt == "png":
        from hortacloud_importer_spark.sources.png import (
            png_frame_count,
            png_probe,
        )

        h, w, c = png_probe(payload)
        nf = png_frame_count(payload)
    elif fmt == "gif":
        from hortacloud_importer_spark.sources.gif import gif_probe

        h, w, nf = gif_probe(payload)
        c = 3
    elif fmt == "bmp":
        from hortacloud_importer_spark.sources.bmp import bmp_probe

        h, w, c = bmp_probe(payload)
    elif fmt == "webp":
        from hortacloud_importer_spark.sources.webp import (
            webp_frame_count,
            webp_probe,
        )

        h, w, variant = webp_probe(payload)
        if variant == "animated":
            nf = webp_frame_count(payload)
        c = 3
    elif fmt in ("pgm", "ppm", "pbm", "pnm"):
        from hortacloud_importer_spark.sources.pnm import pnm_probe

        h, w, c = pnm_probe(payload)
    elif fmt == "tga":
        from hortacloud_importer_spark.sources.tga import tga_probe

        h, w, c = tga_probe(payload)
    elif fmt == "avi":
        from hortacloud_importer_spark.sources.avi import avi_probe

        h, w, nf = avi_probe(payload)
        c = 3
    elif fmt == "wav":
        from hortacloud_importer_spark.sources.wav import wav_probe

        n_samples, c, rate = wav_probe(payload)
        h, w = 1, n_samples
    elif fmt == "flac":
        from hortacloud_importer_spark.sources.flac import flac_probe

        n_samples, c, rate, _bps = flac_probe(payload)
        h, w = 1, n_samples
    elif fmt == "mp3":
        from hortacloud_importer_spark.sources.mp3 import mp3_probe

        n_samples, c, rate, nf = mp3_probe(payload)
        h, w = 1, n_samples
    elif fmt == "aac":
        from hortacloud_importer_spark.sources.adts import adts_probe

        n_samples, c, rate, nf = adts_probe(payload)
        h, w = 1, n_samples
    elif fmt in ("ogg", "oga", "opus"):
        from hortacloud_importer_spark.sources.ogg import ogg_probe

        _codec, n_samples, c, rate, nf = ogg_probe(payload)
        h, w = 1, n_samples
    elif fmt in ("jp2", "j2k"):
        from hortacloud_importer_spark.sources.jp2 import jp2_shape

        h, w, c = jp2_shape(payload)
    elif fmt in ("heic", "heif", "avif", "mp4", "mov", "m4a", "m4v"):
        from hortacloud_importer_spark.sources.isobmff import isobmff_probe

        _kind, h, w, c, nf, rate = isobmff_probe(payload)
    else:
        raise NotImplementedError(f"no header probe for format {fmt!r}")
    return {
        "height": int(h),
        "width": int(w),
        "channels": int(c),
        "n_frames": int(nf),
        "sample_rate": int(rate),
    }


def media_probe(media: DataFrame, errors: str = "raise") -> DataFrame:
    """Metadata extraction over MEDIA_SCHEMA rows: per-payload header
    probe (no decode) -> one typed row per item. Same ``errors``
    contract as :func:`media_features` (``tag`` adds a
    ``probe_error`` column)."""
    _check_errors_mode(errors, ("raise", "skip", "tag"))
    schema = PROBE_SCHEMA
    if errors == "tag":
        schema = PROBE_SCHEMA + ", probe_error string"

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        catchable = _decode_error_types() if errors != "raise" else ()
        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                payload = bytes(row.payload)
                rec = {
                    "media_id": int(row.media_id),
                    "format": row.format,
                    "n_bytes": len(payload),
                }
                try:
                    rec.update(_probe_one(row.format, payload, row.meta))
                except catchable as exc:
                    if errors == "tag":
                        rec.update(
                            height=0,
                            width=0,
                            channels=0,
                            n_frames=0,
                            sample_rate=0,
                            probe_error=f"{type(exc).__name__}: {exc}",
                        )
                        out.append(rec)
                    continue
                if errors == "tag":
                    rec["probe_error"] = None
                out.append(rec)
            yield pd.DataFrame(out) if out else _empty_batch(schema)

    return media.mapInPandas(probe, schema)


def _empty_batch(schema: str) -> pd.DataFrame:
    """An all-skipped batch still needs the declared columns (object
    dtype so Arrow maps empty array/struct columns correctly). Column
    names come from splitting on TOP-LEVEL commas only — struct types
    (META_SCHEMA) contain ', ' inside their angle brackets, and this
    runs inside a Python worker where the JVM DDL parser (StructType
    .fromDDL) is unreachable."""
    names, depth, start = [], 0, 0
    for i, ch in enumerate(schema):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            names.append(schema[start:i].strip().split(" ")[0])
            start = i + 1
    names.append(schema[start:].strip().split(" ")[0])
    return pd.DataFrame({n: pd.Series([], dtype=object) for n in names})


def _check_errors_mode(errors: str, allowed: tuple[str, ...]) -> None:
    if errors not in allowed:
        raise ValueError(f"errors must be {'/'.join(allowed)}, got {errors!r}")


_FEATURE_COL_TYPES = {
    "n_bytes": "int",
    "mean_intensity": "double",
    "min_intensity": "int",
    "max_intensity": "int",
    "hist16": "array<long>",
}


def media_features(
    media: DataFrame,
    errors: str = "raise",
    columns: "tuple[str, ...] | None" = None,
) -> DataFrame:
    """Feature extraction: per-item intensity stats + 16-bin histogram,
    one Arrow batch at a time (J2's batched-kernel pattern).

    ``errors`` is the 100 TB crawl knob — a billion-image corpus
    always carries bit-rotted payloads, and one of them must not kill
    the stage (Spark retries the task, hits the same bytes, and fails
    the job after 4 attempts):

    - ``"raise"`` (default): any decode failure fails the task —
      right for curated stores, and keeps oracle runs strict;
    - ``"skip"``: rows whose payload raises a NAMED parse error are
      dropped; unexpected exception types still propagate;
    - ``"tag"``: like skip, but corrupt rows are kept with zeroed
      features and the error text in an extra ``decode_error`` column
      (NULL for clean rows), so the pipeline can count/quarantine
      bad payloads downstream instead of losing them silently.

    ``columns`` is the wanted-column pushdown (guide §4.1/§6): Spark
    cannot prune through an opaque mapInPandas, so a caller that only
    consumes ``n_bytes`` would otherwise still pay for the stats and
    the 16-bin histogram of every payload. Passing a subset of the
    feature columns narrows both the kernel's work and the Arrow
    output schema; decode behavior (and the ``errors`` contract) is
    unchanged, so a corrupt payload fails/skips/tags identically."""
    _check_errors_mode(errors, ("raise", "skip", "tag"))
    if columns is None:
        keep = tuple(_FEATURE_COL_TYPES)
    else:
        if not columns:
            raise ValueError("columns must name at least one feature column")
        unknown = set(columns) - set(_FEATURE_COL_TYPES)
        if unknown:
            raise ValueError(f"unknown feature columns: {sorted(unknown)}")
        # canonical order, so the schema is stable however the caller
        # spells the subset
        keep = tuple(c for c in _FEATURE_COL_TYPES if c in set(columns))
    need_hist = "hist16" in keep
    need_stats = bool(
        {"mean_intensity", "min_intensity", "max_intensity"} & set(keep)
    )
    schema = "media_id long, " + ", ".join(
        f"{c} {_FEATURE_COL_TYPES[c]}" for c in keep
    )
    if errors == "tag":
        schema = schema + ", decode_error string"

    _zero_feature = {
        "n_bytes": 0,
        "mean_intensity": 0.0,
        "min_intensity": 0,
        "max_intensity": 0,
    }

    def _zeros(n_bytes: int) -> dict:
        rec = {c: _zero_feature.get(c) for c in keep}
        if "hist16" in rec:
            rec["hist16"] = np.zeros(16, dtype=np.int64)
        if "n_bytes" in rec:
            rec["n_bytes"] = n_bytes
        return rec

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        catchable = _decode_error_types() if errors != "raise" else ()
        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                try:
                    arr = _decode_one(row.format, bytes(row.payload), row.meta)
                except catchable as exc:
                    if errors == "tag":
                        # n_bytes is a payload property, not a decoded
                        # feature — keep the true length so quarantine
                        # queries can size the corrupt set (matches
                        # media_probe's tag-mode accounting)
                        rec = {"media_id": int(row.media_id)}
                        rec.update(_zeros(len(bytes(row.payload))))
                        rec["decode_error"] = f"{type(exc).__name__}: {exc}"
                        out.append(rec)
                    continue
                if arr.size == 0:
                    # a legal container with an empty data chunk:
                    # zero features, not a reduction crash
                    rec = {"media_id": int(row.media_id)}
                    rec.update(_zeros(0))
                    out.append(rec)
                    continue
                rec = {"media_id": int(row.media_id)}
                if "n_bytes" in keep:
                    rec["n_bytes"] = int(arr.size)
                if not need_hist:
                    hist = None
                # 16 bins. uint8 keeps fixed [0,256) bins (>> 4); wider
                # samples bin over the item's own power-of-two dynamic
                # range — a fixed >> 12 would put every pixel of a
                # 12-bit (or dim 16-bit microscopy) item into bin 0.
                elif np.issubdtype(arr.dtype, np.floating):
                    # float audio: 16 bins over [-1, 1); NaN -> bin 0
                    binned = np.clip(
                        np.nan_to_num((arr.ravel() + 1.0) * 8.0), 0, 15
                    ).astype(np.int64)
                    hist = np.bincount(binned, minlength=16)
                elif np.issubdtype(arr.dtype, np.signedinteger):
                    # signed PCM: 16 bins over the symmetric dynamic
                    # range of the item. Peak in int64 (abs(INT32_MIN)
                    # overflows in int32); span is the power-of-two
                    # CEILING, so an exact power-of-two peak keeps its
                    # own span (32768 -> 32768, not 65536).
                    peak = int(
                        np.abs(arr.astype(np.int64)).max(initial=0)
                    )
                    span = max(256, 1 << (peak - 1).bit_length()) if peak else 256
                    binned = np.clip(
                        (arr.ravel().astype(np.int64) + span) * 8 // span,
                        0,
                        15,
                    )
                    hist = np.bincount(binned, minlength=16)
                else:
                    if arr.dtype.itemsize == 1:
                        shift = 4
                    else:
                        shift = max(
                            4, int(arr.max(initial=0)).bit_length() - 4
                        )
                    hist = np.bincount(arr.ravel() >> shift, minlength=16)
                if need_hist:
                    rec["hist16"] = hist.astype(np.int64)
                if need_stats:
                    stat = arr
                    if np.issubdtype(arr.dtype, np.floating):
                        stat = np.nan_to_num(arr)  # NaN -> 0 in the stats
                    if "mean_intensity" in keep:
                        rec["mean_intensity"] = float(stat.mean())
                    if "min_intensity" in keep:
                        rec["min_intensity"] = int(stat.min())
                    if "max_intensity" in keep:
                        rec["max_intensity"] = int(stat.max())
                out.append(rec)
            if errors == "tag":
                for rec in out:
                    rec.setdefault("decode_error", None)
            yield pd.DataFrame(out) if out else _empty_batch(schema)

    # pass only the columns the kernel reads (guide §4.1): `kind` (and
    # anything a caller tacked on) would otherwise ride the Arrow
    # transfer for nothing
    media = media.select("media_id", "format", "payload", "meta")
    return media.mapInPandas(feats, schema)


def resize_images(
    media: DataFrame, th: int, tw: int, errors: str = "raise"
) -> DataFrame:
    """Nearest-neighbor resize (real for raw8): new payload + meta.
    Same MEDIA_SCHEMA out, so resizes compose/pipeline. ``errors=
    "skip"`` drops rows whose payload raises a named parse error
    (the crawl knob — see :func:`media_features`)."""
    _check_errors_mode(errors, ("raise", "skip"))

    def rs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        catchable = _decode_error_types() if errors == "skip" else ()
        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                try:
                    arr = _decode_one(row.format, bytes(row.payload), row.meta)[0]
                except catchable:
                    continue
                h, w, c = arr.shape
                ys = (np.arange(th) * h) // th
                xs = (np.arange(tw) * w) // tw
                resized = arr[ys][:, xs]
                out.append(
                    {
                        "media_id": int(row.media_id),
                        "kind": row.kind,
                        "format": "raw8",
                        "payload": resized.tobytes(),
                        "meta": {
                            "height": th,
                            "width": tw,
                            "channels": c,
                            "sample_rate": int(row.meta["sample_rate"]),
                            "n_frames": 1,
                        },
                    }
                )
            yield pd.DataFrame(out) if out else _empty_batch(MEDIA_SCHEMA)

    return media.mapInPandas(rs, MEDIA_SCHEMA)


def retile_tiff(media: DataFrame, tile: tuple[int, int] = (256, 256)) -> DataFrame:
    """A7's real-TIFF half: rewrite strip-layout TIFF payloads as
    zlib-compressed TILED TIFF (the reference's conv_tiled_tiff,
    tiff2octree.py:516-551 — it retiles big slices at 256x256 exactly
    so later windowed reads decode O(window) tiles instead of whole
    strips; decode_tiff_window's block-pruning stats prove the payoff).

    mapInPandas over Arrow batches — payloads stay on executors; same
    MEDIA_SCHEMA out (format becomes 'tiff'), so retiles compose with
    the other media operators."""
    tl, tw = int(tile[0]), int(tile[1])

    def rt(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from hortacloud_importer_spark.sources.tiff import encode_tiff

        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                arr = _decode_one(row.format, bytes(row.payload), row.meta)
                # (frames, h, w, c) -> pages; uint8 stays, wider casts up
                pages = arr.astype(np.uint8 if arr.dtype == np.uint8 else np.uint16)
                if pages.shape[-1] == 1:
                    pages = pages[..., 0]
                out.append(
                    {
                        "media_id": int(row.media_id),
                        "kind": row.kind,
                        "format": "tiff",
                        "payload": encode_tiff(
                            pages, compression="zlib", tile=(tl, tw)
                        ),
                        "meta": {
                            "height": int(row.meta["height"]),
                            "width": int(row.meta["width"]),
                            "channels": int(row.meta["channels"]),
                            "sample_rate": int(row.meta["sample_rate"]),
                            "n_frames": int(row.meta["n_frames"]),
                        },
                    }
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(rt, MEDIA_SCHEMA)


def sample_frames(
    media: DataFrame, stride: int, errors: str = "raise"
) -> DataFrame:
    """Video -> image rows, every ``stride``-th frame (a 1->N UDTF,
    J4): the batch shape stays bounded because each output row is a
    single frame. ``errors="skip"`` drops videos whose payload raises
    a named parse error (the crawl knob — see
    :func:`media_features`)."""
    _check_errors_mode(errors, ("raise", "skip"))

    def fs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        catchable = _decode_error_types() if errors == "skip" else ()
        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                try:
                    frames = _decode_one(
                        row.format, bytes(row.payload), row.meta
                    )
                except catchable:
                    continue
                for fi in range(0, frames.shape[0], stride):
                    out.append(
                        {
                            "media_id": int(row.media_id) * 1000 + fi,
                            "kind": "image",
                            "format": "raw8",
                            "payload": frames[fi].tobytes(),
                            "meta": {
                                "height": frames.shape[1],
                                "width": frames.shape[2],
                                "channels": frames.shape[3],
                                "sample_rate": 0,
                                "n_frames": 1,
                            },
                        }
                    )
            yield pd.DataFrame(out) if out else _empty_batch(MEDIA_SCHEMA)

    return media.mapInPandas(fs, MEDIA_SCHEMA)


FRAME_INDEX_SCHEMA = (
    "media_id long, track_id int, sample_idx int, byte_offset long,"
    " byte_size long, dts long, duration long, timescale int,"
    " is_sync boolean"
)


def media_frame_index(media: DataFrame, errors: str = "raise") -> DataFrame:
    """MP4/MOV sample-table enumeration (1->N over ISOBMFF payloads):
    per-frame byte ranges + decode timestamps from stsd/stts/stsc/
    stco/stsz (and moof/tfhd/tfdt/trun for fragmented files), WITHOUT
    decoding any coded payload. The video analog of chunk pruning —
    a scheduler range-reads selected frames (e.g. every sync sample)
    from object storage instead of shipping whole mdat boxes; at
    crawl scale this is the difference between reading ~1% and 100%
    of a video corpus. Same ``errors`` contract as media_probe."""
    _check_errors_mode(errors, ("raise", "skip"))

    def fx(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from hortacloud_importer_spark.sources.isobmff import (
            isobmff_frame_index,
        )

        catchable = _decode_error_types() if errors == "skip" else ()
        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                if row.format not in ("mp4", "mov", "m4a", "m4v",
                                      "heic", "heif", "avif"):
                    raise NotImplementedError(
                        f"frame index needs an ISOBMFF container, "
                        f"got {row.format!r}"
                    )
                try:
                    idx = isobmff_frame_index(bytes(row.payload))
                except catchable:
                    continue
                for (tid, si, off, sz, dts, dur, ts, sync) in idx:
                    out.append(
                        {
                            "media_id": int(row.media_id),
                            "track_id": tid,
                            "sample_idx": si,
                            "byte_offset": off,
                            "byte_size": sz,
                            "dts": dts,
                            "duration": dur,
                            "timescale": ts,
                            "is_sync": sync,
                        }
                    )
            yield (
                pd.DataFrame(out) if out else _empty_batch(FRAME_INDEX_SCHEMA)
            )

    return media.mapInPandas(fx, FRAME_INDEX_SCHEMA)
