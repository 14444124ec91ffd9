"""Committed fingerprint store: the state an INCREMENTAL crawl
ingest dedups against.

A one-shot dataset build (q_dataset_build) dedups a corpus against
itself; production ingestion is incremental — every new crawl
generation must drop documents already absorbed by ANY earlier
generation without rescanning their text. The store holds exactly the
16-byte content fingerprints of everything committed so far, with the
same durability discipline as the octree block store and the shard
store (SURVEY.md §2.A6/A11):

- layout: ``{root}/gen={g}/b={x}/part.parquet`` — one file per
  (generation, bucket), bucket = the fingerprint's first hex nibble
  (16 buckets). Bucketing by a digest prefix gives deterministic file
  placement, bounds per-file size, and lets a 100 TB deployment raise
  the nibble count and run the increment anti-join as a
  storage-partitioned join — no shuffle of the historical side.
- commit: each write appends one immutable manifest shard
  (sources/manifest.py); a data file without a manifest entry is an
  uncommitted leftover and is never read.
- resume: the resume unit is (gen, bucket) — a re-run of a killed
  write produces only the missing bucket files, found by a set lookup
  against the manifest's committed names on the driver (the A11
  pattern, driver-cheap: 16 ids per generation, not n_fingerprints
  rows).

Scale shape: fingerprints are 32 hex chars, no text; a generation's
write is one hash exchange on the bucket nibble; the read-back is a
manifest-filtered parquet scan. The store for a 100 TB corpus is
~0.4% of corpus bytes.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_fingerprints(
    spark: SparkSession,
    fps: DataFrame,
    root: str,
    gen: int,
    resume: bool = True,
    payload_cols: list[str] | None = None,
    bucket_col=None,
) -> list[dict]:
    """Write generation ``gen``'s store files (one per bucket value
    present in the input, each holding its DISTINCT payload rows in
    sorted order) for every bucket not already committed, then append
    ONE manifest commit shard covering the new files. Defaults are the
    fingerprint store: a single string column ``fp`` (32 hex chars)
    bucketed by its first nibble. ``payload_cols``/``bucket_col``
    generalize the same commit/resume machinery to posting-list stores
    (e.g. the MinHash signature store buckets ``(doc_id, band, bucket,
    sig)`` rows by band) — bucket values must be single lowercase hex
    characters so the manifest resume regex recognizes them. Returns
    the accounting rows for buckets written THIS run.
    """
    from hortacloud_importer_spark.sources import manifest
    from hortacloud_importer_spark.sources.datasource import _pa_fs

    cols = payload_cols if payload_cols is not None else ["fp"]
    key = bucket_col if bucket_col is not None else F.substring("fp", 1, 1)
    gen_i = int(gen)
    root_str = str(root)
    done = set()
    if resume:
        name = re.compile(rf"gen={gen_i}/b=([0-9a-f])/part\.parquet")
        done = manifest.committed_ids(*_pa_fs(root_str), name)
    # the file-bucket key lives in an internal column so a PAYLOAD
    # column named "bucket" (the signature store's LSH bucket) is
    # never clobbered by the store's own partitioning key
    todo = fps.select(*cols).withColumn("_store_bucket", key)
    if done:
        todo = todo.filter(~F.col("_store_bucket").isin(*sorted(done)))


    def _write_one(pdf):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        from hortacloud_importer_spark.sources import manifest as _m
        from hortacloud_importer_spark.sources.datasource import (
            _pa_fs as _fs,
        )

        if len(pdf) == 0:
            return pd.DataFrame(columns=["gen", "bucket", "n_fps", "file"])
        b = pdf["_store_bucket"].iloc[0]
        body = (
            pdf[cols].drop_duplicates().sort_values(cols)
        )
        filesystem, base = _fs(root_str)
        rel = f"gen={gen_i}/b={b}/part.parquet"
        filesystem.create_dir(f"{base}/gen={gen_i}/b={b}", recursive=True)
        with _m.staged_output(filesystem, f"{base}/{rel}") as fh:
            pq.write_table(
                pa.Table.from_pandas(body, preserve_index=False),
                fh,
                compression="zstd",
            )
        return pd.DataFrame(
            [{"gen": gen_i, "bucket": b, "n_fps": len(body), "file": rel}]
        )

    acct = (
        todo.groupBy("_store_bucket")
        .applyInPandas(
            _write_one, "gen long, bucket string, n_fps long, file string"
        )
        .collect()
    )
    rows = [r.asDict() for r in sorted(acct, key=lambda r: r["bucket"])]
    if rows:
        filesystem, base = _pa_fs(root_str)
        manifest.write_commit(
            filesystem, base, sorted(r["file"] for r in rows)
        )
    return rows


def read_fingerprints(spark: SparkSession, root: str) -> DataFrame:
    """Committed-only read-back of EVERY generation: a parquet scan of
    exactly the files the manifest commits (``manifest.read_committed``)
    with ``gen``/``b`` as partition columns (the bucket dir key is
    ``b``, not ``fp`` — a dir named fp= would collide with the fp DATA
    column during partition discovery), so a killed writer's stray
    file is never read as data. Raises if nothing was ever committed
    (reading an uncommitted store as "empty" would silently pass every
    increment as new)."""
    from hortacloud_importer_spark.sources import manifest

    return manifest.read_committed(spark, root, "fingerprint store")
