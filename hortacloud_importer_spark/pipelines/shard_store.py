"""Dataloader shard-index store (round-13 ask #6): the committed,
resumable SINK for the corpus_shard deal.

`corpus_shard` computes the per-shard accounting; a real training job
needs the per-shard fragment index WRITTEN as a store its dataloaders
can range-read and its scheduler can resume — the same commit
discipline as the octree block store (SURVEY.md §2.A6/A11):

- layout: ``{root}/shard={k}/index.parquet`` — one file per shard,
  rows in within-shard read order (ascending (u, seq_id, seq_off), the
  seeded epoch shuffle corpus_shard pins), so a rank's dataloader
  reads ITS file top-to-bottom and never sorts;
- commit: every write appends one immutable manifest shard
  (sources/manifest.py — the Delta-log pattern); a file is data only
  if the manifest says so, so a killed job's stray ``index.parquet``
  is inert to readers;
- resume: the wanted shard ids less the committed ones, read from the
  manifest on the driver (the A11 pattern) — a re-run writes only
  missing shards.

Scale shape: the index is ~1 fragment row per 512 tokens (0.2% of
corpus rows, no text), the deal is the map-side :func:`shard_deal`,
and the only exchange is the hash partition on ``shard`` that routes
each shard's rows to the one task that writes its file. Writes happen
executor-side through pyarrow (manifest.staged_output: staged+rename
where rename is atomic, single PUT on object stores); the driver sees
only the n_shards accounting rows and the manifest commit.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_INDEX_COLS = ["seq_id", "doc_id", "seq_off", "doc_off", "n_tok", "u"]
# a committed shard file's name; its group is the shard id
_SHARD_FILE = re.compile(r"shard=(\d+)/index\.parquet")


def shard_index(
    spark: SparkSession,
    sf_dir: str,
    n_shards: int | None = None,
    seed: str | None = None,
) -> DataFrame:
    """The store's input frame: the fragment-level read index
    (queries/dedup.py::corpus_pack_index) dealt to shards by the
    seeded :func:`shard_deal` — one row per (sequence, contributing
    document) fragment with its shard and within-shard order key."""
    from hortacloud_importer_spark.queries.dedup import (
        _SHARD_N,
        _SHARD_SEED,
        corpus_pack_index,
        shard_deal,
    )

    idx = corpus_pack_index(spark, sf_dir)
    return shard_deal(
        idx,
        n_shards if n_shards is not None else _SHARD_N,
        seed if seed is not None else _SHARD_SEED,
    )


def write_shard_store(
    spark: SparkSession,
    index: DataFrame,
    root: str,
    resume: bool = True,
) -> list[dict]:
    """Write ``shard={k}/index.parquet`` for every shard in ``index``
    not already committed, then append ONE manifest commit shard
    covering the new files. Returns the accounting rows for the shards
    written THIS run (empty when everything was already committed).

    The resume filter is driver-cheap by design: shard ids are the
    resume unit (n_shards ints, not n_fragments rows), taken from the
    manifest's committed names with no Spark job and folded into a
    pushable filter.
    """
    from hortacloud_importer_spark.sources import manifest
    from hortacloud_importer_spark.sources.datasource import _pa_fs

    root_str = str(root)
    done = manifest.committed_ids(*_pa_fs(root_str), _SHARD_FILE) if resume else set()
    todo = index
    if done:
        todo = index.filter(~F.col("shard").isin(*sorted(int(k) for k in done)))

    def _write_one(pdf):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        from hortacloud_importer_spark.sources import manifest as _m
        from hortacloud_importer_spark.sources.datasource import (
            _pa_fs as _fs,
        )

        if len(pdf) == 0:
            return pd.DataFrame(
                columns=[
                    "shard", "n_fragments", "n_seqs", "n_docs",
                    "shard_tokens", "file",
                ]
            )
        k = int(pdf["shard"].iloc[0])
        # within-shard read order: the seeded epoch shuffle (u, then
        # seq_id for u ties across distinct sequences), fragments of a
        # sequence in seq_off order — the dataloader reads sequentially
        body = pdf.sort_values(["u", "seq_id", "seq_off"])[_INDEX_COLS]
        filesystem, base = _fs(root_str)
        rel = f"shard={k}/index.parquet"
        filesystem.create_dir(f"{base}/shard={k}", recursive=True)
        with _m.staged_output(filesystem, f"{base}/{rel}") as fh:
            pq.write_table(
                pa.Table.from_pandas(body, preserve_index=False),
                fh,
                compression="zstd",
            )
        return pd.DataFrame(
            [
                {
                    "shard": k,
                    "n_fragments": len(body),
                    "n_seqs": body["seq_id"].nunique(),
                    "n_docs": body["doc_id"].nunique(),
                    "shard_tokens": int(body["n_tok"].sum()),
                    "file": rel,
                }
            ]
        )

    acct = (
        todo.groupBy("shard")
        .applyInPandas(
            _write_one,
            "shard long, n_fragments long, n_seqs long, n_docs long, "
            "shard_tokens long, file string",
        )
        .collect()
    )
    rows = [r.asDict() for r in sorted(acct, key=lambda r: r["shard"])]
    if rows:
        filesystem, base = _pa_fs(root_str)
        manifest.write_commit(
            filesystem, base, sorted(r["file"] for r in rows)
        )
    return rows


def read_shard_store(spark: SparkSession, root: str) -> DataFrame:
    """Committed-only read-back: a parquet scan of exactly the files
    the manifest commits, the ``shard=k`` directories as a partition
    column (``manifest.read_committed``), so an uncommitted leftover
    from a killed write is never read as data — the same rule every
    block-store read applies."""
    from hortacloud_importer_spark.sources import manifest

    return manifest.read_committed(spark, root, "shard store")
