"""Commit/resume contract of the dataloader shard-index store
(pipelines/shard_store.py — round-13 ask #6): resume writes only
missing shards, uncommitted leftovers are inert to readers, files
carry the within-shard read order, and the store's accounting matches
the in-memory corpus_shard deal."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hortacloud_importer_spark.pipelines.shard_store import (
    read_shard_store,
    shard_index,
    write_shard_store,
)


@pytest.fixture(scope="module")
def index(spark, sf_dir):
    return shard_index(spark, sf_dir).cache()


def test_write_then_resume_writes_only_missing_shards(
    spark, sf_dir, index, tmp_path_factory
):
    root = str(tmp_path_factory.mktemp("store_resume") / "store")
    first = write_shard_store(
        spark, index.filter(F.col("shard") < 3), root
    )
    assert sorted(r["shard"] for r in first) == [0, 1, 2]

    second = write_shard_store(spark, index, root)
    assert sorted(r["shard"] for r in second) == [3, 4, 5, 6, 7]

    # fully committed: a third run is a no-op (and appends no files)
    assert write_shard_store(spark, index, root) == []

    back = read_shard_store(spark, root)
    assert back.count() == index.count()
    assert sorted(
        r["shard"] for r in back.select("shard").distinct().collect()
    ) == list(range(8))


def test_uncommitted_leftover_is_inert(spark, index, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("store_stray") / "store")
    write_shard_store(spark, index, root)
    # a killed writer's stray file: right name, right schema, NO
    # manifest entry — the read-back must not surface it as data
    stray_dir = os.path.join(root, "shard=99")
    os.makedirs(stray_dir)
    one = pq.read_table(os.path.join(root, "shard=0", "index.parquet"))
    pq.write_table(one, os.path.join(stray_dir, "index.parquet"))

    back = read_shard_store(spark, root)
    shards = {r["shard"] for r in back.select("shard").distinct().collect()}
    assert 99 not in shards
    assert shards == set(range(8))


def test_read_back_scans_committed_files_only(spark, index, tmp_path_factory):
    """The read-back is one parquet scan of the files the manifest
    names: no join against the manifest and no text scan of it."""
    root = str(tmp_path_factory.mktemp("store_plan") / "store")
    write_shard_store(spark, index, root)
    back = read_shard_store(spark, root)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan
    assert "Join" not in plan and "FileScan text" not in plan
    assert back.count() == index.count()


def test_files_carry_within_shard_read_order(
    spark, index, tmp_path_factory
):
    root = str(tmp_path_factory.mktemp("store_order") / "store")
    write_shard_store(spark, index, root)
    t = pq.read_table(os.path.join(root, "shard=0", "index.parquet"))
    rows = list(
        zip(
            t.column("u").to_pylist(),
            t.column("seq_id").to_pylist(),
            t.column("seq_off").to_pylist(),
        )
    )
    assert rows == sorted(rows)
    assert len(rows) > 0


def test_store_accounting_matches_corpus_shard(
    spark, sf_dir, index, tmp_path_factory
):
    from hortacloud_importer_spark.queries.dedup import corpus_shard

    root = str(tmp_path_factory.mktemp("store_acct") / "store")
    write_shard_store(spark, index, root)
    got = {
        r["shard"]: r["shard_tokens"]
        for r in read_shard_store(spark, root)
        .groupBy("shard")
        .agg(F.sum("n_tok").alias("shard_tokens"))
        .collect()
    }
    want = {
        r["shard"]: r["shard_tokens"]
        for r in corpus_shard(spark, sf_dir).collect()
    }
    assert got == want


def test_read_without_manifest_refuses(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("store_nomani") / "store")
    os.makedirs(root)
    with pytest.raises(FileNotFoundError):
        read_shard_store(spark, root)


def _digests(root):
    """{committed file: sha256} of a shard store."""
    import hashlib

    from pyarrow import fs as pafs

    from hortacloud_importer_spark.sources import manifest

    out = {}
    for rel in manifest.committed_files(pafs.LocalFileSystem(), root):
        with open(os.path.join(root, rel), "rb") as fh:
            out[rel] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_failed_write_commits_nothing_and_resumes(
    spark, index, tmp_path_factory
):
    """One shard's final ``index.parquet`` name taken by a directory
    fails its staged rename, so the run commits nothing: readers see
    the earlier commit only, and once the obstacle is gone the resume
    writes just the missing shards and the store equals an
    uninterrupted one."""
    base = tmp_path_factory.mktemp("store_fault")
    whole = str(base / "whole")
    write_shard_store(spark, index, whole)

    root = str(base / "store")
    write_shard_store(spark, index.filter(F.col("shard") < 3), root)
    first = _digests(root)
    obstacle = os.path.join(root, "shard=5", "index.parquet")
    os.makedirs(obstacle)
    with pytest.raises(Exception, match="Is a directory"):
        write_shard_store(spark, index, root)
    assert _digests(root) == first
    back = read_shard_store(spark, root)
    assert sorted(
        r["shard"] for r in back.select("shard").distinct().collect()
    ) == [0, 1, 2]
    assert back.count() == index.filter(F.col("shard") < 3).count()

    os.rmdir(obstacle)
    resumed = write_shard_store(spark, index, root)
    assert sorted(r["shard"] for r in resumed) == [3, 4, 5, 6, 7]
    assert _digests(root) == _digests(whole)
