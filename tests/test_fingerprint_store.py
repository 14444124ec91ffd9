"""Commit/resume contract of the incremental-ingest fingerprint store
(pipelines/fingerprint_store.py): resume writes only missing buckets,
uncommitted leftovers are inert to readers, generations accumulate,
files carry sorted distinct fingerprints, and a listing cached before
an append never hides a newly committed generation."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hortacloud_importer_spark.pipelines.fingerprint_store import (
    read_fingerprints,
    write_fingerprints,
)


@pytest.fixture(scope="module")
def fps(spark, sf_dir):
    from hortacloud_importer_spark.catalog import table

    return (
        table(spark, sf_dir, "documents")
        .select(F.md5("text").alias("fp"))
        .cache()
    )


def test_write_then_resume_writes_only_missing_buckets(
    spark, fps, tmp_path_factory
):
    root = str(tmp_path_factory.mktemp("fp_resume") / "store")
    first = write_fingerprints(
        spark, fps.filter(F.substring("fp", 1, 1) < "8"), root, gen=0
    )
    low = {r["bucket"] for r in first}
    assert low and all(b < "8" for b in low)

    second = write_fingerprints(spark, fps, root, gen=0)
    high = {r["bucket"] for r in second}
    assert high and all(b >= "8" for b in high)

    # fully committed: a third run is a no-op
    assert write_fingerprints(spark, fps, root, gen=0) == []

    back = read_fingerprints(spark, root)
    assert back.count() == fps.distinct().count()


def test_generations_accumulate_and_listing_is_fresh(
    spark, fps, tmp_path_factory
):
    """The increment flow reads the store BEFORE and AFTER an append
    in one session — the second read must see the new generation even
    though the first read populated the session's file-listing cache
    (the FileStatusCache staleness the store guards against)."""
    root = str(tmp_path_factory.mktemp("fp_gens") / "store")
    write_fingerprints(spark, fps, root, gen=0)
    n0 = read_fingerprints(spark, root).count()  # populates the cache
    import pandas as pd

    extra = spark.createDataFrame(
        pd.DataFrame({"fp": ["0" * 32, "f" * 32]})
    )
    write_fingerprints(spark, extra, root, gen=1)
    back = read_fingerprints(spark, root)
    assert back.count() == n0 + 2
    gens = {r["gen"] for r in back.select("gen").distinct().collect()}
    assert gens == {0, 1}


def test_uncommitted_leftover_is_inert(spark, fps, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("fp_stray") / "store")
    write_fingerprints(spark, fps, root, gen=0)
    committed_n = read_fingerprints(spark, root).count()
    # a killed writer's stray file: right name/schema, NO manifest entry
    stray_dir = os.path.join(root, "gen=7", "b=0")
    os.makedirs(stray_dir)
    src = next(
        os.path.join(root, d, "b=0", "part.parquet")
        for d in os.listdir(root)
        if d.startswith("gen=0")
    )
    pq.write_table(pq.read_table(src), os.path.join(stray_dir, "part.parquet"))

    back = read_fingerprints(spark, root)
    assert back.count() == committed_n
    assert 7 not in {
        r["gen"] for r in back.select("gen").distinct().collect()
    }


def test_read_back_scans_committed_files_only(spark, fps, tmp_path_factory):
    """The read-back is one parquet scan of the files the manifest
    names: no join against the manifest and no text scan of it."""
    root = str(tmp_path_factory.mktemp("fp_plan") / "store")
    write_fingerprints(spark, fps, root, gen=0)
    back = read_fingerprints(spark, root)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan
    assert "Join" not in plan and "FileScan text" not in plan
    assert back.count() == fps.distinct().count()


def test_files_hold_sorted_distinct_fingerprints(
    spark, fps, tmp_path_factory
):
    root = str(tmp_path_factory.mktemp("fp_sorted") / "store")
    write_fingerprints(
        spark, fps.unionAll(fps), root, gen=0  # dups must collapse
    )
    t = pq.read_table(os.path.join(root, "gen=0", "b=0", "part.parquet"))
    vals = t.column("fp").to_pylist()
    assert vals == sorted(set(vals))
    assert all(v.startswith("0") for v in vals)


def test_read_without_manifest_refuses(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("fp_nomani") / "store")
    os.makedirs(root)
    with pytest.raises(FileNotFoundError):
        read_fingerprints(spark, root)


def test_posting_payload_keeps_its_own_bucket_column(
    spark, tmp_path_factory
):
    """The generalized payload path (signature store): a PAYLOAD
    column literally named `bucket` must round-trip untouched — the
    writer's internal file-bucket key may not clobber it (the round-14
    regression: the LSH bucket came back as the band nibble)."""
    import pandas as pd
    from pyspark.sql import functions as F

    rows = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "band": [0, 1, 1],
            "bucket": ["11_22", "33_44", "55_66"],
            "sig": ["a_b", "c_d", "e_f"],
        }
    )
    df = spark.createDataFrame(rows)
    root = str(tmp_path_factory.mktemp("fp_posting") / "store")
    acct = write_fingerprints(
        spark,
        df,
        root,
        gen=0,
        payload_cols=["doc_id", "band", "bucket", "sig"],
        bucket_col=F.col("band").cast("string"),
    )
    assert sorted(r["bucket"] for r in acct) == ["0", "1"]
    back = read_fingerprints(spark, root)
    got = {
        (r["doc_id"], r["band"], r["bucket"], r["sig"])
        for r in back.collect()
    }
    assert got == {
        (1, 0, "11_22", "a_b"),
        (2, 1, "33_44", "c_d"),
        (3, 1, "55_66", "e_f"),
    }
