"""A3: hierarchical source discovery over c{i}/s{j} layouts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hortacloud_importer_spark.sources.hierarchy import (
    discover_hierarchy,
    read_level,
)
from hortacloud_importer_spark.volume import synthetic_volume


@pytest.fixture(scope="module")
def n5_like_store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("n5"))
    for ch in range(2):
        v = synthetic_volume(spark, 4, 4, 4, channels=1, seed=ch)
        for s, dim in ((0, 4), (1, 2)):
            lv = v.filter((F.col("z") < dim) & (F.col("y") < dim) & (F.col("x") < dim))
            lv.drop("channel").write.parquet(f"{root}/c{ch}/s{s}")
    return root


def test_discover_channels_and_scales(spark, n5_like_store):
    assert discover_hierarchy(n5_like_store) == {0: [0, 1], 1: [0, 1]}


def test_discover_flat_layout(spark, tmp_path):
    root = str(tmp_path / "flat")
    v = synthetic_volume(spark, 2, 2, 2)
    v.drop("channel").write.parquet(f"{root}/s0")
    assert discover_hierarchy(root) == {0: [0]}
    df = read_level(spark, root, 0)
    assert df.count() == 8
    assert df.select("channel").distinct().collect()[0][0] == 0


def test_read_level_unions_channels(spark, n5_like_store):
    lvl0 = read_level(spark, n5_like_store, 0)
    assert lvl0.count() == 2 * 64
    assert {r["channel"] for r in lvl0.select("channel").distinct().collect()} == {0, 1}
    lvl1 = read_level(spark, n5_like_store, 1)
    assert lvl1.count() == 2 * 8


def test_missing_paths_raise(spark, n5_like_store, tmp_path):
    assert discover_hierarchy(str(tmp_path / "nope")) == {}
    with pytest.raises(FileNotFoundError):
        read_level(spark, str(tmp_path / "nope"), 0)
    with pytest.raises(FileNotFoundError):
        read_level(spark, n5_like_store, 9)
