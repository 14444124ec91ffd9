"""Spark compiles each whole-stage-codegen class with Janino and keeps
it in a per-JVM LRU cache (``spark.sql.codegen.cache.maxEntries``).
``get_spark`` sizes that cache to the engine's working set
(``session.CODEGEN_CACHE_ENTRIES``), so a repeated dataset-build pass
compiles no class again. At Spark's default of 100 entries every pass
over these five queries recompiled ~140 classes."""

from __future__ import annotations

from hortacloud_importer_spark.registry import all_queries
from hortacloud_importer_spark.session import CODEGEN_CACHE_ENTRIES

DATASET_BUILD = ("dedup_exact", "dedup_minhash", "q_dataset_build", "text_quality", "sim_ann")


def test_get_spark_sizes_the_codegen_cache(spark):
    want = str(CODEGEN_CACHE_ENTRIES)
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == want
    # a SparkConf entry: executors and every later session of this JVM
    assert spark.sparkContext.getConf().get("spark.sql.codegen.cache.maxEntries") == want


def test_repeated_dataset_build_pass_compiles_nothing(spark, sf_dir):
    specs = all_queries()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def compiled_in_one_pass() -> int:
        n = compiles.getCount()
        for q in DATASET_BUILD:
            specs[q].fn(spark, sf_dir).collect()
        return compiles.getCount() - n

    compiled_in_one_pass()
    assert compiled_in_one_pass() == 0
