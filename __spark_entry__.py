"""Driver contract for the spark-graft builder (PySpark target).

Thin view over hortacloud_importer_spark.registry: every operator in
SURVEY.md §2 registers a named query (and, when SQL-expressible, a
DuckDB oracle) there; this module just re-exports them in the
driver's shape.
"""

from __future__ import annotations

import functools
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _ROOT)

from hortacloud_importer_spark.registry import driver_queries  # noqa: E402


def _on_workers(spark: SparkSession) -> SparkSession:
    """Put the repo root on the Python workers' path: a plain session
    started from another directory gives its workers neither this
    module's ``sys.path`` entry nor a cwd that holds the package, and a
    query's Python kernel would fail to import it. Each Python function
    wrapped after this takes ``SparkContext.environment`` to the
    workers that run it."""
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([*paths, _ROOT])
    return spark


def _query(fn: Callable[[SparkSession, str], DataFrame]):
    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(_on_workers(spark), sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: fused channel-statistics query (SURVEY.md §7.1) at sf0.001."""
    from hortacloud_importer_spark.queries.flagship import channel_stats

    return channel_stats(_on_workers(spark), "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Consolidated driver-facing set (≤ 50 entries, scalar-only output
    # columns, every SURVEY §2 row covered). The wider local registry
    # (redundant variants, bench-only probes) stays pytest-verified via
    # hortacloud_importer_spark.registry.all_queries().
    return {name: _query(spec.fn) for name, spec in driver_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in driver_queries().items()
        if spec.oracle is not None
    }
