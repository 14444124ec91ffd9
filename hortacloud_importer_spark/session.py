"""SparkSession factory for local testing and benchmarking.

The production deployment would submit against a real cluster; the
settings here mirror what we'd set cluster-side: AQE on (runtime
re-planning, skew-join handling, partition coalescing), Arrow on
(vectorized pandas UDF transfer), and shuffle partitions sized to the
available parallelism rather than the 200 default.
"""

from __future__ import annotations

import importlib.util
import os

from pyspark.sql import SparkSession

# The Python worker module of get_spark sessions (pyspark_graft_worker.py
# at the repository root): it stops every task from re-reading the
# directory of pyspark.zip. pyspark.daemon only accepts names that begin
# with "pyspark".
WORKER_MODULE = "pyspark_graft_worker"

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def worker_conf() -> dict[str, str]:
    """Spark conf for Python workers that share the driver's files: they import the
    engine from this checkout whatever the driver's working directory,
    and start from WORKER_MODULE when the driver can import it (a
    worker module that fails to import would stop the daemon, and with
    it every Python task)."""
    paths = [_REPO]
    conf = {}
    spec = importlib.util.find_spec(WORKER_MODULE)
    if spec is not None and spec.origin is not None:
        paths.append(os.path.dirname(os.path.abspath(spec.origin)))
        conf["spark.python.worker.module"] = WORKER_MODULE
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    return conf


# Classes Spark's whole-stage codegen keeps compiled per JVM
# (spark.sql.codegen.cache.maxEntries, default 100). The cache is an
# LRU keyed by the generated source, which is the same for the same
# query shape, so a repeated query compiles nothing while its classes
# fit. They did not: one dataset-build pass (five registry queries and
# the shard store) uses ~170 classes, so the default cache missed on
# every class of every pass and each pass paid Janino again. Sized to
# the working set of a whole registry pass with headroom: at sf0.001
# the 50 driver queries compile 680 distinct classes and all registry
# queries ~1,710.
CODEGEN_CACHE_ENTRIES = 2000


def spark_builder(app_name: str = "hortacloud-importer-spark") -> SparkSession.Builder:
    """The engine's configured session builder: AQE, Arrow, sized
    shuffle partitions and a codegen cache that holds the engine's
    working set. ``get_spark`` is this plus ``getOrCreate()``; tools
    add their own extras (UI port, timeouts) before building.

    ``spark.sql.codegen.cache.maxEntries`` is a static SQL conf that
    ``CodeGenerator`` reads once per JVM, at the first generated
    class: it takes effect only when set here, on the builder, before
    the JVM's first query runs (not through ``spark.conf.set``, nor on
    a session that reuses a JVM whose cache already exists). Executor
    JVMs read it from their tasks' SQL conf, so local-cluster executors
    get it too.

    On local and local-cluster masters the Python workers start from
    WORKER_MODULE (see worker_conf), which skips pyspark.zip's
    per-task directory re-read. Other masters, sessions built directly
    with ``SparkSession.builder``, and the Python planners the JVM
    starts on its own (``pyspark.sql.worker.*``, e.g. Python data
    source planning) keep stock pyspark workers.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # SPARK_GRAFT_MASTER points the whole harness (oracle checks,
    # bench, CLI) at any master — e.g. local-cluster[2,8,4096] for
    # real-executor runs, or spark://... for a standalone cluster.
    # Non-local masters need the package on executors
    # (worker_conf below covers local-cluster; real clusters ship it
    # via --py-files / pip).
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # default false: AQE refuses to re-plan the output partitioning
        # of a persisted plan, so every stage that reads or writes a
        # cached level (the octree/pyramid per-level persists) keeps the
        # full spark.sql.shuffle.partitions task count even when the
        # level holds 8 blocks. Enabling it lets AQE coalesce those
        # stages by actual bytes — scale-adaptive, not a local tune:
        # measured 6.9->3.5 s on vol_octree_build, 2.2->1.4 s on
        # vol_pyramid_throughput at sf0.1 (OPTIMIZATION_r14.md).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource readers (sources/datasource.py) prune chunk
        # partitions from pushed z/y/x range filters
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            cpus if cpus != "*" else str(os.cpu_count() or 8),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if master.startswith("local"):
        builder = builder.config(map=worker_conf())
    if master.startswith("local-cluster"):
        builder = builder.config(
            "spark.executor.memory", os.environ.get("SPARK_GRAFT_EXEC_MEM", "2g")
        )
    return builder


def get_spark(app_name: str = "hortacloud-importer-spark") -> SparkSession:
    """The engine's session: :func:`spark_builder`'s, built, with the
    volume formats (``tiff_volume``, ``n5_volume``, ``zarr_volume``)
    registered, so it reads and streams them by name. The first
    registration in a JVM runs Spark's lookup of installed Python data
    sources (one short-lived Python process)."""
    from hortacloud_importer_spark.sources.datasource import (
        register_volume_sources,
    )

    spark = spark_builder(app_name).getOrCreate()
    register_volume_sources(spark)
    return spark
