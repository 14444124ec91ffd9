"""Multi-executor execution proof (SURVEY.md §4: "design for
multi-executor via partitioning").

Everything else in the suite runs single-JVM ``local[N]``, which can
hide cluster-only failure modes: un-serializable task closures,
driver-state leaking into kernels, broadcasts that silently became
driver references, Python workers missing module state. Spark's
``local-cluster[2,4,2048]`` master launches REAL worker JVMs with
separate Python workers and a network shuffle — the closest a test
gets to a cluster without one. This runs the full fused build +
interleaved KTX conversion there (in a subprocess: a second master
cannot coexist with the session fixture's) and requires the store
and KTX bytes to match the single-JVM run EXACTLY.

Found-by-this-test (kept as documentation): executors do not inherit
the driver's sys.path — the package must ship via --py-files /
executorEnv.PYTHONPATH on a real cluster, which is what the
subprocess configures. The first subprocess also starts its executors'
Python workers from the engine's worker module, as get_spark does.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys

import pytest

from hortacloud_importer_spark.pipelines import build_octree, tiff_octree_to_ktx
from hortacloud_importer_spark.session import WORKER_MODULE
from hortacloud_importer_spark.volume import synthetic_volume

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DRIVER = """
import sys, json
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.appName("lc")
    .master("local-cluster[2,4,2048]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.sql.python.filterPushdown.enabled", "true")
    .config("spark.executor.memory", "2g")
    .config("spark.executorEnv.PYTHONPATH", {repo!r})
    .config("spark.python.worker.module", {worker_module!r})
    .config("spark.ui.enabled", "false")
    .getOrCreate())
# which zipimporter invalidation the executors' Python workers run
print("INVALIDATE " + spark.sparkContext.parallelize([0], 1).map(
    lambda _: __import__("zipimport").zipimporter.invalidate_caches.__module__
).first())
from hortacloud_importer_spark.pipelines import build_octree, tiff_octree_to_ktx
from hortacloud_importer_spark.volume import synthetic_volume
v = synthetic_volume(spark, 16, 16, 16, zero_fraction_mod=5)
build_octree(spark, v, {store!r}, nlevels=2, filter_="arthur",
             dims=(16, 16, 16)).collect()
res = tiff_octree_to_ktx(spark, {store!r}, {ktx!r}, block_dims=(8, 8, 8),
    n_mips=3, filter_="arthur", interleave=True,
    downsample_intensity=True).first()
print("RESULT " + json.dumps(dict(res.asDict())))
spark.stop()
"""


def _files(root: str, pattern: str) -> dict[str, bytes]:
    return {
        os.path.relpath(p, root): open(p, "rb").read()
        for p in glob.glob(f"{root}/**/{pattern}", recursive=True)
    }


def test_fused_pipelines_byte_identical_under_real_executors(
    spark, tmp_path
):
    # same basenames on both sides: specimen_id defaults to the store
    # dir name and is baked into every KTX header's KV payload
    (tmp_path / "lc").mkdir()
    (tmp_path / "l").mkdir()
    lc_store, lc_ktx = str(tmp_path / "lc" / "store"), str(tmp_path / "lc" / "ktx")
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            _DRIVER.format(
                repo=_REPO, store=lc_store, ktx=lc_ktx, worker_module=WORKER_MODULE
            ),
        ],
        capture_output=True,
        text=True,
        timeout=360,
        cwd=_REPO,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert '"n_files": 9' in proc.stdout, proc.stdout
    assert f"INVALIDATE {WORKER_MODULE}" in proc.stdout, proc.stdout

    local_store, local_ktx = str(tmp_path / "l" / "store"), str(tmp_path / "l" / "ktx")
    v = synthetic_volume(spark, 16, 16, 16, zero_fraction_mod=5)
    build_octree(
        spark, v, local_store, nlevels=2, filter_="arthur", dims=(16, 16, 16)
    ).collect()
    tiff_octree_to_ktx(
        spark, local_store, local_ktx, block_dims=(8, 8, 8), n_mips=3,
        filter_="arthur", interleave=True, downsample_intensity=True,
    ).count()

    for root_a, root_b, pat in (
        (lc_store, local_store, "*.tif"),
        (lc_ktx, local_ktx, "*.ktx"),
    ):
        a, b = _files(root_a, pat), _files(root_b, pat)
        assert sorted(a) == sorted(b), (pat, sorted(a), sorted(b))
        assert all(a[f] == b[f] for f in a), pat


_DRIVER2 = """
import sys, json, glob
import numpy as np
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.appName("lc2")
    .master("local-cluster[2,4,2048]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.sql.python.filterPushdown.enabled", "true")
    .config("spark.executor.memory", "2g")
    .config("spark.executorEnv.PYTHONPATH", {repo!r})
    .config("spark.ui.enabled", "false")
    .getOrCreate())
from hortacloud_importer_spark.pipelines import build_octree, crop_octree
from hortacloud_importer_spark.streaming.cascade import streaming_cascade

# slice-dir build: exercises the tiff_volume Python DataSource and the
# packed-tile ingest with executor-side decode
build_octree(spark, {slices!r}, {store!r}, nlevels=2, filter_="arthur").collect()
crop_octree(spark, {store!r}, {crop!r}, window=((2, 10), (1, 9), (3, 11)),
            depth=1, block_dims=(8, 8, 8)).collect()

# stateful streaming (applyInPandasWithState) with a real state store
# across executors
schema = ("zi int, yi int, xi int, channel int, z int,"
          " height int, width int, voxels array<long>")
stream = spark.readStream.schema(schema).parquet({stream_in!r})
q = (streaming_cascade(stream, (8, 4, 4), "arthur")
     .writeStream.format("parquet").option("path", {stream_out!r})
     .option("checkpointLocation", {ckpt!r})
     .trigger(availableNow=True).start())
assert q.awaitTermination(180), "stream did not drain"
print("RESULT ok")
spark.stop()
"""


def test_datasource_crop_and_streaming_under_real_executors(spark, tmp_path):
    """The executor-heaviest paths — the tiff_volume Python
    DataSource (partition planning driver-side, decode executor-side),
    the crop export, and the applyInPandasWithState cascade — must
    produce byte-identical output on real worker JVMs."""
    import numpy as np

    from hortacloud_importer_spark.pipelines import crop_octree
    from hortacloud_importer_spark.sources.tiff import encode_tiff

    from tests.test_volume import random_vol

    # shared inputs
    slices = tmp_path / "slices"
    slices.mkdir()
    rng = np.random.default_rng(7)
    for z in range(16):
        page = rng.integers(0, 1 << 16, size=(16, 16), dtype=np.uint16)
        page[rng.random(size=page.shape) < 0.3] = 0
        (slices / f"default.0.{z:05d}.tif").write_bytes(
            encode_tiff(page[None, ...])
        )
    vol = random_vol((8, 4, 4))
    stream_rows = [
        (0, 0, 0, 0, z, 4, 4, [int(v) for v in vol[z].ravel()])
        for z in range(8)
    ]
    schema = (
        "zi int, yi int, xi int, channel int, z int,"
        " height int, width int, voxels array<long>"
    )
    stream_in = str(tmp_path / "stream_in")
    spark.createDataFrame(stream_rows, schema).coalesce(1).write.parquet(
        stream_in
    )

    (tmp_path / "lc").mkdir()
    (tmp_path / "l").mkdir()
    lc = {k: str(tmp_path / "lc" / k) for k in ("store", "crop", "sout", "ckpt")}
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            _DRIVER2.format(
                repo=_REPO, slices=str(slices), store=lc["store"],
                crop=lc["crop"], stream_in=stream_in,
                stream_out=lc["sout"], ckpt=lc["ckpt"],
            ),
        ],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=_REPO,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "RESULT ok" in proc.stdout, proc.stdout

    # local duals
    from hortacloud_importer_spark.pipelines import build_octree
    from hortacloud_importer_spark.streaming.cascade import streaming_cascade

    l = {k: str(tmp_path / "l" / k) for k in ("store", "crop", "sout", "ckpt")}
    build_octree(spark, str(slices), l["store"], nlevels=2, filter_="arthur").collect()
    crop_octree(
        spark, l["store"], l["crop"], window=((2, 10), (1, 9), (3, 11)),
        depth=1, block_dims=(8, 8, 8),
    ).collect()
    stream = spark.readStream.schema(schema).parquet(stream_in)
    q = (
        streaming_cascade(stream, (8, 4, 4), "arthur")
        .writeStream.format("parquet")
        .option("path", l["sout"])
        .option("checkpointLocation", l["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    for key, pat in (("store", "*.tif"), ("crop", "*.tif")):
        a, b = _files(lc[key], pat), _files(l[key], pat)
        assert sorted(a) == sorted(b), (key, sorted(a), sorted(b))
        assert all(a[f] == b[f] for f in a), key
    # streaming results: same emitted pyramid (row-set equality)
    got_lc = {
        (r["level"], r["z"]): list(r["voxels"])
        for r in spark.read.parquet(lc["sout"]).collect()
    }
    got_l = {
        (r["level"], r["z"]): list(r["voxels"])
        for r in spark.read.parquet(l["sout"]).collect()
    }
    assert got_lc == got_l and got_lc


_DRIVER3 = """
import sys
sys.path.insert(0, {repo!r})
from hortacloud_importer_spark.session import get_spark
spark = get_spark("lc3")

def conf(batches):
    import pandas as pd
    from pyspark import TaskContext

    v = TaskContext.get().getLocalProperty("spark.sql.codegen.cache.maxEntries")
    for _ in batches:
        yield pd.DataFrame({{"v": [v]}})

print("EXECUTOR " + spark.range(1, numPartitions=1).mapInPandas(conf, "v string").first()["v"])
spark.stop()
"""


def test_codegen_cache_size_reaches_executors():
    """get_spark's codegen cache size is a static SQL conf that each
    executor JVM's code generator reads from its first SQL task: a
    local-cluster executor's tasks must see it."""
    from hortacloud_importer_spark.session import CODEGEN_CACHE_ENTRIES

    env = dict(
        os.environ,
        SPARK_GRAFT_MASTER="local-cluster[1,1,1024]",
        SPARK_GRAFT_EXEC_MEM="1g",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER3.format(repo=_REPO)],
        capture_output=True, text=True, timeout=300, cwd=_REPO, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert f"EXECUTOR {CODEGEN_CACHE_ENTRIES}" in proc.stdout, proc.stdout
