"""The Python worker module of get_spark sessions (pyspark_graft_worker).

pyspark's worker invalidates import caches before every task; on
CPython 3.11 that re-read the directory of pyspark.zip once per
zipimporter per task. The worker module re-reads an archive only when
its file changed, and leaves every other invalidation in place.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pytest

import pyspark_graft_worker as worker
from hortacloud_importer_spark import session

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths read by zipimport from here on, with the worker
    module's read record and the stock invalidation restored after."""
    seen: list[str] = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        seen.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(worker, "_READS", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker._stock_invalidate
    )
    return seen


def test_invalidate_rereads_an_archive_only_when_it_changed(tmp_path, reads):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"a.py": "X = 1\n", "b.py": "Y = 2\n"})
    first = zipimport.zipimporter(path)
    second = zipimport.zipimporter(path)
    reads.clear()

    # no stamp recorded yet: the first invalidation reads
    worker.invalidate_caches(first)
    assert reads == [path]
    # unchanged: neither importer re-reads, and both share one directory
    worker.invalidate_caches(first)
    worker.invalidate_caches(second)
    assert reads == [path]
    assert second._files is first._files
    assert zipimport._zip_directory_cache[path] is first._files

    # rewritten in place with a different size
    _write_zip(path, {"a.py": "X = 1\n", "b.py": "Y = 2\n", "c.py": "Z = 3\n"})
    worker.invalidate_caches(second)
    assert reads == [path, path]
    assert "c.py" in second._files
    worker.invalidate_caches(first)
    assert reads == [path, path]
    assert first._files is second._files

    # rewritten in place with the same size: only the mtime tells
    crc = first._files["b.py"][7]
    _write_zip(path, {"a.py": "X = 1\n", "b.py": "Y = 9\n", "c.py": "Z = 3\n"})
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    worker.invalidate_caches(first)
    assert reads == [path, path, path]
    assert first._files["b.py"][7] != crc


def test_installed_invalidation_keeps_changed_archives_importable(
    tmp_path, reads, monkeypatch
):
    """Through importlib.invalidate_caches, as pyspark's worker calls it."""
    tag = uuid.uuid4().hex[:8]
    old, new = f"graft_zip_old_{tag}", f"graft_zip_new_{tag}"
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {f"{old}.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(path)
    try:
        worker.install()
        assert importlib.import_module(old).VALUE == 1
        importlib.invalidate_caches()
        reads.clear()
        importlib.invalidate_caches()
        assert path not in reads

        _write_zip(path, {f"{old}.py": "VALUE = 1\n", f"{new}.py": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(path) == 1
        assert importlib.import_module(new).VALUE == 2
    finally:
        sys.modules.pop(old, None)
        sys.modules.pop(new, None)


def test_worker_conf_sets_the_module_only_when_importable(monkeypatch):
    conf = session.worker_conf()
    assert conf["spark.python.worker.module"] == session.WORKER_MODULE
    assert conf["spark.executorEnv.PYTHONPATH"] == _REPO

    monkeypatch.setattr(session, "WORKER_MODULE", "pyspark_graft_no_such_worker")
    conf = session.worker_conf()
    assert "spark.python.worker.module" not in conf
    assert conf["spark.executorEnv.PYTHONPATH"] == _REPO


_NO_DAEMON = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from hortacloud_importer_spark.session import worker_conf
spark = (SparkSession.builder.appName("no-daemon").master("local[1]")
    .config("spark.python.use.daemon", "false")
    .config("spark.ui.enabled", "false")
    .config(map=worker_conf())
    .getOrCreate())
# the worker runs the module as __main__: name the file the code is from
print("INVALIDATE " + spark.sparkContext.parallelize([0], 1).map(
    lambda _: __import__("zipimport").zipimporter.invalidate_caches.__code__.co_filename
).first())
spark.stop()
"""


def test_worker_module_runs_without_the_daemon(tmp_path):
    """spark.python.use.daemon=false starts each worker as
    ``python -m <worker module>``; run from a directory that is not the
    repository, so only the conf lets the workers find the module."""
    proc = subprocess.run(
        [sys.executable, "-c", _NO_DAEMON.format(repo=_REPO)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert f"INVALIDATE {worker.__file__}" in proc.stdout, proc.stdout


def test_reused_worker_keeps_the_pyspark_zip_directory(spark, tmp_path):
    def probe(batches):
        import os
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        key = next(
            k for k in zipimport._zip_directory_cache
            if os.path.basename(k) == "pyspark.zip"
        )
        yield pd.DataFrame(
            {"pid": [os.getpid()], "dir_id": [id(zipimport._zip_directory_cache[key])]}
        )

    # back-to-back single-task jobs until one worker process serves two;
    # the daemon hands out idle workers first in, first out, so this
    # takes one more job than there are idle workers (a dozen after
    # the registry oracle tests on 4 cores)
    seen: dict[int, list[int]] = {}
    for _ in range(64):
        row = (
            spark.range(1, numPartitions=1)
            .mapInPandas(probe, "pid long, dir_id long")
            .collect()[0]
        )
        seen.setdefault(row.pid, []).append(row.dir_id)
        if len(seen[row.pid]) == 2:
            break
    reused = {pid: ids for pid, ids in seen.items() if len(ids) > 1}
    assert reused, f"no Python worker was reused: {seen}"
    for ids in reused.values():
        assert len(set(ids)) == 1, seen

    # a file added after those tasks is still found by the next task
    name = f"graft_pyfile_{uuid.uuid4().hex[:8]}"
    path = str(tmp_path / f"{name}.zip")
    _write_zip(path, {f"{name}.py": "VALUE = 42\n"})
    spark.sparkContext.addPyFile(path)

    def use_pyfile(batches):
        import importlib

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"v": [importlib.import_module(name).VALUE]})

    got = (
        spark.range(1, numPartitions=1)
        .mapInPandas(use_pyfile, "v long")
        .collect()
    )
    assert [r.v for r in got] == [42]


_PLAIN_SESSION = """
import importlib.util
from pyspark.sql import SparkSession
spec = importlib.util.spec_from_file_location(
    "spark_entry", {entry!r}
)
entry = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entry)
spark = (SparkSession.builder.appName("plain").master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate())
for name in ("sim_ann", "vol_kernel_box"):
    print(name, len(entry.queries()[name](spark, {sf_dir!r}).collect()))
spark.stop()
"""


def test_driver_contract_runs_python_kernels_from_any_directory(
    tmp_path, sf_dir
):
    """A plain session (no engine conf) in a directory that is not the
    repository, with PYTHONPATH unset, and ``__spark_entry__.py``
    imported by path: the queries whose Python kernels import the
    package still run, because the driver contract puts the repo root
    on the workers' path."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    script = _PLAIN_SESSION.format(
        entry=os.path.join(_REPO, "__spark_entry__.py"), sf_dir=sf_dir
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    counts = dict(line.split() for line in proc.stdout.splitlines())
    assert set(counts) == {"sim_ann", "vol_kernel_box"}, proc.stdout
    assert all(int(n) > 0 for n in counts.values()), proc.stdout
