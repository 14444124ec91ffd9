"""Python worker entry point for sessions built by ``session.get_spark``.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``), so that files
added with ``SparkContext.addPyFile`` become importable. On CPython 3.11
that makes every ``zipimport.zipimporter`` re-read the whole central
directory of its archive. A worker holds one zipimporter per imported
pyspark sub-package, and each re-read of ``pyspark.zip`` (~1,300
entries) costs about 10 ms, so short pandas-UDF tasks spent most of
their CPU time in ``zipimport._read_directory``. CPython 3.12 made the
invalidation lazy (gh-103200).

``get_spark`` names this module in ``spark.python.worker.module``;
``pyspark.daemon`` imports it once, before it forks workers, and only
accepts module names that begin with ``pyspark``. Its ``main`` installs
a zipimporter invalidation that stats the archive first: the directory
is re-read only when the archive's (mtime, size, inode) differ from the
stat taken before that archive's last read in this process. Everything
else ``importlib.invalidate_caches`` does is unchanged -- ``FileFinder``
caches are dropped, new ``sys.path`` entries get new importers, and a
changed archive is re-read -- so ``addPyFile`` and
``spark.files.overwrite`` behave as with the stock worker. A rewrite
that keeps an archive's inode, size and mtime (same filesystem clock
tick) is not seen, the same limit ``FileFinder`` has for directories.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.worker import main as _pyspark_main

_stock_invalidate = zipimport.zipimporter.invalidate_caches

# archive path -> (stat stamp taken before the read, the directory read)
_READS: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive changed since its last read."""
    stamp = _stamp(self.archive)
    last = _READS.get(self.archive)
    if stamp is not None and last is not None and last[0] == stamp:
        self._files = last[1]
        zipimport._zip_directory_cache[self.archive] = last[1]
        return
    _stock_invalidate(self)
    if stamp is not None:
        _READS[self.archive] = (stamp, self._files)


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process. Python
    3.12 and later invalidate lazily and are left alone."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches


def main(infile, outfile):
    install()
    return _pyspark_main(infile, outfile)


if __name__ == "__main__":
    # spark.python.use.daemon=false starts each worker as
    # ``python -m <worker module>``; connect back as pyspark.worker does
    from pyspark.serializers import write_int
    from pyspark.util import local_connect_and_auth

    conn_info = os.environ.get(
        "PYTHON_WORKER_FACTORY_SOCK_PATH",
        int(os.environ.get("PYTHON_WORKER_FACTORY_PORT", -1)),
    )
    sock_file, _ = local_connect_and_auth(
        conn_info, os.environ.get("PYTHON_WORKER_FACTORY_SECRET")
    )
    write_int(os.getpid(), sock_file)
    sock_file.flush()
    try:
        main(sock_file, sock_file)
    finally:
        sock_file.close()
