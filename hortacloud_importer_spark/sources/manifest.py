"""Sharded commit manifest for the block / KTX file stores.

The reference marks committed work with accumulating sentinel files
(tiff2octree.py:1328-1355); rounds 2-4 of this engine folded that into
a single merged ``_MANIFEST.json``, rewritten in full on every commit.
That rewrite is O(store) per commit — fine at 1e5 blocks, a
bottleneck at the ~1e7 blocks a 100 TB octree implies. This module is
the Delta-log pattern instead: every commit appends ONE immutable
shard pair under ``{root}/_manifest/`` and nothing is ever rewritten:

``commit-<id>.files.txt``
    one committed relative path per line. This file is the commit
    point — staged tmp+rename wherever rename is atomic (local, NFS,
    any non-object-store filesystem), single atomic PUT on s3/gcs
    where rename is copy+delete — so a reader either sees the whole
    commit or none of it.
``commit-<id>.json``
    ``{"n_files": N, "n_skipped": K}`` — per-RUN accounting, written
    after the commit point (purely informational; a crash in between
    loses a summary, never a commit). ``n_skipped`` is per run BY
    DESIGN: a resumed build re-encounters and re-skips the same
    all-zero blocks, so summing shards counts such a block once per
    run — callers wanting lifetime totals must dedupe on files, which
    the committed set does.

Committed set = union of every shard, plus a legacy ``_MANIFEST.json``
if the store predates sharding. :func:`committed_files` is its one
reader: one listing of the shard directory on the driver, no Spark
job. Every store's driver already collects each name it writes to
commit it, so the set costs no more driver memory than that:

- the octree block store lists its files against it
  (sources/block_store.py::block_files), and the KTX pass leaves out
  the blocks it names;
- the octree build parses it once per build and hands each pass the
  names that pass owns: as a column of the first pass's work rows
  over a slice directory, cogrouped with the subtree kernel in the
  other passes;
- the shard and fingerprint stores take their resume ids from it
  (:func:`committed_ids`) and read back exactly the files it names
  (:func:`read_committed`).

Every file sink in the engine commits through this module in four
steps: write each data file with :func:`staged_output`, append one
shard with :func:`write_commit`, resume from the committed set, and
read back only committed files. A store whose first write job may
fail after some of its tasks wrote files is opened first
(:func:`open_store`), so its leftovers are never read as a foreign
store's data.
"""

from __future__ import annotations

import json
import uuid
from contextlib import contextmanager

SHARD_DIR = "_manifest"
LEGACY = "_MANIFEST.json"
# an empty file in the shard directory: the store is this engine's,
# even before its first commit
OPENED = "opened"


def _shard_base(base: str) -> str:
    return f"{base.rstrip('/')}/{SHARD_DIR}"


def _is_object_store(filesystem) -> bool:
    """True only for stores where a single PUT is the atomic commit
    and move is copy+delete (NOT atomic): s3/gcs/azure. Everything
    else — local, NFS/fuse served through a non-local pyarrow
    filesystem, subtree/mock wrappers — gets stage+rename, because an
    open-write-close to the final name can expose a torn shard to a
    concurrent reader there."""
    try:
        name = filesystem.type_name
    except AttributeError:
        return False
    if name == "subtree":
        # unwrap: atomicity is the base filesystem's property
        base_fs = getattr(filesystem, "base_fs", None)
        return _is_object_store(base_fs) if base_fs is not None else False
    return name in ("s3", "gcs", "abfs", "azurefs")


@contextmanager
def staged_output(filesystem, path: str):
    """Open ``path`` for writing so no reader ever sees it partial:
    the stream goes to ``.{name}.tmp`` beside it and is renamed on a
    clean exit wherever rename is atomic; on object stores it is one
    PUT of the final name, which becomes visible only when the stream
    closes. The caller creates the parent directory. Names are
    idempotent, so a retried task overwrites its own file."""
    dir_, _, name = path.rpartition("/")
    staged = path if _is_object_store(filesystem) else f"{dir_}/.{name}.tmp"
    with filesystem.open_output_stream(staged) as fh:
        yield fh
    if staged != path:
        filesystem.move(staged, path)


def write_commit(filesystem, base: str, files: list[str], n_skipped: int = 0) -> str:
    """Append one commit shard; returns the shard id. Creates the
    shard directory (and ``base``) as needed.

    O(files-in-this-commit) — independent of store size.
    """
    sdir = _shard_base(base)
    filesystem.create_dir(sdir, recursive=True)
    shard_id = uuid.uuid4().hex
    with staged_output(filesystem, f"{sdir}/commit-{shard_id}.files.txt") as fh:
        fh.write("".join(f"{f}\n" for f in sorted(files)).encode())
    summary = {"n_files": len(files), "n_skipped": int(n_skipped)}
    with staged_output(filesystem, f"{sdir}/commit-{shard_id}.json") as fh:
        fh.write(json.dumps(summary).encode())
    return shard_id


def open_store(filesystem, base: str) -> None:
    """Mark ``base`` as a store this engine writes, before its first
    write job: a failed first job then leaves a store with nothing
    committed (:func:`committed_files` is empty, not None), and every
    reader skips the files its tasks left. The marker is no commit
    shard, so it adds nothing to the committed set or the summaries."""
    sdir = _shard_base(base)
    filesystem.create_dir(sdir, recursive=True)
    with staged_output(filesystem, f"{sdir}/{OPENED}"):
        pass


def _shard_infos(filesystem, base: str):
    """The shard directory's files; none when it does not exist. Any
    other listing error (a ``_manifest`` that is not a directory, a
    permission or transient store error) surfaces: read as "nothing
    committed", it would make a resume silently rewrite the store."""
    from pyarrow import fs as pafs

    infos = filesystem.get_file_info(
        pafs.FileSelector(_shard_base(base), recursive=False, allow_not_found=True)
    )
    return [i for i in infos if i.type == pafs.FileType.File]


def summary_files(filesystem, base: str) -> list[str]:
    """Paths of the per-commit summary JSONs (for before/after diffs:
    one commit adds exactly one, so per-level accounting is O(1))."""
    return sorted(
        i.path
        for i in _shard_infos(filesystem, base)
        if i.base_name.startswith("commit-") and i.base_name.endswith(".json")
    )


def read_summary(filesystem, path: str) -> dict:
    with filesystem.open_input_stream(path) as fh:
        return json.loads(fh.read())


def _legacy_manifest(filesystem, base: str) -> dict | None:
    try:
        with filesystem.open_input_stream(f"{base}/{LEGACY}") as fh:
            return json.loads(fh.read())
    except (FileNotFoundError, OSError):
        return None


def committed_files(filesystem, base: str) -> set[str] | None:
    """The committed set, or None when the store has no manifest at
    all (a fresh store, or a foreign one such as the reference's own
    output; an opened store has one, see :func:`open_store`): one
    listing of the shard directory, on the driver."""
    infos = _shard_infos(filesystem, base)
    shards = [i.path for i in infos if i.base_name.endswith(".files.txt")]
    legacy = _legacy_manifest(filesystem, base)
    if not shards and legacy is None:
        return set() if any(i.base_name == OPENED for i in infos) else None
    out = set(legacy.get("files", [])) if legacy else set()
    for path in shards:
        with filesystem.open_input_stream(path) as fh:
            out.update(line for line in fh.read().decode().splitlines() if line)
    return out


def committed_ids(filesystem, base: str, pattern) -> set[str]:
    """Resume ids of a store whose files are named by id: the first
    group of ``pattern`` (a compiled regex) over every committed name
    it fully matches; empty for a fresh store. A data file no shard
    names is an uncommitted leftover, so it never counts as done."""
    matches = map(pattern.fullmatch, committed_files(filesystem, base) or ())
    return {m.group(1) for m in matches if m}


def read_committed(spark, root: str, store: str):
    """A parquet store's committed files as one DataFrame: a scan of
    exactly the paths the manifest names, its ``key=value``
    directories discovered as partition columns under ``root``
    (``basePath``). A killed writer's leftover is never listed, so it
    is never read as data. Raises FileNotFoundError when ``root`` has
    no manifest: read as empty, an uncommitted store would pass every
    increment as new."""
    from hortacloud_importer_spark.sources.datasource import _pa_fs

    root = str(root).rstrip("/")
    committed = committed_files(*_pa_fs(root))
    if committed is None:
        raise FileNotFoundError(
            f"no manifest under {root}: refusing to read an "
            f"uncommitted {store} as data"
        )
    return spark.read.option("basePath", root).parquet(
        *(f"{root}/{rel}" for rel in sorted(committed))
    )


def run_totals(filesystem, base: str) -> dict:
    """Sum of per-run shard summaries (+ legacy counters). n_skipped is
    a sum of PER-RUN counts (see module docstring); n_files may count
    a rewritten file once per commit — use committed_files for the
    distinct set."""
    n_files = 0
    n_skipped = 0
    for p in summary_files(filesystem, base):
        s = read_summary(filesystem, p)
        n_files += int(s.get("n_files", 0))
        n_skipped += int(s.get("n_skipped", 0))
    legacy = _legacy_manifest(filesystem, base)
    if legacy:
        n_files += len(legacy.get("files", []))
        n_skipped += int(legacy.get("n_skipped", 0))
    return {"n_files": n_files, "n_skipped": n_skipped}
