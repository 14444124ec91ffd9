"""Sharded commit manifest for the block / KTX file stores.

The reference marks committed work with accumulating sentinel files
(tiff2octree.py:1328-1355); rounds 2-4 of this engine folded that into
a single merged ``_MANIFEST.json``, rewritten in full on every commit.
That rewrite is O(store) per commit and the resume path materialized
the whole committed set on the driver — fine at 1e5 blocks, a
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
    ``committed_files_df().distinct()`` does.

Committed set = union of every shard, plus a legacy ``_MANIFEST.json``
if the store predates sharding. It is read in one of two forms:

- :func:`committed_files`, a driver-side set. The octree block store
  and the KTX store use it (sources/block_store.py::block_files, the
  KTX resume): their driver already lists every block file and
  collects every written name to commit it, so the set costs no more
  driver memory than that, and no Spark job.
- :func:`committed_files_df`, ``spark.read.text`` over the shard
  directory, splittable and distributed. The build's resume cogroups
  it with the subtree kernel, and the shard and fingerprint stores
  semi-join their scans with it (:func:`committed_only`) or read
  their resume ids from it (:func:`committed_ids`).

Every file sink in the engine commits through this module in four
steps: write each data file with :func:`staged_output`, append one
shard with :func:`write_commit`, resume from the committed set (or
:func:`committed_ids` when files are named by a resume id), and read
back only committed files.
"""

from __future__ import annotations

import json
import re
import uuid
from contextlib import contextmanager

SHARD_DIR = "_manifest"
LEGACY = "_MANIFEST.json"


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


def has_manifest(filesystem, base: str) -> bool:
    if any(
        i.base_name.endswith(".files.txt") for i in _shard_infos(filesystem, base)
    ):
        return True
    return _legacy_manifest(filesystem, base) is not None


def committed_files(filesystem, base: str) -> set[str]:
    """The committed set on the driver (see the module docstring for
    which stores read it this way)."""
    out: set[str] = set()
    for info in _shard_infos(filesystem, base):
        if not info.base_name.endswith(".files.txt"):
            continue
        with filesystem.open_input_stream(info.path) as fh:
            out.update(line for line in fh.read().decode().splitlines() if line)
    legacy = _legacy_manifest(filesystem, base)
    if legacy:
        out.update(legacy.get("files", []))
    return out


def run_totals(filesystem, base: str) -> dict:
    """Sum of per-run shard summaries (+ legacy counters). n_skipped is
    a sum of PER-RUN counts (see module docstring); n_files may count
    a rewritten file once per commit — use committed_files_df for the
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


def committed_files_df(spark, root: str):
    """The committed set as a DataFrame (column ``rel``), or None when
    the store has no manifest at all.

    Shards load via ``spark.read.text`` — line-splittable, so a
    ~1e7-path manifest parses across executors and feeds a resume
    anti-join without ever materializing driver-side. The legacy
    single-JSON form (pre-shard stores only) is parsed driver-side:
    Spark's hidden-file filter drops ``_``-prefixed files from scans,
    and any legacy store was already bounded by the old whole-file
    rewrite, so its set is small by construction."""
    from pyspark.sql import functions as F

    from hortacloud_importer_spark.sources.datasource import _pa_fs

    filesystem, base = _pa_fs(root)
    has_shards = any(
        i.base_name.endswith(".files.txt") for i in _shard_infos(filesystem, base)
    )
    legacy = _legacy_manifest(filesystem, base)
    frames = []
    if has_shards:
        frames.append(
            # directory + pathGlobFilter, NOT a glob path: Spark stats
            # the un-globbed literal while probing for a streaming-sink
            # metadata dir and warn-logs a FileNotFoundException stack
            # trace on every read of a glob that names no real file
            spark.read.option("pathGlobFilter", "*.files.txt")
            .text(f"{root.rstrip('/')}/{SHARD_DIR}")
            .filter(F.length("value") > 0)
            .select(F.col("value").alias("rel"))
        )
    if legacy is not None and legacy.get("files"):
        frames.append(
            spark.createDataFrame(
                [(f,) for f in legacy["files"]], "rel string"
            )
        )
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def committed_ids(spark, root: str, pattern: str) -> set[str]:
    """Resume ids of a store whose files are named by id: the distinct
    first group of ``pattern`` over the committed relative paths
    (empty for a fresh store). A data file no shard names is an
    uncommitted leftover, so it never counts as done."""
    from pyspark.sql import functions as F

    committed = committed_files_df(spark, root)
    if committed is None:
        return set()
    ids = (
        committed.select(F.regexp_extract("rel", pattern, 1).alias("id"))
        .filter(F.col("id") != "")
        .distinct()
        .collect()
    )
    return {r["id"] for r in ids}


def committed_only(df, committed, root: str, path):
    """Rows of ``df`` whose file — ``path``, a Column holding the full
    path or URI of a file under ``root`` — is in ``committed`` (the
    :func:`committed_files_df` of ``root``): a semi-join on the
    root-relative path, so a killed writer's leftover is never read as
    data. No broadcast hint: the committed side can be ~1e7 paths, and
    AQE broadcasts it when it is small."""
    return (
        df.withColumn("rel", relative_path(path, root))
        .join(committed, "rel", "left_semi")
        .drop("rel")
    )


def relative_path(path, root: str):
    """The part of ``path`` — a Column holding the full path or URI of
    a file under ``root``, as Spark's scans report it — after
    ``root``: the scheme-independent name the manifest commits.
    ``root`` may be a bare path or a URI (``file:///x`` is listed as
    ``file:/x``, ``s3://b/x`` as ``s3a://b/x``), so it is matched
    without its scheme and query."""
    from pyspark.sql import functions as F

    bare = re.sub(r"^[A-Za-z][\w+.-]*://+", "/", root.partition("?")[0])
    return F.element_at(F.split(path, re.escape(f"{bare.rstrip('/')}/")), -1)
