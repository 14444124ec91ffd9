"""Where an octree import's CPU goes, process by process.

Runs one octree import shaped like the benchmark's ``octree_import``
operation (16 x 256 x 256 uint16 slices, ``build_octree`` arthur over
3 levels, then ``tiff_octree_to_ktx`` with 3 mips and
``downsample_intensity``) on a ``get_spark`` session, after one
untimed warm-up import. ``/proc`` is read once before and once after
the measured import (a polling thread would bill its own CPU to the
driver), and the process tree's user + system CPU is split into:

- ``driver``: this Python process;
- ``jvm``: the Spark JVM;
- ``pyspark_graft_worker``: the engine's Python UDF worker daemons
  and their forked workers;
- ``pyspark.sql.worker.<name>``: the Python processes the JVM starts
  on its own (DataSource read/write planning and commit, UDTF
  analysis), one row per module.

A group sums every daemon of the same module (two worker daemons can
run at once) and counts the children a process has already reaped
(cutime + cstime), so the groups add up to the same tree total the
benchmark's ``op_cpu_s`` measures.

Usage: ``python tools/cpu_split.py [--seed N] [--reps R]`` — prints
one markdown table with the median over R measured imports.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DIMS = (16, 256, 256)
NLEVELS = 3
MIPS = 3


def read_tree(root_pid: int, proc: str = "/proc") -> dict:
    """{(pid, starttime): (ppid, argv, self_ticks, reaped_ticks)} for
    ``root_pid`` and all its descendants. Processes that vanish while
    the table is read are left out."""
    procs = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat") as fh:
                stat = fh.read()
            with open(f"{proc}/{name}/cmdline", "rb") as fh:
                argv = [a.decode() for a in fh.read().split(b"\0") if a]
        except OSError:
            continue
        # fields after "(comm)": state ppid ... utime(14) stime cutime
        # cstime ... starttime(22), numbered from 1 as in proc(5)
        f = stat.rsplit(")", 1)[1].split()
        procs[int(name)] = (
            int(f[1]), argv, int(f[11]) + int(f[12]), int(f[13]) + int(f[14]),
            int(f[19]),
        )
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        if pid not in procs:
            continue
        ppid, argv, own, reaped, start = procs[pid]
        out[(pid, start)] = (ppid, argv, own, reaped)
        todo.extend(children.get(pid, []))
    return out


def group_of(pid: int, argv: list[str], driver_pid: int) -> str:
    """The CPU group of one process, from its command line."""
    if pid == driver_pid:
        return "driver"
    if "pyspark.daemon" in argv:
        i = argv.index("pyspark.daemon")
        # the daemon's worker module; a bare daemon runs pyspark.worker
        return argv[i + 1] if i + 1 < len(argv) else "pyspark.worker"
    if "-m" in argv and argv.index("-m") + 1 < len(argv):
        return argv[argv.index("-m") + 1]  # a non-daemon worker
    if argv and os.path.basename(argv[0]) == "java":
        return "jvm"
    return "other"


def split(before: dict, after: dict, driver_pid: int, hz: float) -> dict:
    """CPU seconds per group between two :func:`read_tree` tables: each
    process's own plus reaped ticks, less what it had at ``before``
    (zero for a process started in between)."""
    out: dict[str, float] = {}
    for key, (_ppid, argv, own, reaped) in after.items():
        prev = before.get(key)
        ticks = own + reaped - (prev[2] + prev[3] if prev else 0)
        g = group_of(key[0], argv, driver_pid)
        out[g] = out.get(g, 0.0) + ticks / hz
    return out


def table(splits: list[dict]) -> str:
    """Markdown table of the per-group medians over ``splits``."""
    groups = sorted(
        {g for s in splits for g in s},
        key=lambda g: -statistics.median(s.get(g, 0.0) for s in splits),
    )
    med = {g: statistics.median(s.get(g, 0.0) for s in splits) for g in groups}
    total = statistics.median(sum(s.values()) for s in splits)
    lines = ["| process group | CPU s | share |", "|---|---|---|"]
    for g in groups:
        lines.append(f"| `{g}` | {med[g]:.2f} | {med[g] / total:.0%} |")
    lines.append(f"| total | {total:.2f} | |")
    return "\n".join(lines)


def _volume(seed: int):
    """uint16 volume: ~30% zero voxels and one empty octant."""
    import numpy as np

    rng = np.random.default_rng(seed)
    vol = rng.integers(1, 4096, size=DIMS, dtype=np.uint16)
    vol[rng.random(DIMS) < 0.3] = 0
    vol[: DIMS[0] // 2, : DIMS[1] // 2, : DIMS[2] // 2] = 0
    return vol


def _import(spark, slices: str, out: str) -> None:
    from hortacloud_importer_spark.pipelines import (
        build_octree,
        tiff_octree_to_ktx,
    )

    shutil.rmtree(out, ignore_errors=True)
    build_octree(spark, slices, f"{out}/octree", NLEVELS, "arthur").collect()
    block = tuple(d >> (NLEVELS - 1) for d in DIMS)
    tiff_octree_to_ktx(
        spark, f"{out}/octree", f"{out}/ktx", block, MIPS,
        downsample_intensity=True,
    ).collect()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reps", type=int, default=1)
    args = ap.parse_args()

    from hortacloud_importer_spark.session import get_spark
    from hortacloud_importer_spark.sources.tiff import encode_tiff

    work = tempfile.mkdtemp(prefix="cpu_split_")
    try:
        slices = f"{work}/slices"
        os.makedirs(slices)
        for z, page in enumerate(_volume(args.seed)):
            with open(f"{slices}/default.0.{z:03d}.tif", "wb") as fh:
                fh.write(encode_tiff(page[None, ...]))
        spark = get_spark("cpu_split")
        _import(spark, slices, f"{work}/warm")  # cold paths, untimed
        me, hz = os.getpid(), os.sysconf("SC_CLK_TCK")
        splits = []
        for rep in range(args.reps):
            before = read_tree(me)
            _import(spark, slices, f"{work}/run{rep}")
            splits.append(split(before, read_tree(me), me, hz))
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(table(splits))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
