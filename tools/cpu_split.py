"""Where a benchmark operation's CPU goes, by process and by JVM thread.

Runs the benchmark's own operation (``perfbench/workloads.py``, inputs
generated from ``--seed``) on a ``get_spark`` session on local[4]:
``octree_import`` (slices to an octree and a KTX store) or
``dataset_build`` (five dataset-build registry queries and the shard
store). The workload's prime runs first: the session's first execution,
which the benchmark's ``setup_s`` counts and a one-shot CLI import
pays. ``/proc`` is read once before and once after the prime and each
measured operation (a polling thread would bill its own CPU to the
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

The ``jvm`` row is split again by thread name (``/proc/<jvm>/task``):

- ``jit``: the C1 and C2 compiler threads;
- ``gc``: the GC worker and G1 threads;
- ``task``: executor task threads;
- ``other``: every other live thread (query planning and stage
  submission, where Janino compiles on the driver, the scheduler,
  shuffle and Python-runner I/O);
- ``exited``: the JVM's own CPU less its live threads': threads that
  ended between the reads;
- ``reaped children``: processes the JVM started and reaped (Python
  daemons and planners that exited).

The session keeps idle compiler threads alive
(``-XX:-UseDynamicNumberOfCompilerThreads``), so JIT time does not
drop into ``exited``. Last come the classes Janino compiled
(``CodegenMetrics``) and the JVM's JIT compilation time
(``CompilationMXBean``) per operation.

Usage: ``python tools/cpu_split.py [--workload W] [--seed N] [--reps R]``
— prints the prime's two markdown tables, then the operation's two
tables and compile counts: the first measured operation (the one the
benchmark times, right after the prime) beside the median over R, and
each operation's CPU and JIT seconds in order (the JIT warm-up
curve).
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import os
import shutil
import statistics
import sys
import tempfile

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


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


def read_threads(pid: int, proc: str = "/proc") -> dict:
    """{(tid, starttime): (name, ticks)} for the live threads of
    ``pid``; ``name`` is the kernel's (first 15 bytes of the thread's
    name)."""
    out = {}
    task = f"{proc}/{pid}/task"
    for tid in os.listdir(task):
        try:
            with open(f"{task}/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        name = stat[stat.index("(") + 1 : stat.rindex(")")]
        f = stat.rsplit(")", 1)[1].split()
        out[(int(tid), int(f[19]))] = (name, int(f[11]) + int(f[12]))
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


def thread_group(name: str) -> str:
    """The CPU group of one JVM thread, from its kernel name."""
    if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
        return "jit"
    if name.startswith(("GC Thread", "G1 ")):
        return "gc"
    if name.startswith("Executor task"):
        return "task"
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


def jvm_split(
    before: dict, after: dict, threads_before: dict, threads_after: dict,
    jvm_pid: int, hz: float,
) -> dict:
    """The ``jvm`` group of :func:`split` in CPU seconds per thread
    group, from two :func:`read_tree` tables and the JVM's
    :func:`read_threads` tables read with them. Rows add up to the
    ``jvm`` group."""
    (key,) = (k for k in after if k[0] == jvm_pid)
    _ppid, _argv, own, reaped = after[key]
    prev = before.get(key, (0, [], 0, 0))
    out: dict[str, float] = {}
    for tkey, (name, ticks) in threads_after.items():
        g = thread_group(name)
        ticks -= threads_before.get(tkey, (name, 0))[1]
        out[g] = out.get(g, 0.0) + ticks / hz
    out["exited"] = (own - prev[2]) / hz - sum(out.values())
    out["reaped children"] = (reaped - prev[3]) / hz
    return out


@contextlib.contextmanager
def measuring(root_pid: int, jvm_pid: int, hz: float, proc: str = "/proc"):
    """Yields a dict that holds, once the block has run, the CPU the
    process tree under ``root_pid`` spent in it: ``cpu`` (:func:`split`)
    and ``jvm`` (the JVM's :func:`jvm_split`). The JVM's threads are
    read after the tree before and before the tree after, so no live
    thread is billed more than its process."""
    out: dict = {}
    before = read_tree(root_pid, proc)
    threads_before = read_threads(jvm_pid, proc)
    yield out
    threads_after = read_threads(jvm_pid, proc)
    after = read_tree(root_pid, proc)
    out["cpu"] = split(before, after, root_pid, hz)
    out["jvm"] = jvm_split(before, after, threads_before, threads_after, jvm_pid, hz)


def measure(run, root_pid: int, jvm_pid: int, hz: float, proc: str = "/proc"):
    """``run()``'s result, and the CPU split (:func:`measuring`) of the
    time it ran."""
    with measuring(root_pid, jvm_pid, hz, proc) as m:
        result = run()
    return result, m["cpu"], m["jvm"]


STEP_COLUMNS = (
    "CPU s", "JVM", "JIT", "task", "Janino compiles", "JIT compile ms", "Spark jobs",
)
_COUNT_COLUMNS = ("Janino compiles", "JIT compile ms", "Spark jobs")


class StepMeter:
    """Takes the place of perfbench's tracer in ``DatasetBuild.op``,
    which wraps each query's planning and execution and the shard
    store's write in ``tracer.span``: the CPU split, the compiles and
    the Spark jobs of each span, summed per step (a query's two spans
    make one step). ``meter()`` is a :func:`measuring` context;
    ``compiles()`` returns :func:`_compiles`' pair and ``jobs()``
    :func:`_jobs`' count."""

    enabled = False  # the operation records no per-layer figures

    def __init__(self, meter, compiles, jobs):
        self._meter, self._compiles, self._jobs = meter, compiles, jobs
        self.steps: dict[str, dict[str, float]] = {}

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        step = attrs.get("query") or {
            "pipelines.shard_store.write": "shard store"
        }.get(name, name)
        c0, j0 = self._compiles(), self._jobs()
        with self._meter() as m:
            yield None
        c1, j1 = self._compiles(), self._jobs()
        row = self.steps.setdefault(step, dict.fromkeys(STEP_COLUMNS, 0.0))
        for col, value in zip(
            STEP_COLUMNS,
            (
                sum(m["cpu"].values()),
                m["cpu"].get("jvm", 0.0),
                m["jvm"].get("jit", 0.0),
                m["jvm"].get("task", 0.0),
                c1[0] - c0[0],
                c1[1] - c0[1],
                j1 - j0,
            ),
        ):
            row[col] += value


def step_table(ops: list[dict]) -> str:
    """Markdown table of :class:`StepMeter` steps over operations
    (``ops`` holds each operation's ``steps``): the first operation's
    CPU s, then the median over ``ops`` of every column."""
    lines = [
        f"| step | first CPU s | {' | '.join(STEP_COLUMNS)} |",
        "|---" * (len(STEP_COLUMNS) + 2) + "|",
    ]
    total = dict.fromkeys(("first",) + STEP_COLUMNS, 0.0)
    for step in ops[0]:
        med = {c: statistics.median(o[step][c] for o in ops) for c in STEP_COLUMNS}
        total["first"] += ops[0][step]["CPU s"]
        for c in STEP_COLUMNS:
            total[c] += med[c]
        cells = [f"{ops[0][step]['CPU s']:.2f}"] + [_cell(c, med[c]) for c in STEP_COLUMNS]
        lines.append(f"| `{step}` | {' | '.join(cells)} |")
    cells = [f"{total['first']:.2f}"] + [_cell(c, total[c]) for c in STEP_COLUMNS]
    lines.append(f"| total | {' | '.join(cells)} |")
    return "\n".join(lines)


def _cell(column: str, value: float) -> str:
    return f"{value:g}" if column in _COUNT_COLUMNS else f"{value:.2f}"


def table(
    splits: list[dict], header: str = "process group", first: bool = False
) -> str:
    """Markdown table of the per-group medians over ``splits``; with
    ``first``, the first split's CPU s beside them. ``perfbench`` at
    ``run_seconds`` 1 times one operation, right after the prime, and
    later repeats run with a warmer JIT, so their median alone
    understates it."""
    groups = sorted(
        {g for s in splits for g in s},
        key=lambda g: -statistics.median(s.get(g, 0.0) for s in splits),
    )
    med = {g: statistics.median(s.get(g, 0.0) for s in splits) for g in groups}
    total = statistics.median(sum(s.values()) for s in splits)
    columns = [("CPU s", med, total)]
    if first:
        columns = [
            ("first CPU s", splits[0], sum(splits[0].values())),
            ("median CPU s", med, total),
        ]
    lines = [
        f"| {header} | {' | '.join(c[0] for c in columns)} | share |",
        "|---" * (len(columns) + 2) + "|",
    ]
    for g in groups:
        cells = " | ".join(f"{c[1].get(g, 0.0):.2f}" for c in columns)
        lines.append(f"| `{g}` | {cells} | {med[g] / total:.0%} |")
    lines.append(f"| total | {' | '.join(f'{c[2]:.2f}' for c in columns)} | |")
    return "\n".join(lines)


def _compiles(spark) -> tuple[int, int]:
    """(classes Janino has compiled, JIT compilation ms) of the JVM."""
    jvm = spark._jvm
    janino = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return janino.getCount(), jit.getTotalCompilationTime()


def _jobs(spark) -> int:
    """Spark jobs the session has submitted so far: one more than the
    newest job id in the driver's status store (ids count up from 0;
    the engine sets no job groups)."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids, default=-1) + 1


def main() -> int:
    perfbench = os.path.join(_REPO, "perfbench")
    sys.path.insert(1, perfbench)
    from spans import Tracer
    from workloads import CORES, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), default="octree_import")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reps", type=int, default=1)
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(CORES))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from hortacloud_importer_spark.session import spark_builder
    from hortacloud_importer_spark.sources.datasource import (
        register_volume_sources,
    )

    work = tempfile.mkdtemp(prefix="cpu_split_")
    try:
        wl = WORKLOADS[args.workload](work, args.seed)
        wl.prepare()
        spark = (
            spark_builder("cpu_split")
            .config("spark.driver.extraJavaOptions", "-XX:-UseDynamicNumberOfCompilerThreads")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        register_volume_sources(spark)  # as get_spark does
        tracer = Tracer(False)
        me, hz = os.getpid(), os.sysconf("SC_CLK_TCK")
        jvm = next(
            pid for (pid, _start), v in read_tree(me).items()
            if group_of(pid, v[1], me) == "jvm"
        )
        _, prime_cpu, prime_jvm = measure(
            lambda: wl.prime(spark, tracer), me, jvm, hz
        )
        splits, jvm_splits, compiles, steps = [], [], [], []
        for _ in range(args.reps):
            spark.catalog.clearCache()
            meter = StepMeter(
                functools.partial(measuring, me, jvm, hz),
                functools.partial(_compiles, spark),
                functools.partial(_jobs, spark),
            )
            c0 = _compiles(spark)
            op, cpu, jvm_cpu = measure(lambda: wl.op(spark, meter), me, jvm, hz)
            c1 = _compiles(spark)
            if not op.ok:
                raise SystemExit(f"operation failed its checks: {op.detail}")
            splits.append(cpu)
            jvm_splits.append(jvm_cpu)
            compiles.append((c1[0] - c0[0], c1[1] - c0[1]))
            steps.append(meter.steps)
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("Prime (the session's first execution):")
    print()
    print(table([prime_cpu]))
    print()
    print(table([prime_jvm], "JVM thread group"))
    print()
    print(f"Operation (the first, and the median of {args.reps}):")
    print()
    print(table(splits, first=True))
    print()
    print(table(jvm_splits, "JVM thread group", first=True))
    print()
    print(
        f"Janino compiles per operation: first {compiles[0][0]:g}, "
        f"median {statistics.median(c[0] for c in compiles):g}; "
        f"JIT compilation time: first {compiles[0][1]:g} ms, "
        f"median {statistics.median(c[1] for c in compiles):g} ms"
    )
    print()
    print("Warm-up, operation by operation (CPU s / JIT thread s):")
    print(", ".join(
        f"{sum(c.values()):.2f} / {j.get('jit', 0.0):.2f}"
        for c, j in zip(splits, jvm_splits)
    ))
    if steps[0]:
        print()
        print(f"Per step (the first operation's CPU s, and the median of {args.reps}):")
        print()
        print(step_table(steps))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
