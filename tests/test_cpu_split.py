"""tools/cpu_split.py over a fake /proc tree (no Spark)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import cpu_split  # noqa: E402

DAEMON = ["python3", "-m", "pyspark.daemon"]


def _proc(root, pid, ppid, argv, utime, stime, cutime=0, cstime=0, start=1):
    d = root / str(pid)
    d.mkdir(parents=True, exist_ok=True)
    # pid (comm) state ppid pgrp session tty tpgid flags minflt cminflt
    # majflt cmajflt utime stime cutime cstime prio nice threads
    # itrealvalue starttime ...
    fields = [pid, f"({os.path.basename(argv[0])} x)", "S", ppid] + [0] * 9
    fields += [utime, stime, cutime, cstime, 20, 0, 1, 0, start, 0]
    (d / "stat").write_text(" ".join(str(f) for f in fields))
    (d / "cmdline").write_bytes(b"\0".join(a.encode() for a in argv) + b"\0")


def _tree(root, ticks):
    """Driver 100 -> JVM 101 -> two UDF worker daemons (102, 104; 102
    has a forked worker 103) and one DataSource-write planner daemon
    105; pid 200 is outside the tree. ``ticks`` maps pid -> (utime,
    stime, cutime, cstime[, starttime])."""
    argv = {
        100: ["python", "tools/cpu_split.py"],
        101: ["/usr/lib/jvm/bin/java", "-cp", "x", "SparkSubmit"],
        102: DAEMON + ["pyspark_graft_worker"],
        103: DAEMON + ["pyspark_graft_worker"],
        104: DAEMON + ["pyspark_graft_worker"],
        105: DAEMON + ["pyspark.sql.worker.write_into_data_source"],
        200: ["python", "unrelated.py"],
    }
    parent = {100: 1, 101: 100, 102: 101, 103: 102, 104: 101, 105: 101, 200: 1}
    for pid, t in ticks.items():
        _proc(root, pid, parent[pid], argv[pid], *t)


def test_split_groups_daemons_by_module_and_counts_reaped(tmp_path):
    before, after = tmp_path / "before", tmp_path / "after"
    _tree(before, {
        100: (10, 5), 101: (400, 100), 102: (30, 10),
        104: (20, 0), 105: (50, 10), 200: (999, 999),
    })
    _tree(after, {
        100: (12, 6),  # driver +3
        101: (600, 200),  # JVM +300
        102: (40, 10, 100, 20),  # +10 own, +120 reaped forked workers
        103: (70, 10),  # a forked worker started in between: +80
        104: (20, 0, 0, 0, 7),  # pid reused (new starttime): +20
        105: (80, 20),  # planner +40
        200: (5000, 5000),  # not in the tree
    })
    got = cpu_split.split(
        cpu_split.read_tree(100, str(before)),
        cpu_split.read_tree(100, str(after)),
        100,
        10.0,
    )
    assert got == pytest.approx({
        "driver": 0.3,
        "jvm": 30.0,
        "pyspark_graft_worker": 23.0,
        "pyspark.sql.worker.write_into_data_source": 4.0,
    })
    text = cpu_split.table([got])
    assert "| `jvm` | 30.00 | 52% |" in text
    assert "| total | 57.30 | |" in text


def test_read_tree_skips_processes_outside_the_root(tmp_path):
    _tree(tmp_path, {100: (1, 1), 101: (1, 1), 200: (1, 1)})
    pids = {pid for pid, _start in cpu_split.read_tree(101, str(tmp_path))}
    assert pids == {101}
    assert cpu_split.group_of(7, DAEMON, 100) == "pyspark.worker"


def _thread(root, pid, tid, name, utime, stime, start=1):
    d = root / str(pid) / "task" / str(tid)
    d.mkdir(parents=True, exist_ok=True)
    fields = [tid, f"({name})", "S", 1] + [0] * 9
    fields += [utime, stime, 0, 0, 20, 0, 1, 0, start, 0]
    (d / "stat").write_text(" ".join(str(f) for f in fields))


def _jvm_threads(root, ticks):
    """JVM 101's threads; ``ticks`` maps tid -> (utime, stime[,
    starttime]). Names are the kernel's 15-byte cut of Java's."""
    names = {
        1011: "C2 CompilerThre",
        1012: "GC Thread#0",
        1013: "Executor task l",
        1014: "shuffle-exchang",
        1015: "C1 CompilerThre",
        1016: "Executor task l",
        1017: "GC Thread#1",
        1018: "G1 Conc#0",
    }
    for tid, t in ticks.items():
        _thread(root, 101, tid, names[tid], *t)


def test_jvm_split_groups_threads_and_bills_exited_and_reaped(tmp_path):
    before, after = tmp_path / "before", tmp_path / "after"
    _tree(before, {100: (10, 5), 101: (400, 100)})
    _tree(after, {100: (12, 6), 101: (600, 200, 40, 10)})  # +300 own, +50 reaped
    _jvm_threads(before, {
        1011: (80, 20), 1012: (50, 0), 1013: (20, 0), 1014: (10, 0),
        1015: (30, 0),  # an idle compiler thread that exits
    })
    _jvm_threads(after, {
        1011: (200, 50),  # C2 +150
        1012: (70, 10),  # GC +30
        1014: (30, 0),  # other +20
        1016: (40, 0),  # a task thread started in between: +40
        1017: (10, 0),  # GC +10
        1018: (5, 0, 9),  # G1 +5
    })
    tb = cpu_split.read_tree(100, str(before))
    ta = cpu_split.read_tree(100, str(after))
    got = cpu_split.jvm_split(
        tb, ta,
        cpu_split.read_threads(101, str(before)),
        cpu_split.read_threads(101, str(after)),
        101, 10.0,
    )
    assert got == pytest.approx({
        "jit": 15.0,
        "gc": 4.5,
        "task": 4.0,
        "other": 2.0,
        "exited": 4.5,  # 300 own ticks less 255 on live threads
        "reaped children": 5.0,
    })
    assert sum(got.values()) == pytest.approx(
        cpu_split.split(tb, ta, 100, 10.0)["jvm"]
    )
    assert "| `jit` | 15.00 | 43% |" in cpu_split.table([got], "JVM thread group")


def test_thread_group_names():
    assert cpu_split.thread_group("C1 CompilerThre") == "jit"
    assert cpu_split.thread_group("G1 Refine#0") == "gc"
    assert cpu_split.thread_group("Executor task l") == "task"
    assert cpu_split.thread_group("VM Thread") == "other"


def test_measure_bills_what_ran_between_its_reads(tmp_path):
    """``measure`` reads the fake /proc before and after the callback
    (which advances it) and returns the callback's result with the
    process and JVM-thread splits of that interval."""
    proc = tmp_path / "proc"
    _tree(proc, {100: (10, 5), 101: (400, 100), 105: (50, 10)})
    _jvm_threads(proc, {1011: (80, 20), 1013: (20, 0)})

    def run():
        _tree(proc, {100: (11, 5), 101: (500, 100), 105: (70, 10)})
        _jvm_threads(proc, {1011: (150, 20), 1013: (40, 0)})
        return "done"

    result, got, jvm = cpu_split.measure(run, 100, 101, 10.0, str(proc))
    assert result == "done"
    assert got == pytest.approx({
        "driver": 0.1,
        "jvm": 10.0,
        "pyspark.sql.worker.write_into_data_source": 2.0,
    })
    assert jvm == pytest.approx({
        "jit": 7.0, "task": 2.0, "exited": 1.0, "reaped children": 0.0,
    })


def test_table_reports_the_first_operation_beside_the_median():
    """The benchmark times the first operation after the prime; later
    repeats run warmer, so the table shows that one beside the median."""
    splits = [
        {"jvm": 9.0, "driver": 1.0},  # the first: JIT still warming
        {"jvm": 3.0, "driver": 1.0},
        {"jvm": 4.0, "driver": 0.5},
    ]
    text = cpu_split.table(splits, first=True).splitlines()
    assert text[0] == "| process group | first CPU s | median CPU s | share |"
    assert text[1] == "|---|---|---|---|"
    # shares are of the median total (10, 4 and 4.5 s)
    assert text[2] == "| `jvm` | 9.00 | 4.00 | 89% |"
    assert text[3] == "| `driver` | 1.00 | 1.00 | 22% |"
    assert text[4] == "| total | 10.00 | 4.50 | |"


def test_step_meter_sums_a_querys_spans_into_one_step():
    """``DatasetBuild.op`` wraps each query's planning and execution in
    two spans and the shard store's write in a third; the meter bills
    each span's CPU, compiles and Spark jobs to its step, a query's two
    spans to one row, in the order the steps ran."""
    import contextlib

    readings = iter([(10, 100), (12, 150), (12, 150), (12, 170), (12, 170), (13, 171)])
    cpu = iter([
        ({"jvm": 1.0, "driver": 0.5}, {"jit": 0.6, "task": 0.2}),
        ({"jvm": 2.0}, {"jit": 1.0, "task": 0.5, "gc": 0.1}),
        ({"jvm": 0.5, "pyspark_graft_worker": 0.25}, {"task": 0.5}),
    ])

    @contextlib.contextmanager
    def meter():
        out = {}
        yield out
        out["cpu"], out["jvm"] = next(cpu)

    jobs = iter([3, 5, 5, 9, 9, 15])  # submitted-job counts around each span
    m = cpu_split.StepMeter(meter, lambda: next(readings), lambda: next(jobs))
    assert not m.enabled
    with m.span("queries.plan", query="sim_ann"):
        pass
    with m.span("queries.exec", query="sim_ann"):
        pass
    with m.span("pipelines.shard_store.write"):
        pass
    assert list(m.steps) == ["sim_ann", "shard store"]
    assert m.steps["sim_ann"] == pytest.approx({
        "CPU s": 3.5, "JVM": 3.0, "JIT": 1.6, "task": 0.7,
        "Janino compiles": 2, "JIT compile ms": 70, "Spark jobs": 6,
    })
    assert m.steps["shard store"]["Janino compiles"] == 1
    assert m.steps["shard store"]["Spark jobs"] == 6
    text = cpu_split.step_table([m.steps, m.steps]).splitlines()
    assert text[0] == (
        "| step | first CPU s | CPU s | JVM | JIT | task | Janino compiles"
        " | JIT compile ms | Spark jobs |"
    )
    assert text[2] == "| `sim_ann` | 3.50 | 3.50 | 3.00 | 1.60 | 0.70 | 2 | 70 | 6 |"
    assert text[-1] == "| total | 4.25 | 4.25 | 3.50 | 1.60 | 1.20 | 3 | 71 | 12 |"


def test_jobs_counts_the_sessions_submitted_jobs():
    """One more than the newest job id in the status store; 0 before
    any job."""

    class Tracker:
        def __init__(self, ids):
            self.ids = ids

        def getJobIdsForGroup(self, group):
            assert group is None
            return self.ids

    class Spark:
        def __init__(self, ids):
            self.sparkContext = type("Sc", (), {"statusTracker": lambda _s: Tracker(ids)})()

    assert cpu_split._jobs(Spark([])) == 0
    assert cpu_split._jobs(Spark([4, 7, 2])) == 8
