"""Benchmark-side tracing: spans around calls into the engine's layers,
Spark stage counters diffed around each span, and process-tree memory.

Spans are recorded only in a traced run; an untraced run pays nothing
but a no-op context manager. Spans stay in memory and are written out
once, when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time

_STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "spill_bytes": "diskBytesSpilled",
    "output_bytes": "outputBytes",
}


class StageCounters:
    """Completed-stage counters from the driver's status store (works
    with the UI disabled). Stage ids grow monotonically and the store
    lists newest first, so a diff reads only the stages created since
    the cursor."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._jvm = sc._jvm
        self._gw = sc._gateway

    def _stages(self):
        jvm = self._jvm
        return self._sc._jsc.sc().statusStore().stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            self._gw.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )

    def cursor(self) -> int:
        seq = self._stages()
        return seq.apply(0).stageId() if seq.size() else -1

    def since(self, cursor: int) -> dict:
        out = dict.fromkeys(_STAGE_FIELDS, 0)
        out["stages"] = 0
        seq = self._stages()
        for k in range(seq.size()):
            s = seq.apply(k)
            if s.stageId() <= cursor:
                break
            if str(s.status()) != "COMPLETE":
                continue
            out["stages"] += 1
            for key, getter in _STAGE_FIELDS.items():
                out[key] += int(getattr(s, getter)())
        return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree() -> list[int]:
    """This process and all its descendants (the JVM, the Python
    daemon and its workers)."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process plus its children (the
    JVM), in MiB. Python workers are left out: they come and go within
    an operation, and a high-water mark leaves with its process, so
    whether one counted would depend on when it was read."""
    me = os.getpid()
    total_kb = 0
    for pid in [me, *_children().get(me, [])]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def tree_cpu_s() -> float:
    """User + system CPU seconds of the process tree, counting the
    children its processes have already reaped. Time the hypervisor
    gave to other guests (steal) is not in it, unlike wall time."""
    ticks = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent inside the collectors
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self._counters: StageCounters | None = None

    def attach(self, spark) -> None:
        if self.enabled:
            self._counters = StageCounters(spark)
            self._sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the body; yields the span dict (None
        when tracing is off) so callers can add counts."""
        if not self.enabled:
            yield None
            return
        c0 = time.perf_counter()
        sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            **attrs,
        }
        group = f"span-{sid}"
        cursor = self._counters.cursor() if self._counters else -1
        if self._counters:
            self._sc.setJobGroup(group, name)
        self._stack.append(sid)
        self.overhead_s += time.perf_counter() - c0
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            c1 = time.perf_counter()
            self._stack.pop()
            if self._counters:
                rec.update(self._counters.since(cursor))
                rec["jobs"] = len(self._sc.statusTracker().getJobIdsForGroup(group))
                parent = f"span-{self._stack[-1]}" if self._stack else None
                if parent:
                    self._sc.setJobGroup(parent, "")
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - c1

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
