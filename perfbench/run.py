#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload octree_import --seed 1 --seconds 1 --trace 0

Generates the workload's inputs from the seed under .bench_work/,
starts Spark on local[4], primes the workload, runs timed operations
for at least --seconds and at least once, checks every output, and
prints one JSON object as the last line of stdout. --trace 0 reports
the end-to-end metrics of BENCHMARK.json; --trace 1 reports its
per-layer metrics (spans land in .bench_results/). Exits non-zero
without a result when the engine package is not in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import traceback

from workloads import CORES, WORKLOADS, Op

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_CYCLES = 3


def _configure_env(work: str) -> None:
    """Keep Spark's scratch files inside the work dir and let the
    Python workers the JVM forks import the engine package."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM, including spark-submit's launcher: temp files in the
    # work dir and no hsperfdata file under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.executorEnv.PYTHONPATH={ROOT}",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "pyspark-shell",
        ]
    )


def _warm(spark) -> None:
    """A small SQL job, so the session's first job (scheduler start,
    code generation) is paid in set-up; the workload's prime pays the
    rest."""
    spark.range(0, 100000, numPartitions=CORES).selectExpr("sum(id)").collect()


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


T0 = time.perf_counter()


def _phase(name: str) -> None:
    print(f"perfbench: {time.perf_counter() - T0:7.2f}s {name}", file=sys.stderr, flush=True)


def run(args, work: str, spec: dict) -> str:
    sys.path.insert(1, ROOT)
    from report import check_metrics, median, percentile, result_line
    from spans import Tracer, peak_rss_mb, tree_cpu_s

    from hortacloud_importer_spark.session import get_spark

    wl = WORKLOADS[args.workload](work, args.seed)
    _phase("imports done")
    wl.prepare()
    _phase("inputs generated")
    tracer = Tracer(bool(args.trace))

    spark = None
    try:
        starts, warms = [], []
        for _ in range(SETUP_CYCLES):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            _warm(spark)
            starts.append(t1 - t0)
            warms.append(time.perf_counter() - t1)
        tracer.attach(spark)
        _phase("session set up")
        t0 = time.perf_counter()
        wl.prime(spark, tracer)
        prime_s = time.perf_counter() - t0
        _phase("primed")

        ops = []
        begin = time.perf_counter()
        while not ops or time.perf_counter() - begin < args.seconds:
            spark.catalog.clearCache()
            c0, t0 = tree_cpu_s(), time.perf_counter()
            try:
                ops.append(wl.op(spark, tracer))
            except Exception as exc:  # a crashed operation is a failed one
                traceback.print_exc()
                ops.append(
                    Op(time.perf_counter() - t0, tree_cpu_s() - c0, 0, False, f"{type(exc).__name__}: {exc}")
                )
            _phase(f"operation {len(ops)} took {ops[-1].seconds:.3f}s, {ops[-1].cpu_s:.3f} CPU s")
            if not ops[-1].ok:
                print(f"perfbench: failed: {ops[-1].detail}", file=sys.stderr)
        wall = time.perf_counter() - begin
        _phase(f"measured {len(ops)} operations")
        attempted, failed = len(ops), sum(not o.ok for o in ops)
        op_s = [o.seconds for o in ops]

        if args.trace:
            problems = wl.probes(spark, tracer)  # checked like one more operation
            attempted, failed = attempted + 1, failed + bool(problems)
            for p in problems:
                print(f"perfbench: failed: {p}", file=sys.stderr)
            layer = {
                "op.wall_ms": 1000 * percentile(op_s, 50),
                "op.items_per_s": sum(o.items for o in ops) / sum(op_s),
                "session.start_s": median(starts),
                "session.warm_s": median(warms),
                "session.prime_s": prime_s,
                "trace.overhead_share": tracer.overhead_s / wall,
                # a crashed operation recorded no layer counts
                **wl.layer_metrics(tracer, [o for o in ops if o.layer], wall),
            }
            tracer.dump(
                os.path.join(ROOT, ".bench_results", f"spans-{wl.name}-{args.seed}.jsonl")
            )
            metrics = {
                m["name"]: (float(layer.get(m["name"], 0.0)), m["unit"])
                for m in spec["per_layer"]
            }
            declared = spec["per_layer"]
        else:
            e2e = {
                "setup_s": median([s + w for s, w in zip(starts, warms)]) + prime_s,
                "op_cpu_s": median([o.cpu_s for o in ops]),
                "peak_rss_mb": peak_rss_mb(),
            }
            metrics = {m["name"]: (e2e[m["name"]], m["unit"]) for m in spec["end_to_end"]}
            declared = spec["end_to_end"]
        check_metrics(metrics, declared)
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()
        _phase("stopped")
    return result_line(attempted, failed, metrics)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "hortacloud_importer_spark", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _configure_env(work)
    try:
        line = run(args, work, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
