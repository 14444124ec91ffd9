#!/usr/bin/env python
"""Interleaved A/B of a bench subset under two ENV configurations.

Same methodology as tools/bench_ab.py (interleaved sides, single-rep
bench subprocesses, per-query min across reps, calibration spin per
run) but both sides run the CURRENT tree — the variable is an
environment setting (e.g. SPARK_GRAFT_BENCH_COLDCACHE=0/1), so a
mechanism can be attributed without committing a revert first.

Usage:
    python tools/exp_env_ab.py '<env_a_json>' '<env_b_json>' <reps> q1 q2 ...

Example:
    python tools/exp_env_ab.py '{"SPARK_GRAFT_BENCH_COLDCACHE":"1"}' \
        '{"SPARK_GRAFT_BENCH_COLDCACHE":"0"}' 3 sim_ann sim_topk
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def calib_spin() -> float:
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc = (acc * 1103515245 + i) & 0xFFFFFFFF
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def run_subset(extra_env: dict, names: list[str]) -> dict:
    env = dict(os.environ)
    env.update(extra_env)
    env["SPARK_GRAFT_BENCH_REPS"] = "1"
    env.setdefault("SPARK_GRAFT_CPUS", "32")
    env.setdefault("SPARK_GRAFT_BENCH_MAXLOAD", "1.2")
    env.setdefault("SPARK_GRAFT_BENCH_IDLE_TIMEOUT", "300")
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), *names],
        env=env,
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    for line in out.stdout.splitlines():
        if line.startswith('{"metric"'):
            return json.loads(line)
    raise RuntimeError(f"no bench JSON; stderr tail: {out.stderr[-2000:]}")


def main() -> None:
    env_a = json.loads(sys.argv[1])
    env_b = json.loads(sys.argv[2])
    reps = int(sys.argv[3])
    names = sys.argv[4:]
    mins: dict[str, dict[str, float]] = {"a": {}, "b": {}}
    steal_per_run: dict[str, list] = {"a": [], "b": []}
    discarded = 0
    kept_contaminated = 0
    for rep in range(reps):
        for side, env in (("a", env_a), ("b", env_b)):
            # Steal-discard (round-14: hypervisor steal waves poison a
            # side's minima; bench.py emits the run's own steal_cps):
            # retry a contaminated rep up to twice, then keep it —
            # per-query minima absorb one bad rep. A kept-contaminated
            # rep is labeled loudly AND recorded in the JSON (r14
            # ADVICE: the artifact must self-adjudicate like
            # BENCH_AB.json does).
            for attempt in range(3):
                spin = calib_spin()
                res = run_subset(env, names)
                steal = res.get("host", {}).get("steal_cps")
                if steal is None or steal <= 0.5:
                    break
                if attempt == 2:
                    kept_contaminated += 1
                    print(
                        f"rep {rep + 1}/{reps} side {side} KEPT "
                        f"CONTAMINATED (steal {steal} cps, retries "
                        "exhausted)",
                        file=sys.stderr,
                    )
                    break
                discarded += 1
                print(
                    f"rep {rep + 1}/{reps} side {side} DISCARDED "
                    f"(steal {steal} cps) — re-running",
                    file=sys.stderr,
                )
            steal_per_run[side].append(steal)
            print(
                f"rep {rep + 1}/{reps} side {side} env={env} "
                f"calib={spin} total={res['value']} steal={steal}",
                file=sys.stderr,
            )
            for q, t in res["queries"].items():
                # normalize each run by its calib spin vs the first run's
                t_n = t * 0.2407 / max(spin, 1e-9)
                mins[side][q] = min(mins[side].get(q, float("inf")), t_n)
    rows = []
    for q in names:
        a, b = mins["a"].get(q), mins["b"].get(q)
        rows.append(
            {
                "query": q,
                "a": round(a, 3),
                "b": round(b, 3),
                "b_over_a": round(b / a, 3) if a else None,
            }
        )
    print(
        json.dumps(
            {
                "env_a": env_a,
                "env_b": env_b,
                "per_query": rows,
                "steal_cps_per_run": steal_per_run,
                "steal_discarded_reps": discarded,
                "steal_kept_contaminated": kept_contaminated,
            }
        )
    )


if __name__ == "__main__":
    main()
