#!/usr/bin/env python
"""Controlled A/B of the bench between two git revisions (default:
round-8 HEAD vs the current HEAD), calibration-normalized — the
round-10 verdict's ask: attribute the r8->r10 bench drift between
query-internals growth and host drift, and pin a band future rounds
can diff against without forensics.

Method: each side runs ITS OWN bench.py (same 34-query headline set
in both revisions, verified) with SPARK_GRAFT_BENCH_REPS=1, in
interleaved A/B/A/B/... order so host-contention waves hit both
sides equally. The harness measures one calibration spin (the same
fixed single-threaded workload bench.py fingerprints) immediately
before every run and normalizes that run's total by
(calib / REF_CALIB); per-query minima across runs feed the
attribution table. Results are appended to SOAK.md under
'# BENCH REPIN'.

One-command usage (pins old side to the round-8 ref, 3 interleaved
reps, appends a BENCH REPIN section to SOAK.md AND writes a
machine-readable BENCH_AB.json with an attribution verdict):

    python tools/bench_ab.py            # HEAD vs pinned r8, self-attributing
    python tools/bench_ab.py <rev> [reps]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import BAND, REF_CALIB  # single source of truth for the band

PINNED_R8_REV = "7576aee"  # round-8 HEAD: last rev before the band repin


def calib_spin() -> float:
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc = (acc * 1103515245 + i) & 0xFFFFFFFF
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def read_steal_sec() -> float | None:
    """Cumulative hypervisor steal seconds (see bench._read_steal_sec:
    steal waves are invisible to both the idle gate and the calib
    spin, and they are the round-14-measured cause of 2-3x phantom
    totals on identical code)."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        if parts[0] != "cpu" or len(parts) < 9:
            return None
        return float(parts[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return None


# A rep whose run-average steal exceeds this many vCPUs is discarded
# and re-run: the interleaving defends the RATIO against waves that
# hit both sides, but a wave that lands inside ONE side's run still
# poisons that side's per-query minima.
STEAL_DISCARD_CPS = 0.5


def screening_steal(out: dict) -> tuple[float | None, str]:
    """(steal vCPUs, metric name) a run is screened on — one rule for
    both sides: the worst KEPT pass of the bench's own rep loop
    (``host.steal_cps_reps``) when the revision emits it, else the
    harness average over the whole subprocess. Not ``host.steal_cps``:
    that timed-region average includes passes bench.py already
    discarded and re-ran, so it would penalize a clean run twice."""
    reps = [
        c for c in out.get("host", {}).get("steal_cps_reps") or []
        if c is not None
    ]
    if reps:
        return max(reps), "host.steal_cps_reps_max"
    return out.get("harness_steal_cps"), "harness_steal_cps"


def run_bench(tree: str, coldcache: str) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_BENCH_REPS"] = "1"
    env["SPARK_GRAFT_BENCH_COLDCACHE"] = coldcache
    env.setdefault("SPARK_GRAFT_CPUS", "32")
    # Pin the idle gate explicitly so both sides wait on the SAME
    # threshold (the old rev's bench.py defaults to the looser 2.0).
    env.setdefault("SPARK_GRAFT_BENCH_MAXLOAD", "0.8")
    env.setdefault("SPARK_GRAFT_BENCH_IDLE_TIMEOUT", "900")
    c = calib_spin()
    steal0 = read_steal_sec()
    t0 = time.time()
    r = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=tree,
        env=env,
        capture_output=True,
        text=True,
        timeout=1800,
    )
    steal1 = read_steal_sec()
    line = next(
        (
            ln
            for ln in reversed(r.stdout.strip().splitlines())
            if ln.startswith("{")
        ),
        None,
    )
    if r.returncode != 0 or line is None:
        raise SystemExit(
            f"bench failed in {tree}: rc={r.returncode}\n"
            + r.stderr[-2000:]
        )
    out = json.loads(line)
    out["harness_calib"] = c
    out["norm_value"] = round(out["value"] * REF_CALIB / c, 3)
    if steal0 is not None and steal1 is not None:
        out["harness_steal_cps"] = round(
            (steal1 - steal0) / max(time.time() - t0, 1e-9), 3
        )
    out["effective_steal_cps"], out["steal_metric"] = screening_steal(out)
    return out


def coldcache_mode(old_tree: str) -> str:
    """The SPARK_GRAFT_BENCH_COLDCACHE value both sides run with.

    A bench.py without the cold-cache mode (the pinned r8 one) always
    keeps caches across reps, so warm ("0") is the default: a cold new
    side against a warm old side would put the methodology change into
    the ratio."""
    mode = os.environ.get("SPARK_GRAFT_BENCH_COLDCACHE", "0")
    with open(os.path.join(old_tree, "bench.py")) as fh:
        old_has_cold = "SPARK_GRAFT_BENCH_COLDCACHE" in fh.read()
    if mode != "0" and not old_has_cold:
        raise SystemExit(
            f"SPARK_GRAFT_BENCH_COLDCACHE={mode}: the old side's bench.py "
            "has no cold-cache mode; run the A/B with 0"
        )
    return mode


def main() -> None:
    old_rev = sys.argv[1] if len(sys.argv) > 1 else PINNED_R8_REV
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    old_tree = "/tmp/spark_graft_ab_old"
    if not os.path.exists(os.path.join(old_tree, "bench.py")):
        subprocess.run(
            ["git", "worktree", "add", "--detach", old_tree, old_rev],
            cwd=REPO,
            check=True,
        )
    coldcache = coldcache_mode(old_tree)
    runs: dict[str, list] = {"old": [], "new": []}
    discarded = 0
    for rep in range(reps):
        for side, tree in (("old", old_tree), ("new", REPO)):
            for attempt in range(3):
                print(
                    f"rep {rep + 1}/{reps} side {side}"
                    + (f" (retry {attempt})" if attempt else "")
                    + " ...",
                    flush=True,
                )
                r = run_bench(tree, coldcache)
                cps = r.get("effective_steal_cps")
                if cps is None or cps <= STEAL_DISCARD_CPS or attempt == 2:
                    if cps is not None and cps > STEAL_DISCARD_CPS:
                        # out of retries: keep it, but it is marked —
                        # per-query minima across reps absorb one bad rep
                        print(
                            f"  KEPT CONTAMINATED rep (steal {cps} cps, "
                            "retries exhausted)",
                            flush=True,
                        )
                    runs[side].append(r)
                    break
                discarded += 1
                print(
                    f"  DISCARDED rep: steal wave ({cps} vCPUs avg "
                    f"> {STEAL_DISCARD_CPS}) — re-running",
                    flush=True,
                )

    def best(side: str) -> dict:
        rs = runs[side]
        per_q: dict[str, float] = {}
        for r in rs:
            for q, t in r["queries"].items():
                per_q[q] = min(per_q.get(q, float("inf")), t)
        return {
            "raw_totals": [r["value"] for r in rs],
            "norm_totals": [r["norm_value"] for r in rs],
            "calibs": [r["harness_calib"] for r in rs],
            "best_raw": min(r["value"] for r in rs),
            "best_norm": min(r["norm_value"] for r in rs),
            "sum_of_query_mins": round(sum(per_q.values()), 3),
            "per_query": per_q,
        }

    old_b, new_b = best("old"), best("new")
    # Compare over the INTERSECTION of headline queries only: the two
    # revisions may carry different headline sets (the set grew in
    # round 14), and a totals ratio that includes one-sided queries
    # measures the set difference, not the code.
    shared = sorted(set(old_b["per_query"]) & set(new_b["per_query"]))
    new_only = sorted(set(new_b["per_query"]) - set(old_b["per_query"]))
    old_shared = round(sum(old_b["per_query"][q] for q in shared), 3)
    new_shared = round(sum(new_b["per_query"][q] for q in shared), 3)
    movers = sorted(
        (
            (q, old_b["per_query"][q], new_b["per_query"][q])
            for q in shared
        ),
        key=lambda t: (t[2] or 0) - (t[1] or 0),
        reverse=True,
    )
    # Per-query interleaved ratios with a noise floor (round-13 ask
    # #5): sub-second queries jitter 2x between identical runs on this
    # host (BENCH_r13 vs r11 showed 0.25->0.51 s on untouched code), so
    # only queries that are BOTH >0.5 s on the old side AND >1.5x
    # slower are flagged — everything else is self-labeled noise.
    per_query_ratios = {
        q: round(n / o, 3) for q, o, n in movers if o and o > 0
    }
    flagged = [
        {"query": q, "old": o, "new": n, "ratio": round(n / o, 3)}
        for q, o, n in movers
        if o and o > 0.5 and n / o > 1.5
    ]
    head = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"],
        cwd=REPO,
        capture_output=True,
        text=True,
    ).stdout.strip()
    lines = [
        "",
        f"# BENCH REPIN (controlled A/B: {old_rev} vs HEAD {head})",
        "",
        f"Interleaved {reps}x single-rep runs per side on one idle "
        "session; every run calibration-spun immediately before "
        f"launch and normalized to calib {REF_CALIB} (BENCH_r10's); "
        f"SPARK_GRAFT_BENCH_COLDCACHE={coldcache} on both sides.",
        "",
        f"- old ({old_rev}): raw {old_b['raw_totals']} "
        f"norm {old_b['norm_totals']} (calibs {old_b['calibs']}, "
        f"steal cps {[r.get('harness_steal_cps') for r in runs['old']]})",
        f"- new (HEAD {head}): raw {new_b['raw_totals']} "
        f"norm {new_b['norm_totals']} (calibs {new_b['calibs']}, "
        f"steal cps {[r.get('harness_steal_cps') for r in runs['new']]})",
        f"- steal-contaminated reps discarded and re-run: {discarded} "
        f"(threshold {STEAL_DISCARD_CPS} vCPUs run-average)",
        f"- best normalized totals: old {old_b['best_norm']} s, "
        f"new {new_b['best_norm']} s "
        f"(sum-of-query-mins: old {old_b['sum_of_query_mins']}, "
        f"new {new_b['sum_of_query_mins']})",
        f"- shared-query ({len(shared)}) sum-of-mins: old {old_shared} s,"
        f" new {new_shared} s"
        + (
            f"; new-only queries ({len(new_only)}): "
            + ", ".join(new_only)
            if new_only
            else ""
        ),
        "",
        "Biggest per-query deltas (old -> new, sec, min across runs):",
        "",
    ]
    for q, o, n in movers[:8]:
        lines.append(f"- {q}: {o} -> {n} ({n - o:+.3f})")
    lines.append("")
    if flagged:
        lines.append(
            "Flagged regressions (>0.5 s old AND >1.5x — above the "
            "measured jitter floor): "
            + ", ".join(f"{f['query']} {f['ratio']}x" for f in flagged)
        )
    else:
        lines.append(
            "No per-query regression above the noise floor "
            "(>0.5 s old AND >1.5x)."
        )
    lines.append("")
    with open(os.path.join(REPO, "SOAK.md"), "a") as fh:
        fh.write("\n".join(lines) + "\n")

    # Self-attribution: the whole point of the interleaved design.
    # The verdict rests on the INTERLEAVED SHARED-QUERY RATIO ALONE —
    # it is the controlled signal (both sides hit the same host waves).
    # The band check is informational only: single-rep totals run
    # 30-40% above the min-of-3 band by design, so conditioning the
    # verdict on it would make the conjunct vacuous on a normal host
    # and could mask a genuine regression on an unusually fast one
    # (round-13 ADVICE).
    ratio = (
        round(new_shared / old_shared, 3)
        if old_shared
        else round(new_b["best_norm"] / old_b["best_norm"], 3)
    )
    in_band = new_b["best_norm"] <= BAND[1] * 1.05
    # Attribution (r14 ADVICE): a concentrated real regression can be
    # masked by wins elsewhere when the verdict keys only on the total
    # ratio — so a per-query flag that SURVIVES the steal screening and
    # the min-across-reps (i.e. reproduced in every kept rep) escalates
    # the verdict to 'code-per-query' even when the shared-sum ratio is
    # inside the noise band.
    if ratio > 1.10:
        attribution = "code"
    elif flagged:
        attribution = "code-per-query"
    else:
        attribution = "host-or-noise"
    verdict = {
        "note": (
            "totals here are SINGLE-REP normalized (each side runs "
            "bench.py with REPS=1), which land ~30-40% above the "
            "min-of-3 band by design — judge the RATIO (shared-query "
            "sum-of-mins, the controlled interleaved signal); "
            "new_inside_band is informational only and never part of "
            "the attribution"
        ),
        "old_rev": old_rev,
        "new_rev": head,
        "bench_coldcache": coldcache,
        "old_best_norm": old_b["best_norm"],
        "new_best_norm": new_b["best_norm"],
        "shared_queries": len(shared),
        "new_only_queries": new_only,
        "old_shared_sum_of_mins": old_shared,
        "new_shared_sum_of_mins": new_shared,
        "ratio_new_over_old": ratio,
        "band": list(BAND),
        "new_inside_band": in_band,
        "attribution": attribution,
        "steal_discarded_reps": discarded,
        "steal_cps_per_run": {
            side: [r.get("effective_steal_cps") for r in runs[side]]
            for side in ("old", "new")
        },
        "steal_metric": {
            side: [r.get("steal_metric") for r in runs[side]]
            for side in ("old", "new")
        },
        "steal_cps_harness_per_run": {
            side: [r.get("harness_steal_cps") for r in runs[side]]
            for side in ("old", "new")
        },
        "per_query_ratios": per_query_ratios,
        "noise_floor": {"min_old_sec": 0.5, "min_ratio": 1.5},
        "flagged_regressions": flagged,
        "top_movers": [
            {"query": q, "old": o, "new": n} for q, o, n in movers[:8]
        ],
    }
    with open(os.path.join(REPO, "BENCH_AB.json"), "w") as fh:
        json.dump(verdict, fh, indent=2)
    print(json.dumps(verdict))


if __name__ == "__main__":
    main()
