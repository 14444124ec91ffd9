"""Pin the bench capture's self-adjudication math (round-13 ask #1).

Round 12's driver bench recorded a +31% phantom regression because the
idle gate admitted a run at loadavg 1.77 and the artifact carried no
normalized value — a judge session was spent disproving it. These tests
pin (a) the normalization DIRECTION (a slow host deflates, never
inflates), (b) the band verdict, and (c) the tightened idle-gate
defaults, so a future edit can't silently regress the capture protocol.
"""

import importlib.util
import os

import pytest

_BENCH_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py"
)
_spec = importlib.util.spec_from_file_location("bench_module", _BENCH_PATH)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def test_normalization_deflates_on_slow_host():
    # Host 2x slower than reference (calib doubled): a 50 s raw total
    # is really a 25 s run — normalization must DIVIDE by the slowdown.
    assert bench.calib_normalize(50.0, bench.REF_CALIB * 2) == 25.0


def test_normalization_identity_on_reference_host():
    assert bench.calib_normalize(26.0, bench.REF_CALIB) == 26.0


def test_normalization_inflates_on_fast_host():
    # A host 20% faster than reference under-reports; normalize up.
    val = bench.calib_normalize(20.0, bench.REF_CALIB * 0.8)
    assert val == 25.0


def test_normalization_none_calib_falls_back_to_identity():
    assert bench.calib_normalize(26.0, None) == 26.0


def test_band_verdict():
    lo, hi = bench.BAND
    assert bench.band_verdict(lo - 0.1) == "below"
    assert bench.band_verdict(lo) == "inside"
    assert bench.band_verdict((lo + hi) / 2) == "inside"
    assert bench.band_verdict(hi) == "inside"
    assert bench.band_verdict(hi + 0.1) == "above"


def test_band_matches_pinned_repin():
    # r14 repin: 38-query headline set (SOAK.md # BENCH REPIN r14)
    assert bench.BAND == (29.0, 34.0)
    assert bench.REF_CALIB == pytest.approx(0.2407)


def test_idle_gate_defaults_tightened(monkeypatch):
    # The r12 contamination: default MAXLOAD 2.0 admitted loadavg 1.77.
    monkeypatch.delenv("SPARK_GRAFT_BENCH_MAXLOAD", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_BENCH_IDLE_TIMEOUT", raising=False)
    src = open(_BENCH_PATH).read()
    assert '"SPARK_GRAFT_BENCH_MAXLOAD", "0.8"' in src
    assert '"SPARK_GRAFT_BENCH_IDLE_TIMEOUT", "1800"' in src


def test_band_distance_pct():
    lo, hi = bench.BAND
    assert bench.band_distance_pct((lo + hi) / 2) == 0.0
    assert bench.band_distance_pct(hi) == 0.0
    assert bench.band_distance_pct(hi * 1.005) == 0.5
    assert bench.band_distance_pct(lo * 0.99) == -1.0


def test_steal_parser_fixtures():
    # Round-14: hypervisor steal waves (2-10 vCPUs for minutes) are
    # invisible to BOTH the idle gate (loadavg only counts our own
    # runnable tasks) and the calib spin (a pre-run sample misses a
    # wave that lands on the timed region). The capture must therefore
    # carry the steal delta across the timed region. The parser is
    # pinned against FIXED fixtures (r14 ADVICE: the old live-file test
    # was non-hermetic and a no-op on hosts without a steal field):
    # field 9 of the aggregate cpu line, in clock ticks.
    line = "cpu 100 0 200 3000 40 0 5 250 0 0\n"
    assert bench._parse_steal_sec(line, 100.0) == 2.5
    # short line (pre-2.6.11 kernel: no steal field) -> None
    assert bench._parse_steal_sec("cpu 100 0 200 3000\n", 100.0) is None
    # not the aggregate cpu line -> None
    assert (
        bench._parse_steal_sec("cpu0 1 2 3 4 5 6 7 8 9 10\n", 100.0) is None
    )
    # empty / malformed -> None, never a raise
    assert bench._parse_steal_sec("", 100.0) is None
    assert bench._parse_steal_sec("cpu a b c d e f g h i\n", 100.0) is None


def test_steal_reader_live_smoke():
    # at most a smoke assertion against the live file (hermetic tests
    # above carry the real pins)
    val = bench._read_steal_sec()
    assert val is None or (isinstance(val, float) and val >= 0.0)


def test_rep_loop_steal_defenses_present():
    # r14 verdict #1/#3: the rep loop must (a) discard-and-retry a
    # steal-contaminated pass, bounded and counted, and (b) clear the
    # SQL cache before each timed execution so min-of-reps measures
    # cold plans. Driven with a stub spark and a stub steal reader:
    # each pass reads steal twice, and a pass that accrues 1000 s of
    # steal in well under a second is contaminated.
    log: list[str] = []

    class _Catalog:
        def clearCache(self):
            log.append("clear")

    class _Spark:
        catalog = _Catalog()

    steal = iter([0.0, 1000.0, 1000.0, 1000.0,      # rep 1: dirty, clean
                  1000.0, 2000.0, 2000.0, 3000.0,   # rep 2: dirty x3
                  3000.0, 4000.0])
    queries = {q: (lambda q=q: log.append(q)) for q in ("q1", "q2")}
    timings, stamps = bench._run_reps(
        _Spark(), queries, reps=2, steal_thresh=0.5, steal_max_retries=2,
        cold_cache=True, read_steal=lambda: next(steal),
    )
    # rep 1 re-ran its contaminated pass; rep 2 gave up after two
    # retries and kept the third contaminated pass
    assert log == ["clear", "q1", "clear", "q2"] * 5
    assert stamps["steal_discarded_reps"] == 3
    assert stamps["steal_kept_contaminated"] == 1
    assert stamps["steal_cps_reps"][0] == 0.0
    assert stamps["steal_cps_reps"][1] > 0.5
    assert len(stamps["steal_cps_reps"]) == 2
    assert set(timings) == {"q1", "q2"}
    assert next(steal, None) is None  # every pass read steal twice

    log.clear()
    bench._run_reps(
        _Spark(), queries, reps=1, steal_thresh=0.5, steal_max_retries=2,
        cold_cache=False, read_steal=lambda: None,
    )
    assert log == ["q1", "q2"]


def _load_bench_ab():
    spec = importlib.util.spec_from_file_location(
        "bench_ab_module",
        os.path.join(os.path.dirname(_BENCH_PATH), "tools", "bench_ab.py"),
    )
    bench_ab = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench_ab)
    return bench_ab


def test_bench_ab_runs_both_sides_in_one_cache_mode(tmp_path, monkeypatch):
    bench_ab = _load_bench_ab()
    old = tmp_path / "old"
    old.mkdir()
    (old / "bench.py").write_text("reps = 3\n")

    monkeypatch.delenv("SPARK_GRAFT_BENCH_COLDCACHE", raising=False)
    assert bench_ab.coldcache_mode(str(old)) == "0"
    # an old bench.py without the cold-cache mode cannot match a cold side
    monkeypatch.setenv("SPARK_GRAFT_BENCH_COLDCACHE", "1")
    with pytest.raises(SystemExit, match="no cold-cache mode"):
        bench_ab.coldcache_mode(str(old))
    (old / "bench.py").write_text(
        'cold = os.environ.get("SPARK_GRAFT_BENCH_COLDCACHE", "1")\n'
    )
    assert bench_ab.coldcache_mode(str(old)) == "1"


def test_bench_ab_screens_both_sides_on_kept_pass_steal(monkeypatch):
    """Both A/B sides are screened by one rule: the worst KEPT rep pass
    (host.steal_cps_reps) when the revision's bench.py emits it, else
    the harness average — never host.steal_cps, which still counts
    passes bench.py discarded. The metric used is recorded per run."""
    import json
    from types import SimpleNamespace

    bench_ab = _load_bench_ab()
    payload = {}
    clock = iter([100.0, 110.0] * 3)  # each run spans 10 s
    steal = iter([50.0, 58.0] * 3)  # 8 s of steal per run: 0.8 vCPUs

    def fake_run(cmd, **kw):
        line = json.dumps({"value": 30.0, "queries": {}, **payload})
        return SimpleNamespace(returncode=0, stdout=line + "\n", stderr="")

    monkeypatch.setattr(bench_ab, "calib_spin", lambda: bench_ab.REF_CALIB)
    monkeypatch.setattr(bench_ab, "read_steal_sec", lambda: next(steal))
    monkeypatch.setattr(bench_ab, "time", SimpleNamespace(time=lambda: next(clock)))
    monkeypatch.setattr(bench_ab, "subprocess", SimpleNamespace(run=fake_run))

    # a revision with the per-pass stamps: its worst kept pass screens
    payload["host"] = {"steal_cps": 0.9, "steal_cps_reps": [0.1, None, 0.3]}
    new = bench_ab.run_bench("tree", "0")
    assert new["harness_steal_cps"] == 0.8
    assert (new["effective_steal_cps"], new["steal_metric"]) == (
        0.3, "host.steal_cps_reps_max"
    )
    assert new["effective_steal_cps"] <= bench_ab.STEAL_DISCARD_CPS

    # a revision without them (or with no readable pass): the harness
    # average screens
    for host in ({"steal_cps": 0.9}, {"steal_cps_reps": [None]}):
        payload["host"] = host
        old = bench_ab.run_bench("tree", "0")
        assert (old["effective_steal_cps"], old["steal_metric"]) == (
            0.8, "harness_steal_cps"
        )
