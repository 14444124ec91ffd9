"""Tests for the benchmark's reporting and reference code (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

import gen
import reference
import report
import spans

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def test_tail_percentile_needs_ten_samples_beyond():
    assert report.tail_samples_needed(80) == 50
    assert report.tail_samples_needed(90) == 100
    assert report.tail_samples_needed(99) == 1000
    with pytest.raises(ValueError):
        report.percentile(list(range(99)), 90)
    assert report.percentile([float(v) for v in range(100)], 90) == pytest.approx(89.1)
    # the median is not a tail and needs no margin
    assert report.percentile([3.0, 1.0, 2.0], 50) == 2.0


def test_percentile_interpolates_between_ranks():
    xs = [float(v) for v in range(1, 51)]
    assert report.percentile(xs, 80) == pytest.approx(40.2)
    with pytest.raises(ValueError):
        report.percentile([], 50)


def test_fail_ratio():
    assert report.fail_ratio(0, 10) == 0.0
    assert report.fail_ratio(3, 12) == 0.25
    for failed, attempted in ((1, 0), (-1, 5), (6, 5)):
        with pytest.raises(ValueError):
            report.fail_ratio(failed, attempted)


def test_result_line_counts_wrong_outputs():
    line = json.loads(report.result_line(4, 1, {"op_p50_ms": (12.5, "ms")}))
    assert line == {
        "correct": False,
        "attempted": 4,
        "failed": 1,
        "metrics": {"op_p50_ms": {"value": 12.5, "unit": "ms"}},
    }
    with pytest.raises(ValueError):
        report.result_line(0, 0, {})


@pytest.mark.parametrize("name", ["setup_s", "queries.p80_ms", "a-b_c.d", "9lives"])
def test_valid_metric_names(name):
    assert report.validate_name(name) == name


@pytest.mark.parametrize("name", ["", "_x", ".x", "has space", "x" * 65, "ünï"])
def test_invalid_metric_names(name):
    with pytest.raises(ValueError):
        report.validate_name(name)


def test_check_metrics_matches_declared_set():
    spec = [{"name": "a", "unit": "ms"}, {"name": "b", "unit": "s"}]
    report.check_metrics({"a": (1.0, "ms"), "b": (2.0, "s")}, spec)
    bad = [
        {"a": (1.0, "ms")},  # missing
        {"a": (1.0, "ms"), "b": (2.0, "s"), "c": (0.0, "s")},  # extra
        {"a": (1.0, "s"), "b": (2.0, "s")},  # wrong unit
        {"a": (float("nan"), "ms"), "b": (2.0, "s")},  # not finite
    ]
    for metrics in bad:
        with pytest.raises(ValueError):
            report.check_metrics(metrics, spec)


def test_benchmark_json_is_well_formed():
    with open(SPEC) as fh:
        spec = json.load(fh)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in spec["workloads"]]
    metrics = spec["end_to_end"] + spec["per_layer"]
    all_names = names + [m["name"] for m in metrics]
    assert len(all_names) == len(set(all_names))
    for n in all_names:
        report.validate_name(n)
    for m in metrics:
        report.validate_unit(m["unit"])
        assert m["better"] in ("lower", "higher")
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = {m["name"]: m for m in spec["end_to_end"]}["setup_s"]
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_arthur_halve_matches_brute_force():
    rng = np.random.default_rng(0)
    vol = rng.integers(0, 5, size=(4, 6, 8)) * rng.integers(0, 2, size=(4, 6, 8))
    got = reference.arthur_halve(vol)
    for z, y, x in np.ndindex(got.shape):
        parents = sorted(vol[2 * z : 2 * z + 2, 2 * y : 2 * y + 2, 2 * x : 2 * x + 2].ravel())
        want = parents[-2] if parents[-2] != 0 else parents[-1]
        assert got[z, y, x] == want


def test_octree_expectation_counts_empty_blocks():
    vol = np.zeros((8, 8, 8), dtype=np.uint16)
    vol[0, 0, 0] = 7
    vol[7, 7, 7] = 3
    levels = reference.octree_expectation(vol, 3)
    assert [lv["grid_blocks"] for lv in levels] == [64, 8, 1]
    assert [lv["blocks"] for lv in levels] == [2, 2, 1]
    assert levels[0]["sum"] == 10


def test_generators_are_seeded(tmp_path):
    a = gen.volume(5, (8, 16, 16), (2, 4, 4))
    assert np.array_equal(a, gen.volume(5, (8, 16, 16), (2, 4, 4)))
    assert not np.array_equal(a, gen.volume(6, (8, 16, 16), (2, 4, 4)))
    assert 0.3 < (a == 0).mean() < 0.8
    p1 = gen.corpus(3, 200, 50, str(tmp_path / "c1"))
    p2 = gen.corpus(3, 200, 50, str(tmp_path / "c2"))
    assert p1 == p2 and len(p1["exact"]) == 20 and len(p1["near"]) == 20
    for name in ("documents.parquet", "embeddings.parquet"):
        assert (tmp_path / "c1" / name).read_bytes() == (tmp_path / "c2" / name).read_bytes()


def test_stream_schedule_is_seeded_and_in_order():
    due = gen.stream_schedule(4, 16, 2.0)
    assert due == gen.stream_schedule(4, 16, 2.0) != gen.stream_schedule(5, 16, 2.0)
    assert all(a < b for a, b in zip(due, due[1:]))
    for z, d in enumerate(due):
        assert z / 2.0 <= d < (z + 0.1) / 2.0


def test_tiff_bytes_layout():
    page = np.arange(12, dtype=np.uint16).reshape(3, 4)
    data = gen.tiff_bytes(page)
    assert data[:4] == b"II*\x00"
    assert np.array_equal(np.frombuffer(data[-24:], dtype="<u2").reshape(3, 4), page)


def test_proc_collectors_see_this_process():
    before = spans.tree_cpu_s()
    sum(range(5_000_000))
    assert spans.tree_cpu_s() > before
    assert spans.peak_rss_mb() > 0
    assert spans.process_tree()[0] == os.getpid()
