"""Result reporting: percentiles, failure ratio, metric validation and
the one-line JSON result the benchmark prints last."""

from __future__ import annotations

import json
import math
import re
import statistics

# A tail percentile is reported only when at least this many samples
# lie beyond it; below that it is one or two outliers, not a tail.
MIN_TAIL_SAMPLES = 10

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def tail_samples_needed(p: float) -> int:
    """Samples a run needs before percentile ``p`` (0-100) has
    MIN_TAIL_SAMPLES beyond it."""
    if not 0 < p < 100:
        raise ValueError(f"percentile must be in (0, 100), got {p}")
    return math.ceil(MIN_TAIL_SAMPLES * 100 / (100 - p) - 1e-9)


def percentile(values: list[float], p: float) -> float:
    """Linearly interpolated percentile ``p`` of ``values``. Refuses a
    tail percentile (p > 50) without MIN_TAIL_SAMPLES beyond it."""
    if not values:
        raise ValueError("percentile of no samples")
    if p > 50 and len(values) < tail_samples_needed(p):
        raise ValueError(
            f"p{p:g} needs {tail_samples_needed(p)} samples, have {len(values)}"
        )
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def fail_ratio(failed: int, attempted: int) -> float:
    if attempted <= 0:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def validate_name(name: str) -> str:
    if not NAME_RE.match(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def validate_unit(unit: str) -> str:
    if not UNIT_RE.match(unit):
        raise ValueError(f"bad metric unit {unit!r}")
    return unit


def check_metrics(metrics: dict[str, tuple[float, str]], spec: list[dict]) -> None:
    """``metrics`` must hold exactly the names in ``spec``, each with
    the declared unit and a finite value."""
    want = {m["name"]: m["unit"] for m in spec}
    missing = sorted(set(want) - set(metrics))
    extra = sorted(set(metrics) - set(want))
    if missing or extra:
        raise ValueError(f"metric set mismatch: missing={missing} extra={extra}")
    for name, (value, unit) in metrics.items():
        validate_name(name)
        validate_unit(unit)
        if unit != want[name]:
            raise ValueError(f"{name}: unit {unit!r}, declared {want[name]!r}")
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            raise ValueError(f"{name}: non-finite value {value!r}")


def result_line(
    attempted: int, failed: int, metrics: dict[str, tuple[float, str]]
) -> str:
    fail_ratio(failed, attempted)  # validates the counts
    return json.dumps(
        {
            "correct": failed == 0,
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                k: {"value": float(v), "unit": u} for k, (v, u) in sorted(metrics.items())
            },
        }
    )
