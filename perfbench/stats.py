"""Summary statistics and result-line helpers (no Spark imports)."""

from __future__ import annotations

import json
import math
import re
import statistics

# percentiles the tail metric may report, lowest first
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
RESULT_KEYS = ("correct", "attempted", "failed", "metrics")


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (p in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float:
    """The highest ladder percentile with at least ten samples beyond it,
    but never below the 90th: a short run (fewer than 100 samples) reports
    the interpolated 90th percentile, with fewer than ten samples beyond
    it, rather than a tail that is the median."""
    best = 90.0
    for p in TAIL_LADDER:
        if p > best and round(n * (100.0 - p) / 100.0, 6) >= 10:
            best = p
    return best


def latency_summary(latencies: list[float]) -> dict:
    p = tail_percentile(len(latencies))
    return {
        "p50": statistics.median(latencies),
        "tail": percentile(latencies, p),
        "tail_pct": p,
        "samples": len(latencies),
    }


def check_metrics(metrics: dict) -> list[str]:
    """Errors in a {name: {"value", "unit"}} metrics map."""
    errs = []
    for name, m in metrics.items():
        if not NAME_RE.match(name):
            errs.append(f"bad metric name {name!r}")
        if set(m) != {"value", "unit"}:
            errs.append(f"{name}: keys {sorted(m)}")
            continue
        if not UNIT_RE.match(str(m["unit"])):
            errs.append(f"{name}: bad unit {m['unit']!r}")
        v = m["value"]
        if isinstance(v, bool) or not isinstance(v, (int, float)) or not math.isfinite(v):
            errs.append(f"{name}: value {v!r} is not a finite number")
    return errs


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    out = {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed), "metrics": metrics}
    errs = check_metrics(metrics)
    if errs or attempted < 1:
        raise ValueError("; ".join(errs) or "no op attempted")
    return json.dumps(out)
