"""Self-tests of the benchmark: the percentile rule, the metric-name
character set, the result-line schema, the folding of steps into ops,
the steal adjustment, and a one-second smoke run of each
workload (``-k "not smoke"`` skips the Spark runs).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


@pytest.mark.parametrize("n,pct", [(1, 90.0), (19, 90.0), (100, 90.0), (199, 90.0),
                                   (200, 95.0), (1000, 99.0), (10_000, 99.9)])
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct
    if pct > 90.0:
        assert round(n * (100 - pct) / 100) >= 10


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 50) == 2.5
    summary = stats.latency_summary(list(range(1, 12)))
    assert summary["p50"] == 6 and summary["samples"] == 11 and summary["tail_pct"] == 90.0


def test_metric_names_and_units():
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in SPEC[key]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    assert all(stats.NAME_RE.match(n) for n in names)
    assert all(stats.UNIT_RE.match(m["unit"]) for key in ("end_to_end", "per_layer") for m in SPEC[key])
    assert not stats.NAME_RE.match("bad name") and not stats.NAME_RE.match("_x")
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    assert setup[0]["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_result_line_schema():
    line = stats.result_line(True, 3, 0, {"latency_p50_s": {"value": 1.25, "unit": "s"}})
    out = json.loads(line)
    assert tuple(out) == stats.RESULT_KEYS
    with pytest.raises(ValueError):
        stats.result_line(True, 0, 0, {})
    with pytest.raises(ValueError):
        stats.result_line(True, 1, 0, {"x": {"value": "1", "unit": "s"}})
    with pytest.raises(ValueError):
        stats.result_line(True, 1, 0, {"x": {"value": 1.0, "unit": "s", "n": 3}})


def test_group_steps_folds_a_batch_into_one_op():
    import run

    steps = [run.OpRecord(i, f"s{i}", latency=float(i), rows=10, wall=2.0 * i,
                          spark={"jobs": 2.0, "first_job_s": 0.1 * i}) for i in range(1, 5)]
    ops = run.group_steps(steps, wrong={3}, steps_per_op=2)
    assert [(o.latency, o.wall, o.rows, o.ok) for o in ops] == [(3.0, 6.0, 20, True), (7.0, 14.0, 20, False)]
    assert ops[1].spark == {"jobs": 4.0, "first_job_s": 0.1 * 3}
    single = run.group_steps([run.OpRecord(1, "a", ok=True)], wrong={1}, steps_per_op=1)
    assert len(single) == 1 and not single[0].ok


def test_granted_share_of_wanted_cpu():
    import run

    assert run.granted((100, 10), (180, 30)) == 0.8  # 80 busy ticks, 20 stolen
    assert run.granted((5, 5), (5, 5)) == 1.0  # an idle interval
    busy, stolen = run.cpu_split()
    assert busy > 0 and stolen >= 0


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run(workload):
    res = _run(workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_traced_run(workload):
    res = _run(workload, 1)
    assert res["correct"]
    assert set(res["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
