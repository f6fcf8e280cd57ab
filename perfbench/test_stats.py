"""Self-test of the benchmark's statistics and record shape.

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import json
import math
import statistics
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import stats  # noqa: E402
from spread import ab_verdict, summarize  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent


def test_tail_percentile_keeps_ten_samples_beyond():
    vals = list(range(1, 101))  # 1..100
    pct, v, n = stats.tail_percentile(vals)
    assert (pct, v, n) == (90.0, 90.0, 100)
    assert sum(x > v for x in vals) == 10


def test_tail_percentile_small_and_unsorted():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0, 12.0]
    pct, v, n = stats.tail_percentile(vals)
    assert n == 12 and v == 2.0 and pct == pytest.approx(100 * 2 / 12)
    assert sum(x > v for x in vals) == 10
    assert stats.tail_percentile([3.0, 1.0, 2.0]) == (100.0, 3.0, 3)
    with pytest.raises(ValueError):
        stats.tail_percentile([])


def test_median_and_quartiles_match_statistics_module():
    vals = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
    q1, q2, q3 = stats.quartiles(vals)
    assert [q1, q2, q3] == statistics.quantiles(vals, n=4)
    assert stats.median(vals) == statistics.median(vals) == q2
    assert stats.iqr_share(vals) == pytest.approx((q3 - q1) / q2)
    assert stats.quartiles([2.0]) == (2.0, 2.0, 2.0)


def test_bounds():
    assert stats.worse_by(10.0, 11.0, "lower") == pytest.approx(0.1)
    assert stats.worse_by(10.0, 11.0, "higher") == pytest.approx(-0.1)
    assert stats.worse_by(10.0, 12.0, "lower") <= 0.25
    assert stats.worse_by(10.0, 13.0, "lower") > 0.25
    assert stats.worse_by(100.0, 70.0, "higher") > 0.25
    assert stats.worse_by(0.0, 1.0, "lower") == math.inf
    with pytest.raises(ValueError):
        stats.worse_by(1.0, 1.0, "faster")


def test_metric_records_are_unit_tagged():
    assert stats.metric(1.5, "s") == {"value": 1.5, "unit": "s"}
    assert stats.metric(3, "q/min")["value"] == 3.0
    for bad in ("", "seconds per query", "s!"):
        with pytest.raises(ValueError):
            stats.metric(1.0, bad)
    with pytest.raises(ValueError):
        stats.metric(float("nan"), "s")


def test_names():
    stats.check_names(["setup_s", "q.sessionize.latency_s", "spark.jobs"])
    for bad in (["_x"], ["a b"], ["x" * 65], ["a", "a"]):
        with pytest.raises(ValueError):
            stats.check_names(bad)


def test_summarize_spread_against_bounds():
    runs = [{"latency_ms": v} for v in (10.0, 10.2, 9.8, 10.1, 9.9)]
    row = summarize(runs, [{"name": "latency_ms", "better": "lower", "bound": 0.1}])[0]
    assert row["median"] == 10.0 and row["ok"] and not row["exact"]
    assert summarize([{"jobs": 3.0}] * 2, [{"name": "jobs", "better": "lower"}])[0]["exact"]
    wide = [{"latency_ms": v} for v in (5.0, 10.0, 15.0, 20.0)]
    assert not summarize(wide, [{"name": "latency_ms", "better": "lower", "bound": 0.1}])[0]["ok"]



def test_ab_verdict():
    base = [10.0, 10.1, 9.9, 10.2, 9.8]
    # a steady 5% slowdown is inside a 0.1 bound; the change wins no pair
    v = ab_verdict(base, [b * 1.05 for b in base], 0.1, "lower")
    assert v["verdict"] == "ok" and v["wins"] == 0 and v["pairs"] == 5
    assert v["worse"] == pytest.approx(0.05)
    v = ab_verdict(base, [b * 1.3 for b in base], 0.1, "lower")
    assert v["verdict"] == "worse"
    # higher is better: a 30% throughput gain wins every pair
    v = ab_verdict(base, [b * 1.3 for b in base], 0.1, "higher")
    assert v["verdict"] == "ok" and v["wins"] == 5 and v["worse"] < 0
    # a side whose own spread exceeds the bound cannot be judged ...
    noisy = [6.0, 14.0, 9.0, 12.0, 8.0]
    assert ab_verdict(base, noisy, 0.1, "lower")["verdict"] == "unresolved"
    assert ab_verdict(noisy, base, 0.1, "lower")["verdict"] == "unresolved"
    # ... unless every run of one side beats every run of the other
    far = [20.0, 30.0, 25.0, 40.0, 22.0]
    assert ab_verdict(base, far, 0.1, "lower")["verdict"] == "worse"


def test_benchmark_json_matches_the_run_module():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    import run
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert {n: m["unit"] for n, m in e2e.items()} == run.E2E_UNITS
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert layer == run.LAYER_UNITS
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"] + spec["workloads"]]
    stats.check_names(names)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert stats.UNIT_RE.match(m["unit"]) and m["better"] in ("lower", "higher")
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
