"""The benchmark's own tests: pure Python, no Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

import pandas as pd
import pytest

import inputs
import oracle
from cpu import tree_cpu_s
from names import END_TO_END, per_layer_metrics
from stats import (
    Tally,
    median,
    percentile,
    quartiles,
    resolved_percentile,
    samples_beyond,
    spread,
    valid_name,
)

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def test_median_and_quartiles_match_statistics():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0]
    assert median(xs) == 3.5
    assert quartiles(xs) == tuple(statistics.quantiles(xs, n=4))
    q1, q2, q3 = quartiles(xs)
    assert spread(xs) == pytest.approx((q3 - q1) / q2)
    with pytest.raises(ValueError):
        median([])


def test_percentile_interpolates_and_bounds():
    xs = list(range(1, 101))  # 1..100
    assert percentile(xs, 0) == 1
    assert percentile(xs, 100) == 100
    assert percentile(xs, 50) == 50.5
    assert percentile(xs, 95) == pytest.approx(95.05)
    with pytest.raises(ValueError):
        percentile(xs, 101)


def test_tail_percentile_needs_ten_samples_beyond():
    assert samples_beyond(200, 95) >= 10
    assert samples_beyond(100, 95) < 10
    xs = [float(i) for i in range(200)]
    assert resolved_percentile(xs, 95) == percentile(xs, 95)
    assert len([x for x in xs if x > resolved_percentile(xs, 95)]) >= 10
    with pytest.raises(ValueError):
        resolved_percentile(xs[:100], 95)
    # the benchmark's medians rest on at least 20 samples (MIN_REQUESTS)
    assert resolved_percentile(xs[:20], 50) == 9.5
    with pytest.raises(ValueError):
        resolved_percentile(xs[:19], 50)


def test_tally_counts_failed_checks_against_attempts():
    t = Tally()
    assert t.error_rate == 0.0
    assert t.record(True, "ok")
    assert not t.record(False, "wrong count")
    t.record(True, "ok")
    t.record(False, "HTTP 500")
    assert (t.attempted, t.failed) == (4, 2)
    assert t.error_rate == 0.5
    assert t.failures == ["wrong count", "HTTP 500"]


def test_arrival_groups_are_a_seeded_partition():
    g = inputs.arrival_groups(7)
    assert g == inputs.arrival_groups(7)
    assert g != inputs.arrival_groups(8)
    assert [len(x) for x in g] == [32] * 2
    assert sorted(b for x in g for b in x) == list(range(64))


def test_request_plan_is_seeded_and_balanced():
    turns = {f"conv-{i}": 60 + i for i in range(40)}
    plan = inputs.request_plan(3, turns, 55)
    assert plan == inputs.request_plan(3, turns, 55)
    assert plan != inputs.request_plan(4, turns, 55)
    assert len(plan) == 55
    n = len(inputs.CLASSES)
    for i in range(0, 50, n):  # every full block holds each class once
        assert sorted(c for c, _, _ in plan[i:i + n]) == sorted(inputs.CLASSES)
    assert len({conv for _, conv, _ in plan}) <= 16
    assert all(0 <= turn < turns[conv] + 2 for _, conv, turn in plan)


def test_events_are_seeded():
    a, b = inputs.make_events(5, 500), inputs.make_events(5, 500)
    pd.testing.assert_frame_equal(a, b)
    assert not a.equals(inputs.make_events(6, 500))
    assert list(a.columns) == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    assert str(a["ts"].dtype) == "datetime64[us]"


def test_query_text_covers_every_class():
    for cls in inputs.CLASSES:
        q = inputs.query_text(cls, "conv-3", 2)
        assert q.strip()
        if cls not in ("sum", "count"):
            assert "conv-3" in q
    with pytest.raises(ValueError):
        inputs.query_text("nope", "conv-3", 2)


def test_expected_converted_counts_by_hand():
    ev = pd.DataFrame({
        "event_id": [0, 3, 4],
        "ts": pd.to_datetime(["2024-01-01", "2024-01-02", "2025-01-01"]),
        "user_id": [1, 1, 2],
        "event_type": ["view", "click", "view"],
    })
    # codes: EUR (event 0 picks EUR), de (event 0), "in" matches every turn
    codes = {"EUR", "de", "in"}
    # turns: 3 x 7, tool kept for event_id mod 7 >= 3 (events 3 and 4);
    # mentions: EUR+de+in, in, in; convs: 2 x 22 + one refYear each
    assert oracle.expected_converted(ev, codes) == 21 + 2 + 5 + 44 + 2
    assert oracle.expected_canonical(100, 2) == 94


def test_answers_normalize_like_responses():
    rows = [{"obs": "a", "tool": None}, {"obs": "b", "tool": "x"}]
    df = pd.DataFrame({"o": ["b", "a"], "v": ["x", float("nan")]})
    assert oracle.normalize("optional", rows) == oracle.rows_of(df, ["o", "v"], ["obs", "tool"])
    assert oracle.matches("sum", oracle.normalize("sum", [{"total": 1.0000000001}]), ("sum", 1.0))
    assert oracle.normalize("ask", {"ask": True}) == {"ask": True}


def test_metric_names_are_valid_and_match_benchmark_json():
    with open(BENCHMARK) as f:
        doc = json.load(f)
    e2e = [m["name"] for m in doc["end_to_end"]]
    layers = [(m["name"], m["unit"], m["better"]) for m in doc["per_layer"]]
    assert e2e == list(END_TO_END)
    assert [m["unit"] for m in doc["end_to_end"]] == list(END_TO_END.values())
    assert layers == per_layer_metrics()
    names = e2e + [n for n, _, _ in layers] + [w["name"] for w in doc["workloads"]]
    assert len(names) == len(set(names))
    assert all(valid_name(n) for n in names), [n for n in names if not valid_name(n)]
    assert "setup_s" in e2e and len(layers) <= 128
    assert max(m["bound"] for m in doc["end_to_end"]) <= 0.25


def test_tree_cpu_counts_children_that_ended():
    before = tree_cpu_s()
    subprocess.run([sys.executable, "-c", "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.3: pass"], check=True)
    assert tree_cpu_s() - before >= 0.25


def test_valid_name_rejects_bad_names():
    assert valid_name("io.write_triples.bytes_mb")
    assert not valid_name("_leading")
    assert not valid_name("has space")
    assert not valid_name("slash/name")
    assert not valid_name("x" * 65)
