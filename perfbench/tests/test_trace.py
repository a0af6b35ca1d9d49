"""Span arithmetic and the metric names the benchmark reports."""

import json
import os

import pytest

from perfbench import run
from perfbench.trace import Span, covered, summarize, valid_name

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_covered_is_the_clipped_union():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5)], 0, 10) == 4          # overlap counted once
    assert covered([(1, 2), (4, 6)], 0, 10) == 3          # gap not counted
    assert covered([(-5, 2), (8, 20)], 0, 10) == 4        # clipped to [0, 10]
    assert covered([(1, 9), (2, 3)], 0, 10) == 8          # nested


def test_self_time_is_duration_minus_child_coverage():
    parent = Span("p", 0, start=0.0, end=10.0)
    parent.children = [Span("a", 0, 1.0, 4.0), Span("b", 0, 3.0, 6.0),
                       Span("c", 0, 9.0, 12.0)]
    assert parent.self_s == pytest.approx(10 - 5 - 1)
    # the span's own jobs ran 1 s of its self time
    parent.job_intervals = [(0.0, 0.5), (7.0, 7.5)]
    assert parent.driver_s == pytest.approx(4 - 1)


def test_summary_is_per_iteration():
    spans = []
    for it in (1, 3):
        for _ in range(2):                    # twice per iteration
            s = Span("x", it, 0.0, 1.0)
            s.add(jobs=3)
            spans.append(s)
    b = Span("build", None, 0.0, 5.0)
    spans.append(b)
    got = summarize(spans)
    assert got["x"]["self_s"] == pytest.approx(2.0)
    assert got["x"]["jobs"] == pytest.approx(6)
    assert got["build"]["self_s"] == pytest.approx(5.0)


def test_metric_names_are_valid_and_unique():
    names = list(run.END_TO_END) + list(run.per_layer_units())
    assert len(names) == len(set(names))
    bad = [n for n in names if not valid_name(n)]
    assert not bad
    assert not valid_name("a b") and not valid_name(".x") and not valid_name("x" * 65)


def test_benchmark_json_matches_the_program():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.per_layer_units()
    assert 1 <= len(layer) <= 128
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
