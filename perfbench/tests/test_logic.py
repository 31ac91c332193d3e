"""Tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench/tests/test_logic.py -q
"""

from __future__ import annotations

import itertools
import json
import os
import re
from datetime import date

from perfbench import run
from perfbench.stats import interval_union_ms, op_tail, self_time_ms, tail_percentile
from perfbench.workloads import EltMonthly, query_rounds, start_month

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_tail_percentile_keeps_ten_samples_beyond():
    pct, value = tail_percentile([float(i) for i in range(1, 101)])
    assert (pct, value) == (90, 90.0)
    assert sum(1 for i in range(1, 101) if i > value) == 10


def test_tail_percentile_walks_down_through_ties():
    values = [1.0] * 80 + [5.0] * 15 + [9.0] * 5  # rank 90 ties with rank 91
    pct, value = tail_percentile(values)
    assert value == 1.0 and pct == 80
    assert sum(1 for v in values if v > value) >= 10


def test_tail_percentile_needs_a_percentile_above_the_median():
    assert tail_percentile([3.0, 1.0, 2.0]) is None
    # 18 samples: rank 8 would be below the median, which is no tail
    assert tail_percentile([float(i) for i in range(18)]) is None
    # 20 samples: exactly the median has ten beyond it
    assert tail_percentile([float(i) for i in range(20)]) == (50, 9.0)


def test_op_tail_uses_the_percentile_when_there_is_one():
    samples = [("q", float(i)) for i in range(1, 101)]
    assert op_tail(samples) == ("p90", 90.0)


def test_op_tail_of_few_samples_is_the_slowest_ops_median():
    # one outlier of "a" does not make the tail; "b" is slower typically
    samples = [("a", 3.0), ("a", 9.0), ("a", 3.2), ("b", 4.0), ("b", 4.4), ("b", 4.1)]
    assert op_tail(samples) == ("slowest-op median", 4.1)
    # ops that never repeat are their own medians: the maximum
    assert op_tail([("m1", 7.5), ("m2", 7.1)]) == ("slowest-op median", 7.5)


def test_self_time_counts_overlapping_children_once():
    # parallel jobs [10, 30) and [20, 50) overlap; [80, 120) sticks out
    children = [(10, 30), (20, 50), (80, 120)]
    assert interval_union_ms(children) == 80
    assert self_time_ms(0, 100, children) == 100 - 40 - 20


def test_self_time_without_children_is_the_duration():
    assert self_time_ms(5, 25, []) == 20


def test_same_seed_same_query_order():
    names = ["a", "b", "c", "d", "e"]
    first = list(itertools.islice(query_rounds(names, 7), 3))
    again = list(itertools.islice(query_rounds(names, 7), 3))
    other = list(itertools.islice(query_rounds(names, 8), 3))
    assert first == again
    assert first != other
    assert all(sorted(r) == names for r in first)


def test_same_seed_same_months():
    assert start_month(3) == start_month(3)
    assert len({start_month(s) for s in range(10)}) > 1
    first, end = EltMonthly.month_span(date(2019, 11, 1), 1)
    assert (first, end) == (date(2019, 12, 1), date(2020, 1, 1))


def test_metric_names_and_counts_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = [m["name"] for m in bench["end_to_end"]]
    layer = [m["name"] for m in bench["per_layer"]]
    assert len(e2e) <= 16 and len(layer) <= 128
    assert len(set(e2e + layer)) == len(e2e) + len(layer)
    for name in e2e + layer:
        assert METRIC_NAME.match(name), name
    assert e2e == list(run.END_TO_END_UNITS)
    assert layer == list(run.LAYER_UNITS)
    for m in bench["end_to_end"] + bench["per_layer"]:
        units = run.END_TO_END_UNITS if m in bench["end_to_end"] else run.LAYER_UNITS
        assert m["unit"] == units[m["name"]]
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
