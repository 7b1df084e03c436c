"""Spark-free tests of the benchmark's helpers.

Run from the root of a checkout::

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import spec  # noqa: E402
from stats import (OpenLoop, Tally, latency_summary, percentile, self_times,  # noqa: E402
                   steal_frac, tail_percentile)


# -- tail percentile: highest percentile with >= 10 samples beyond it ------
@pytest.mark.parametrize("n, expected", [(20, 50.0), (40, 75.0), (100, 90.0), (1000, 99.0),
                                         (100_000, 99.0)])
def test_tail_percentile_leaves_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == pytest.approx(expected)
    assert n * (1 - tail_percentile(n) / 100) >= 10 - 1e-9


def test_tail_percentile_undefined_below_twenty_samples():
    assert tail_percentile(19) is None
    summ = latency_summary([5.0, 1.0, 3.0])
    assert summ["tail"] == 5.0 and summ["tail_pct"] == 100.0 and summ["n"] == 3


def test_latency_summary_of_uniform_samples():
    values = list(range(1, 101))  # 100 samples: tail is p90
    summ = latency_summary(values)
    assert summ["p50"] == pytest.approx(50.5)
    assert summ["tail_pct"] == 90.0
    assert summ["tail"] == pytest.approx(percentile(values, 90))
    assert sum(v > summ["tail"] for v in values) == 10


def test_percentile_matches_linear_interpolation():
    assert percentile([1, 2, 3, 4], 50) == 2.5
    assert percentile([7], 99) == 7
    with pytest.raises(ValueError):
        percentile([], 50)


# -- open-loop lateness accounting ----------------------------------------
def test_open_loop_schedule_does_not_slow_with_the_system():
    loop = OpenLoop(t0=100.0, rate=10.0, n=50)
    assert loop.due_count(99.0) == 0
    assert loop.due_count(100.0) == 1
    assert loop.due_count(100.35) == 4      # items 0..3 due
    assert loop.due_count(1e9) == 50        # capped at n


def test_open_loop_lateness_and_commit_latency_count_from_due_time():
    loop = OpenLoop(t0=0.0, rate=100.0, n=1000)
    loop.record_send(0, 0.0)                # on time
    loop.record_send(200, 2.5)              # due at 2.0: a 0.5 s stall
    loop.record_send(300, 3.0)              # caught up
    assert loop.max_lag == pytest.approx(0.5)
    # items 100..199 (due 1.00..1.99) become durable at 3.0
    lat = loop.commit_latencies(100, 199, 3.0)
    assert len(lat) == 100
    assert lat[0] == pytest.approx(2.0) and lat[-1] == pytest.approx(1.01)


# -- span self time --------------------------------------------------------
def _span(sid, start, end, parent=None):
    return {"id": sid, "name": f"s{sid}", "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 6.0, parent=0),       # overlaps span 1: union is 1..6
        _span(3, 8.0, 12.0, parent=0),      # runs past the parent: clipped to 8..10
        _span(4, 1.5, 2.0, parent=1),       # grandchild: only its parent pays for it
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert own[1] == pytest.approx(3.0 - 0.5)
    assert own[2] == pytest.approx(3.0)
    assert own[4] == pytest.approx(0.5)


def test_self_time_of_leaf_is_its_duration():
    assert self_times([_span(0, 2.0, 2.25)]) == {0: pytest.approx(0.25)}


# -- failed_frac counting --------------------------------------------------
def test_tally_counts_wrong_results_as_failures():
    t = Tally()
    t.ok(3)
    assert t.check(True, "fine")
    assert not t.check(False, "Q1 count 9 != 10")
    assert (t.attempted, t.failed) == (5, 1)
    assert t.failed_frac == pytest.approx(0.2)
    assert t.reasons == ["Q1 count 9 != 10"]
    assert Tally().failed_frac == 0.0


# -- host context ---------------------------------------------------------
def test_steal_frac_is_the_stolen_share_between_readings():
    assert steal_frac((10, 1_000), (30, 1_200)) == pytest.approx(0.1)
    assert steal_frac((10, 1_000), (10, 1_000)) == 0.0


# -- inputs come from the seed alone ----------------------------------------
def test_same_seed_same_inputs():
    a, b = datagen.catalog_tables(7, 0.05), datagen.catalog_tables(7, 0.05)
    assert all(a[t].equals(b[t]) for t in a)
    assert datagen.limits_rows(7, 100) == datagen.limits_rows(7, 100)
    assert datagen.limits_rows(8, 100) != datagen.limits_rows(7, 100)


def test_limits_rows_carry_their_sequence_number():
    rows = datagen.limits_rows(1, 50)
    assert [int(r[3]) for r in rows] == list(range(50))


# -- BENCHMARK.json agrees with the metric spec ------------------------------
def test_benchmark_json_matches_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(spec.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == spec.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == spec.PER_LAYER
