"""Spark-free checks of the benchmark's own math.

    python3 -m pytest perfbench/tests -q
"""

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402
from tracing import span_stage_metrics  # noqa: E402


def test_median_odd_even():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_quartiles_match_statistics_quantiles():
    xs = [9.0, 1.0, 4.0, 7.0, 3.0, 8.0, 2.0, 6.0, 5.0, 10.0]
    assert stats.quartiles(xs) == tuple(statistics.quantiles(xs, n=4))
    assert stats.quartiles([5.0]) == (5.0, 5.0, 5.0)


def test_relative_spread():
    xs = [10.0] * 10
    assert stats.relative_spread(xs) == 0.0
    xs = [9.0, 10.0, 10.0, 11.0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert stats.relative_spread(xs) == pytest.approx((q3 - q1) / 10.0)


@pytest.mark.parametrize(
    "n, want",
    [(1, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0),
     (999, 90.0), (1000, 99.0), (10000, 99.9)],
)
def test_supported_percentile_needs_ten_beyond(n, want):
    assert stats.supported_percentile(n) == want


def test_percentile_nearest_rank_and_tail_summary():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 100) == 100
    t = stats.tail_summary([float(x) for x in xs])
    assert (t["n"], t["percentile"], t["value"]) == (100, 90.0, 90.0)
    t = stats.tail_summary([3.0, 1.0])
    assert t["percentile"] is None and t["value"] is None and t["median"] == 2.0


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),   # overlaps span 1: union 1..6
        _span(3, 0, 8.0, 12.0),  # runs past the parent: clipped to 8..10
        _span(4, 1, 1.5, 2.5),   # grandchild: only counts against span 1
    ]
    got = stats.self_times(spans)
    assert got[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert got[1] == pytest.approx(3.0 - 1.0)
    assert got[2] == pytest.approx(3.0)
    assert got[4] == pytest.approx(1.0)


def test_failed_ratio_accounting():
    led = stats.Ledger()
    with pytest.raises(ValueError):
        led.failed_ratio
    for ok in (True, True, False, True):
        led.record("op", ok, "differs")
    assert (led.attempted, led.failed) == (4, 1)
    assert led.failed_ratio == 0.25
    assert led.failures == ["op: differs"]


def test_stage_metrics_per_group():
    def task(group, stage, dur, shuffle=0, spill=0, gc=0.0):
        return {"group": group, "stage": stage, "dur": dur,
                "shuffle_bytes": shuffle, "spill_bytes": spill, "gc_s": gc}

    tasks = [
        task("g", (1, 0), 1.0, shuffle=10),
        task("g", (1, 0), 1.0, shuffle=10),
        task("g", (1, 0), 4.0, spill=5, gc=0.5),
        task("g", (2, 0), 9.0),
        task(None, (3, 0), 1.0),
    ]
    got = span_stage_metrics(tasks)
    assert set(got) == {"g"}
    g = got["g"]
    assert (g["shuffle_bytes"], g["spill_bytes"], g["tasks"]) == (20, 5, 4)
    assert g["gc_s"] == pytest.approx(0.5)
    # widest stage is stage 1 (three tasks): max 4.0 over median 1.0
    assert g["task_skew"] == pytest.approx(4.0)
