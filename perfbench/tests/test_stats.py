"""Tail-percentile choice."""

from __future__ import annotations

import statistics

from perfbench.stats import TAIL_BEYOND, tail


def test_tail_leaves_exactly_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]  # 1..100
    value, pct = tail(values)
    assert value == 90.0
    assert sum(v > value for v in values) == TAIL_BEYOND
    assert pct == 90.0


def test_tail_percentile_rises_with_sample_count():
    pcts = [tail([float(i) for i in range(n)])[1] for n in (20, 40, 200, 1000)]
    assert pcts == [50.0, 75.0, 95.0, 99.0]


def test_tail_is_order_independent():
    values = [5.0, 1.0, 9.0, 3.0] * 10
    assert tail(values) == tail(sorted(values)) == tail(values[::-1])


def test_short_runs_fall_back_to_the_median():
    values = [1.0, 2.0, 3.0, 10.0]
    assert tail(values) == (statistics.median(values), 50.0)
    assert tail([float(i) for i in range(19)])[1] == 50.0
    assert tail([float(i) for i in range(20)]) == (9.0, 50.0)

