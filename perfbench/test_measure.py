"""Tests for the benchmark's own arithmetic.

    python3 -m pytest perfbench/test_measure.py -q
"""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from measure import (  # noqa: E402
    Span,
    driver_gap,
    failed_frac,
    interval_union,
    self_times,
    tail_percentile,
    wall_sum_of_medians,
    wall_sum_of_mins,
)


def test_interval_union_merges_overlaps_and_keeps_gaps():
    assert interval_union([]) == 0.0
    assert interval_union([(0, 2), (1, 3)]) == 3
    assert interval_union([(5, 6), (0, 1), (0.5, 2)]) == 3
    # touching intervals join; nested ones add nothing
    assert interval_union([(0, 1), (1, 2), (0.2, 0.4)]) == 2
    # empty and inverted intervals are ignored
    assert interval_union([(3, 3), (4, 2), (0, 1)]) == 1


def test_driver_gap_is_wall_minus_job_union_clipped_to_query():
    # query 10..20; jobs cover 11..13 and 12..15 (union 4) and one job
    # straddles the end (19..25 -> 1 inside)
    assert driver_gap((10, 20), [(11, 13), (12, 15), (19, 25)]) == pytest.approx(5)
    assert driver_gap((0, 4), []) == 4
    assert driver_gap((0, 4), [(-1, 5)]) == 0
    # a job entirely outside the query does not count
    assert driver_gap((0, 4), [(6, 7)]) == 4


def test_self_time_subtracts_union_of_direct_children_only():
    spans = [
        Span(1, None, "query", 0.0, 10.0),
        Span(2, 1, "plans.build", 1.0, 6.0),
        Span(3, 2, "cache.supersede", 2.0, 5.0),
        Span(4, 1, "operators.write", 5.0, 9.0),  # overlaps span 2 by 1s
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 8)  # children cover 1..9
    assert st[2] == pytest.approx(5 - 3)
    assert st[3] == pytest.approx(3)
    assert st[4] == pytest.approx(4)


def test_tail_percentile_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    value, pct = tail_percentile(xs)
    assert value == 90.0 and pct == 90.0
    assert sum(1 for x in xs if x > value) == 10
    value, pct = tail_percentile(list(reversed(xs[:40])))
    assert (value, pct) == (30.0, 75.0)
    # too few samples for ten beyond: falls back to the minimum
    assert tail_percentile([3.0, 1.0, 2.0]) == (1.0, pytest.approx(100 / 3))
    with pytest.raises(ValueError):
        tail_percentile([])


def test_failed_frac_counts_false_outcomes():
    assert failed_frac([True, True, False, True]) == (4, 1, 0.25)
    assert failed_frac([True] * 7) == (7, 0, 0.0)
    attempted, failed, frac = failed_frac([])
    assert (attempted, failed) == (0, 0) and math.isnan(frac)


def test_wall_is_sum_of_per_query_medians():
    assert wall_sum_of_medians({"a": [1.0, 3.0, 2.0], "b": [10.0], "c": []}) == 12.0



def test_wall_sum_of_mins_takes_each_querys_fastest_sample():
    assert wall_sum_of_mins({"a": [1.5, 1.0, 2.0], "b": [10.0, 9.0], "c": []}) == 10.0
