"""Tests for the benchmark's statistics: python -m pytest perfbench/test_bench_stats.py"""

import math
import statistics

import pytest

from stats import (
    failed_share,
    percentile,
    quartiles,
    ratio,
    spread,
    worse_by,
)


def test_percentile_interpolates_between_ranks():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 75) == pytest.approx(3.25)


def test_percentile_single_value_and_bad_input():
    assert percentile([7.0], 75) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_quartiles_match_statistics_module():
    xs = [3.1, 2.9, 3.0, 3.3, 2.8, 3.05, 3.2, 2.95, 3.15, 3.0]
    assert quartiles(xs) == tuple(statistics.quantiles(xs, n=4))
    assert quartiles([5.0]) == (5.0, 5.0, 5.0)


def test_spread_is_iqr_over_median():
    xs = [9.0, 10.0, 10.0, 11.0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert spread(xs) == pytest.approx((q3 - q1) / med)
    assert spread([2.0, 2.0, 2.0]) == 0.0


def test_ratio_edge_cases():
    assert ratio(1, 4) == 0.25
    assert ratio(0, 0) == 0.0
    assert ratio(3, 0) == math.inf


def test_failed_share():
    assert failed_share(0, 26) == 0.0
    assert failed_share(1, 4) == 0.25
    with pytest.raises(ValueError):
        failed_share(0, 0)
    with pytest.raises(ValueError):
        failed_share(5, 4)


def test_worse_by_respects_direction():
    assert worse_by(10.0, 11.0, "lower") == pytest.approx(0.1)
    assert worse_by(10.0, 9.0, "lower") == pytest.approx(-0.1)
    assert worse_by(10.0, 9.0, "higher") == pytest.approx(0.1)
    with pytest.raises(ValueError):
        worse_by(1.0, 1.0, "sideways")
