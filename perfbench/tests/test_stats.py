"""The tail-percentile rule and the spread statistics."""

import math

import pytest

from perfbench import stats


def test_tail_needs_ten_samples_beyond():
    # 19 samples: p75 has rank 15 and only 4 beyond it -> no tail
    assert stats.tail(range(1, 20)) is None
    # 39 samples: p75 rank 30, 9 beyond -> still no tail
    assert stats.tail(range(1, 40)) is None


def test_tail_picks_highest_percentile_with_ten_beyond():
    # 40 samples: p75 (rank 30) has exactly 10 beyond; p90 (rank 36) has 4
    assert stats.tail(range(1, 41)) == (75.0, 30.0, 10)
    # 100 samples: p90 rank 90 has 10 beyond; p95 rank 95 has 5
    assert stats.tail(range(1, 101)) == (90.0, 90.0, 10)
    # 1000 samples: p99 rank 990 has 10 beyond; p99.9 rank 999 has 1
    assert stats.tail(range(1, 1001)) == (99.0, 990.0, 10)


def test_tail_is_order_independent():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 8
    assert stats.tail(xs) == stats.tail(sorted(xs))


def test_spread_and_median():
    xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    q1, q2, q3 = stats.quartiles(xs)
    assert (q1, q2, q3) == (2.75, 5.5, 8.25)
    assert stats.spread(xs) == pytest.approx((8.25 - 2.75) / 5.5)
    assert stats.median(xs) == 5.5


def test_geomean():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([0.5]) == pytest.approx(0.5)
    assert math.isfinite(stats.geomean([1e-3, 1e3]))
