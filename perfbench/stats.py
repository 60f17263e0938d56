"""Small statistics used by the benchmark: medians, quartile spread,
geometric mean and the tail-percentile rule."""

from __future__ import annotations

import math
import statistics

#: percentiles a tail may be reported at, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
#: a tail is reported only with at least this many samples beyond it
TAIL_MIN_BEYOND = 10


def median(xs) -> float:
    return float(statistics.median(xs))


def quartiles(xs) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(xs, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(list(xs), n=4)
    return q1, q2, q3


def spread(xs) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(xs, ladder=TAIL_LADDER, min_beyond: int = TAIL_MIN_BEYOND):
    """The highest percentile of ``ladder`` that has at least
    ``min_beyond`` samples strictly beyond its nearest-rank position, as
    ``(percentile, value, samples_beyond)``; None when the sample is too
    small for any of them."""
    s = sorted(xs)
    n = len(s)
    for p in ladder:
        rank = math.ceil(p / 100.0 * n)  # nearest-rank, 1-based
        if rank >= 1 and n - rank >= min_beyond:
            return p, float(s[rank - 1]), n - rank
    return None
