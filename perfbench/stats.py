"""Small statistics the benchmark decides with: when the JVM has warmed
up, whether timed passes still trend, and how much a set of runs
spreads."""

from __future__ import annotations

import statistics

# A warm pass counts as levelled off when it costs at most this much
# less CPU than the pass before it. While the JIT is still at work,
# each pass is 9-14% cheaper than the one before; on the plateau
# consecutive passes differ by 1-3% either way.
PLATEAU_TOLERANCE = 0.05


def levelled_off(cpu_s: list[float]) -> bool:
    """Whether the last of the warm passes so far is past warm-up: it
    cost no less CPU than the pass before it, less
    ``PLATEAU_TOLERANCE``.

    The first warm pass never qualifies, because the cold pass before
    it ran another action and is not comparable."""
    if len(cpu_s) < 2:
        return False
    return cpu_s[-1] >= cpu_s[-2] * (1 - PLATEAU_TOLERANCE)


def relative_slope(values: list[float]) -> float:
    """Theil-Sen slope of ``values`` against their index, as a share of
    their median per step: -0.05 means 5% less per pass. A median of
    pairwise slopes, so one outlying pass does not make a trend."""
    n = len(values)
    if n < 2:
        return 0.0
    slopes = [
        (values[j] - values[i]) / (j - i) for i in range(n) for j in range(i + 1, n)
    ]
    mid = statistics.median(values)
    return statistics.median(slopes) / mid if mid else 0.0


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """First quartile, median and third quartile, as
    ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Distance between the quartiles as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2
