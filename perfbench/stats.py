"""Summary statistics shared by the benchmark and its tests."""

from __future__ import annotations

import math
import statistics


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def geomean(xs: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least 10 of n samples beyond
    it, never below 50: with too few samples for a tail the tail is the
    median."""
    if n <= 20:
        return 50
    return max(50, 100 * (n - 10) // n)


def percentile(xs: list[float], p: int) -> float:
    """Linear-interpolated percentile (p in 0..100); p=50 is the median."""
    s = sorted(xs)
    if p == 50:
        return statistics.median(s)
    pos = (len(s) - 1) * p / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(xs: list[float]) -> tuple[float, int]:
    """(value, percentile) of the tail of xs under tail_percentile."""
    p = tail_percentile(len(xs))
    return percentile(xs, p), p


def fail_ratio(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no operation was attempted")
    return failed / attempted


def covered(intervals: list[tuple[float, float]], start: float,
            end: float) -> float:
    """Length of [start, end] covered by the union of intervals."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals
                     if min(b, end) > max(a, start))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float,
              children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - covered(children, start, end)
