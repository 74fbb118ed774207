"""Small, dependency-free arithmetic shared by the benchmark and its
self-tests: percentiles, rates and run-to-run spread."""

from __future__ import annotations

import math
import statistics


def percentile(values, q: float) -> float:
    """q-th percentile (0..100) by linear interpolation between closest
    ranks, the same definition as numpy's default."""
    xs = sorted(float(v) for v in values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def rate(count: float, seconds: float) -> float:
    """Units per second; refuses an empty interval instead of dividing."""
    if seconds <= 0:
        raise ValueError(f"rate over a non-positive interval ({seconds})")
    return count / seconds


def ok_rate(attempted: int, failed: int) -> float:
    if attempted < 1 or not 0 <= failed <= attempted:
        raise ValueError(f"bad counts attempted={attempted} failed={failed}")
    return (attempted - failed) / attempted


def spread(values) -> float:
    """Quartile distance over the median: (Q3 - Q1) / median, with the
    quartiles of statistics.quantiles(values, n=4)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
