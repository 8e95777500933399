"""Order statistics for op latencies."""

import math

# the tail percentiles a report may use, highest last
TAILS = (50.0, 90.0, 99.0, 99.9)


def percentile(values, p):
    """The p-th percentile of `values`, interpolating between order
    statistics (the "linear" method of numpy and of Python's
    statistics.quantiles with method="inclusive")."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50.0)


def tail_percentile(n, beyond=10):
    """The highest percentile in TAILS with at least `beyond` of `n`
    samples above it, or None when even the median has fewer."""
    best = None
    for p in TAILS:
        if n * (100.0 - p) / 100.0 >= beyond - 1e-9:  # 99.9 is inexact
            best = p
    return best
