"""Percentiles and spreads used by the benchmark's metrics."""

import math
import statistics


def percentile(values, p):
    """Linear-interpolated percentile, p in [0, 1]."""
    s = sorted(values)
    if not s:
        return None
    pos = p * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def samples_beyond(n, p):
    """Samples ranked strictly above the p-th percentile of n samples."""
    return n - math.floor(p * (n - 1)) - 1 if n else 0


def tail_percentile(n, candidates=(0.99, 0.95, 0.9, 0.8, 0.75, 0.5)):
    """Highest candidate percentile with at least ten samples beyond it."""
    for p in candidates:
        if samples_beyond(n, p) >= 10:
            return p
    return None


def median(values):
    return statistics.median(values) if values else None


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    if len(values) < 2:
        v = values[0] if values else None
        return v, v, v
    q = statistics.quantiles(values, n=4)
    return q[0], q[1], q[2]


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, m, q3 = quartiles(values)
    return (q3 - q1) / m if m else None
