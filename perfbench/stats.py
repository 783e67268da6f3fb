"""Statistics helpers for the benchmark's metrics."""
import math
import statistics

# Percentiles the benchmark may report, highest first.
TAIL_PERCENTILES = (99, 95, 90)
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the ceil(p/100 * n)-th smallest value."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} outside (0, 100]")
    ordered = sorted(values)
    return ordered[max(1, math.ceil(p / 100 * len(ordered))) - 1]


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile's rank."""
    return n - max(1, math.ceil(p / 100 * n))


def reportable(n, p):
    """A percentile is reported only with at least ten samples beyond it."""
    return beyond(n, p) >= MIN_BEYOND


def tail(values):
    """(p, value) for the highest percentile with ten samples beyond it, or
    None when even p90 lacks them."""
    for p in TAIL_PERCENTILES:
        if reportable(len(values), p):
            return p, percentile(values, p)
    return None


def median(values):
    return statistics.median(values)


def quartiles(values):
    """First quartile, median, third quartile, as the benchmark's acceptance
    check computes them (`statistics.quantiles`, exclusive method)."""
    return tuple(statistics.quantiles(values, n=4))


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2
