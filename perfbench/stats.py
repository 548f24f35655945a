"""Percentile and spread rules shared by the benchmark and its checks."""
import math
import statistics

MIN_BEYOND = 10


def percentile(values, q):
    """Nearest-rank q-quantile (0 < q < 1) of ``values``."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def highest_percentile(n, candidates=(0.99, 0.95, 0.9, 0.75, 0.5)):
    """The highest candidate percentile with at least ten of ``n`` samples
    strictly beyond it, or None when even the median lacks them. A p90 is
    therefore valid only from 100 samples on.
    """
    for q in candidates:
        if n - math.ceil(q * n) >= MIN_BEYOND:
            return q
    return None


def valid_percentile(values, q):
    """``percentile(values, q)`` if the sample supports q, else None."""
    hp = highest_percentile(len(values), candidates=(q,))
    return percentile(values, q) if hp is not None else None


def median(values):
    return statistics.median(values) if values else None


def mean(values):
    return statistics.fmean(values) if values else None


def quartile_spread(values):
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles``
    gives them: the run-to-run spread the benchmark's bounds apply to.
    """
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
