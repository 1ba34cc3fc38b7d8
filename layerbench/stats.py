"""Order statistics the benchmark reports."""

import statistics


def median(samples):
    return statistics.median(samples)


def tail(samples, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, sample count). With n samples this is the
    (n - beyond)-th smallest one, at percentile 100 * (n - beyond) / n.
    When that would fall below the median (fewer than 2 * beyond
    samples), the median is returned as the 50th percentile, so the tail
    is never below the median.
    """
    xs = sorted(samples)
    n = len(xs)
    med = statistics.median(xs)
    k = n - beyond
    if k <= n / 2:
        return med, 50.0, n
    return max(xs[k - 1], med), 100.0 * k / n, n
