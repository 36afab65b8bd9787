"""Sample statistics shared by the run and the steadiness check."""

from __future__ import annotations

import math
import statistics

#: Tail percentiles tried, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0)
#: A tail percentile is reported only with this many samples beyond it.
MIN_BEYOND = 10


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(samples)
    rank = max(1, math.ceil(p / 100 * len(xs)))
    return xs[rank - 1]


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """(percentile, value, samples beyond it) for the highest percentile
    in TAIL_PERCENTILES that has at least MIN_BEYOND samples strictly
    above it, or None when no candidate has enough."""
    for p in TAIL_PERCENTILES:
        if not samples:
            break
        v = percentile(samples, p)
        beyond = sum(1 for x in samples if x > v)
        if beyond >= MIN_BEYOND:
            return p, v, beyond
    return None


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
