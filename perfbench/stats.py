"""Summary statistics the benchmark reports.

Pure functions over lists of numbers, so the unit tests pin them without
Spark.
"""

from __future__ import annotations

import math
import statistics

#: percentiles considered for a tail figure, highest last
TAIL_PERCENTILES = (75.0, 90.0, 95.0, 99.0, 99.9)
#: a percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


def samples_beyond(n: int, pct: float) -> int:
    """How many of ``n`` samples lie strictly above the ``pct`` percentile
    (nearest-rank definition)."""
    return n - math.ceil(n * pct / 100.0)


def percentile(values: list[float], pct: float) -> float | None:
    """Nearest-rank percentile, or None when fewer than ``MIN_BEYOND``
    samples lie beyond it (a tail figure must rest on at least ten
    samples). The median is exempt: it needs one sample."""
    n = len(values)
    if n == 0:
        return None
    if pct != 50.0 and samples_beyond(n, pct) < MIN_BEYOND:
        return None
    if pct == 50.0:
        return statistics.median(values)
    rank = max(1, math.ceil(n * pct / 100.0))
    return sorted(values)[rank - 1]


def tail(values: list[float]) -> tuple[float, float] | None:
    """(pct, value) for the highest percentile in ``TAIL_PERCENTILES`` that
    has at least ``MIN_BEYOND`` samples beyond it; None when none does."""
    best = None
    for pct in TAIL_PERCENTILES:
        v = percentile(values, pct)
        if v is not None:
            best = (pct, v)
    return best


def gmean(values: list[float]) -> float:
    """Geometric mean of positive values; raises on an empty list or a
    value that is not positive (a zero latency means a broken timer)."""
    if not values:
        raise ValueError("gmean of no values")
    if any(v <= 0 for v in values):
        raise ValueError(f"gmean needs positive values, got {values}")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def gmean_of_medians(by_kind: dict[str, list[float]]) -> float:
    """Geometric mean over kinds of each kind's median — one figure per
    kind, so a frequent cheap kind does not drown a rare costly one."""
    return gmean([statistics.median(v) for v in by_kind.values() if v])


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median (the benchmark's
    steadiness figure)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
