"""Summary statistics for the benchmark's samples.

``tail`` implements the reporting rule from the benchmark's README: a
tail percentile is printed only when at least ``MIN_BEYOND`` samples lie
beyond it, so a run with few requests reports its median and no tail.
``steadiness`` summarises one metric over k runs.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile in ``TAIL_PERCENTILES`` with at least
    ``MIN_BEYOND`` samples strictly beyond its nearest rank, as
    ``(percentile, value)``; ``None`` when no percentile qualifies."""
    n = len(values)
    for pct in TAIL_PERCENTILES:
        rank = max(1, math.ceil(pct / 100.0 * n))
        if n - rank >= MIN_BEYOND:
            return pct, percentile(values, pct)
    return None


def steadiness(values: list[float]) -> dict[str, float]:
    """Median, interquartile range as a share of the median (the
    quartiles ``statistics.quantiles(values, n=4)`` gives), and max/min
    of one metric over k >= 2 runs."""
    if len(values) < 2:
        raise ValueError("steadiness needs at least two runs")
    q1, med, q3 = statistics.quantiles(values, n=4)
    lo, hi = min(values), max(values)
    return {
        "median": med,
        "iqr_share": (q3 - q1) / med if med else math.inf,
        "max_over_min": hi / lo if lo else math.inf,
        "runs": len(values),
    }
