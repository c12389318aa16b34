"""Order statistics used by every report: the median and the tail rule."""

from __future__ import annotations

import math
import statistics

#: candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_ABOVE = 10


def nearest_rank(sorted_vals: list[float], pct: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    k = max(1, math.ceil(pct / 100.0 * len(sorted_vals)))
    return sorted_vals[k - 1]


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile with at least ``MIN_ABOVE`` samples strictly
    above it, as (percentile, value, sample count); None when no candidate
    percentile has that many samples above it."""
    vals = sorted(samples)
    for pct in TAIL_PERCENTILES:
        v = nearest_rank(vals, pct) if vals else math.nan
        if sum(1 for x in vals if x > v) >= MIN_ABOVE:
            return pct, v, len(vals)
    return None


def median(samples: list[float]) -> float:
    return statistics.median(samples)

