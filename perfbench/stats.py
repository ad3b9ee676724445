"""Timing summaries: a median, the highest standard percentile that has at
least ten samples beyond it, and the sample count."""

from __future__ import annotations

import math
import statistics

PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile p among n samples (rounded first,
    so 99.9% of 10,000 is rank 9,990 and not 9,991)."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def nearest_rank(sorted_vals: list[float], p: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    return sorted_vals[_rank(p, len(sorted_vals)) - 1]


def tail_percentile(n: int) -> float | None:
    """Highest percentile in PERCENTILES whose nearest-rank value leaves at
    least MIN_BEYOND samples above it; None when n is too small (< 20)."""
    best = None
    for p in PERCENTILES:
        if n - _rank(p, n) >= MIN_BEYOND:
            best = p
    return best


def summarize(samples: list[float]) -> dict:
    """{"median", "p", "p_value", "n"} for one timing series."""
    vals = sorted(samples)
    n = len(vals)
    if n == 0:
        return {"median": None, "p": None, "p_value": None, "n": 0}
    p = tail_percentile(n)
    return {
        "median": statistics.median(vals),
        "p": p,
        "p_value": nearest_rank(vals, p) if p is not None else None,
        "n": n,
    }
