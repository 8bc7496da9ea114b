"""Summary statistics with the benchmark's sample-count rule.

A timing is reported as its median plus the highest tail percentile that has
at least ten samples beyond it; with fewer samples only the median is
meaningful, and the sample count is always reported alongside.
"""

from __future__ import annotations

import math
import statistics

TAIL_PERCENTILES = (99.9, 99.0, 90.0)
MIN_BEYOND = 10


def tail_percentile(n: int) -> float | None:
    """Highest percentile in TAIL_PERCENTILES with >= MIN_BEYOND of n
    samples beyond it, or None when n is too small for any of them."""
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def summarize(values: list[float]) -> dict:
    """{n, median, tail_p, tail}: tail_p/tail are None below the rule's
    sample count."""
    n = len(values)
    if n == 0:
        return {"n": 0, "median": None, "tail_p": None, "tail": None}
    p = tail_percentile(n)
    return {"n": n, "median": statistics.median(values), "tail_p": p,
            "tail": percentile(values, p) if p is not None else None}


def union_length(intervals) -> float:
    """Total length covered by (start, end) intervals, overlaps counted once."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
