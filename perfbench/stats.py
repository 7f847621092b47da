"""Order statistics used by the benchmark's reports.

The tail rule: a tail percentile is only quoted when at least ten timed
samples lie beyond it, so it is backed by more than one or two outliers.
"""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _rank(n: int, p: float) -> int:
    # rounded first so that e.g. 99.9 % of 10000 is rank 9990, not 9991
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    if not xs:
        raise ValueError("percentile of no samples")
    return sorted(xs)[_rank(len(xs), p) - 1]


def beyond(n: int, p: float) -> int:
    """Samples beyond the nearest-rank ``p`` percentile of ``n``."""
    return n - _rank(n, p)


def tail_percentile(n: int, candidates=(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)) -> float | None:
    """Highest candidate percentile with at least ``TAIL_BEYOND`` samples
    beyond it, or None when ``n`` is too small for any."""
    for p in candidates:
        if beyond(n, p) >= TAIL_BEYOND:
            return p
    return None


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
