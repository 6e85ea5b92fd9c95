"""Percentiles and the tail rule the benchmark reports by."""

from __future__ import annotations

import math
from collections.abc import Sequence

#: candidate percentiles, low to high, for the reported tail
TAIL_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
#: a percentile is supported when at least this many samples lie beyond it
MIN_BEYOND = 10


def percentile(values: Sequence[float], q: float) -> float:
    """``q``-th percentile by linear interpolation between closest ranks
    (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n: int, q: float) -> float:
    """Expected number of the ``n`` samples above the ``q``-th percentile."""
    return n * (100.0 - q) / 100.0


def highest_percentile(n: int, candidates: Sequence[float] = TAIL_PERCENTILES) -> float | None:
    """The highest candidate percentile with at least ``MIN_BEYOND``
    samples beyond it, or None when even the lowest has fewer."""
    ok = [q for q in candidates if beyond(n, q) >= MIN_BEYOND - 1e-9]
    return max(ok) if ok else None


def summary(values: Sequence[float], qs: Sequence[float]) -> dict[str, dict[str, float]]:
    """``{"p50": {"value", "n", "beyond", "supported"}, ...}`` for a report."""
    n = len(values)
    return {
        f"p{q:g}": {
            "value": percentile(values, q),
            "n": n,
            "beyond": beyond(n, q),
            "supported": beyond(n, q) >= MIN_BEYOND - 1e-9,
        }
        for q in qs
    }


def union_length(intervals: Sequence[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
