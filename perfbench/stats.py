"""Percentile helpers.

A timing is reported as its median plus the highest percentile that
has at least ``MIN_BEYOND`` samples beyond it, each with its sample
count, so a tail figure is never read off a handful of points.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10
LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(values, p: float) -> float:
    """Nearest-rank percentile of ``values`` (p in 0..100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def supported_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least ``MIN_BEYOND`` of ``n``
    samples beyond it, or None when even p75 is not supported."""
    for p in LADDER:
        if n - math.ceil(p / 100.0 * n) >= MIN_BEYOND:
            return p
    return None


def summarize(values) -> dict:
    """{"n", "p50"} plus, when the sample supports one, "tail_pct" (the
    highest supported percentile) and "tail" (its value)."""
    xs = list(values)
    out: dict = {"n": len(xs)}
    if not xs:
        return out
    out["p50"] = statistics.median(xs)
    p = supported_percentile(len(xs))
    if p is not None:
        out["tail_pct"] = p
        out["tail"] = percentile(xs, p)
    return out
