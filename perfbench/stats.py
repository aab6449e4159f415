"""Summaries of repeated timings."""

from __future__ import annotations

import math
import statistics


def summarize(values) -> dict:
    """Median, sample count, and the highest of p90/p99/p99.9 that has at
    least ten samples above it (``None`` when there are too few)."""
    vals = sorted(values)
    n = len(vals)
    if n == 0:
        raise ValueError("no samples")
    out = {"n": n, "p50": statistics.median(vals), "hi_pct": None, "hi": None}
    for pct in (99.9, 99.0, 90.0):
        if n * (100.0 - pct) / 100.0 >= 10:
            # nearest-rank percentile
            out["hi_pct"] = pct
            out["hi"] = vals[max(0, math.ceil(pct / 100.0 * n) - 1)]
            break
    return out
