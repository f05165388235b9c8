"""Summary statistics with the benchmark's reporting rules."""

from __future__ import annotations

import statistics


def median(xs) -> float:
    """Median, or 0.0 without samples (a layer that did not run)."""
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail_percentile(xs, q: float, min_beyond: int = 10) -> float | None:
    """The q-th percentile (0 < q < 100) of xs, or None unless at least
    ``min_beyond`` samples lie beyond it — so p90 needs 100 samples."""
    xs = sorted(xs)
    if len(xs) * (100.0 - q) / 100.0 < min_beyond:
        return None
    return float(statistics.quantiles(xs, n=100, method="inclusive")[int(q) - 1])


def share_inside(start: float, end: float, window: float) -> float:
    """Share of the interval [start, end] that lies inside [0, window]."""
    if end <= start:
        return 1.0 if 0.0 <= start <= window else 0.0
    return max(0.0, min(end, window) - max(start, 0.0)) / (end - start)
