"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """Latency at the highest percentile that has at least `beyond`
    samples above it: the (beyond+1)-th largest sample.

    Returns (value, percentile, samples above it). The percentile is the
    share of samples at or below the value. With `beyond` or fewer
    samples no percentile qualifies; the maximum is returned with 0
    samples beyond, so the shortfall is visible in the record.
    """
    if not values:
        raise ValueError("tail of no samples")
    xs = sorted(values)
    if len(xs) <= beyond:
        return float(xs[-1]), 100.0, 0
    idx = len(xs) - 1 - beyond
    return float(xs[idx]), 100.0 * (idx + 1) / len(xs), beyond
