"""Order statistics shared by the workloads and the trace report."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float] | None:
    """The highest order statistic with at least ``beyond`` samples above it.

    Returns ``(value, level)`` where ``level`` is the share of samples at or
    below the value, or None when that statistic would not lie above the
    median (fewer than ``2 * beyond`` samples): no tail can be stated."""
    n = len(values)
    if n < 2 * beyond:
        return None
    ordered = sorted(values)
    return float(ordered[n - 1 - beyond]), (n - beyond) / n

