"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def tail_percentile(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[int, float] | None:
    """Highest whole percentile p with at least ``beyond`` samples above it.

    Returns ``(p, value)`` where ``value`` is the order statistic that has
    exactly ``beyond`` samples ranked above it, or ``None`` when fewer than
    ``beyond + 1`` samples exist (no percentile qualifies).
    """
    n = len(samples)
    if n <= beyond:
        return None
    ordered = sorted(samples)
    idx = n - 1 - beyond
    # the largest whole p whose nearest-rank position ceil(p/100 * n) - 1 <= idx
    p = (100 * (idx + 1)) // n
    return p, ordered[idx]


def kind_medians(samples: dict[str, list[float]]) -> dict[str, float]:
    return {kind: statistics.median(v) for kind, v in samples.items() if v}


def round_seconds(samples: dict[str, list[float]]) -> float:
    """Latency of one full round of the mix: the sum of per-kind medians."""
    return sum(kind_medians(samples).values())


def op_p50(samples: dict[str, list[float]]) -> float:
    """Median operation latency with every kind weighted equally (the
    median of the per-kind medians), so the value does not move with how
    many operations of each kind one run happened to finish."""
    return statistics.median(kind_medians(samples).values())

