"""Order statistics for timings, with the sample-count rule of the report:
the median is always given, a higher percentile only when at least
``MIN_BEYOND`` samples lie beyond it, and every summary carries its count."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` sorted samples lie above the nearest-rank
    ``q``-quantile (rank ``ceil(q * n)``)."""
    return n - math.ceil(q * n)


def percentile(samples: list[float], q: float) -> float | None:
    """Nearest-rank ``q``-quantile, or None when fewer than ``MIN_BEYOND``
    samples lie beyond it."""
    n = len(samples)
    if n == 0 or samples_beyond(n, q) < MIN_BEYOND:
        return None
    return sorted(samples)[math.ceil(q * n) - 1]


def summarize(samples: list[float]) -> dict:
    """{"n", "p50"} plus "p90" where the count allows it."""
    out: dict = {"n": len(samples)}
    if samples:
        out["p50"] = statistics.median(samples)
    p90 = percentile(samples, 0.90)
    if p90 is not None:
        out["p90"] = p90
    return out
