"""Summary statistics with the benchmark's reporting rules."""

from __future__ import annotations

import math
import statistics


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else float("nan")


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` sorted samples lie above the nearest-rank
    ``q``-quantile."""
    return n - math.ceil(q * n)


def percentile_valid(n: int, q: float, min_beyond: int = 10) -> bool:
    """A percentile is reported only when at least ``min_beyond``
    samples lie beyond it (p90 needs 100 samples)."""
    return n > 0 and samples_beyond(n, q) >= min_beyond


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile; raises when the sample is too small for
    the validity rule."""
    xs = sorted(xs)
    if not percentile_valid(len(xs), q):
        raise ValueError(
            f"p{round(q * 100)} needs >= 10 samples beyond it, have {len(xs)} samples"
        )
    return xs[math.ceil(q * len(xs)) - 1]
