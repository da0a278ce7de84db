"""Order statistics with an explicit sample-sufficiency rule.

A tail percentile is only as trustworthy as the number of samples that lie
beyond it: a p90 over 12 samples is decided by one or two of them. The rule
here is that a percentile ``q`` is reported only when at least
``min_beyond`` samples rank strictly above it (nearest-rank definition);
otherwise ``InsufficientSamples`` is raised and the caller reports the
sample count instead of a number.
"""

from __future__ import annotations

import math
import statistics


class InsufficientSamples(ValueError):
    pass


def percentile(values, q: float, min_beyond: int = 10) -> float:
    """Nearest-rank ``q``-percentile (0 < q < 1) of ``values``, requiring
    at least ``min_beyond`` samples strictly above the selected rank."""
    xs = sorted(values)
    n = len(xs)
    if not 0.0 < q < 1.0:
        raise ValueError(f"q must be in (0, 1), got {q}")
    if n == 0:
        raise InsufficientSamples("no samples")
    rank = max(1, math.ceil(q * n))  # 1-based
    if n - rank < min_beyond:
        raise InsufficientSamples(
            f"p{q * 100:g} over {n} samples leaves {n - rank} beyond it "
            f"(need {min_beyond}, i.e. n >= {min_samples(q, min_beyond)})"
        )
    return xs[rank - 1]


def min_samples(q: float, min_beyond: int = 10) -> int:
    """Smallest n for which ``percentile(.., q, min_beyond)`` is defined."""
    n = 1
    while n - max(1, math.ceil(q * n)) < min_beyond:
        n += 1
    return n


def median(values) -> float:
    return float(statistics.median(values))

