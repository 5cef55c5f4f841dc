"""Percentiles that refuse to report a tail they have not sampled."""

from __future__ import annotations

import math

MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank ``p``-th percentile of ``values``.

    Raises ``ValueError`` unless at least ``MIN_BEYOND`` samples lie
    beyond the reported rank, so a p90 needs 100 samples and a p75 40.
    """
    if not 0 < p < 100:
        raise ValueError(f"percentile must be in (0, 100), got {p}")
    n = len(values)
    rank = max(1, math.ceil(p / 100 * n))
    if n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{p:g} of {n} samples has {n - rank} beyond it;"
            f" need {MIN_BEYOND}"
        )
    return sorted(values)[rank - 1]

