"""Summary statistics for the benchmark's samples.

Every timing the benchmark gates on is a median over many timed
operations of one run; tails are reported with their sample count but
never gated (see ``tail_percentile``).
"""

from __future__ import annotations

import math
import statistics
from collections.abc import Sequence


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values))


def quartiles(values: Sequence[float]) -> list[float]:
    """[q1, q2, q3] as ``statistics.quantiles(values, n=4)`` gives them;
    a single sample is its own quartiles."""
    if len(values) < 2:
        return [float(values[0])] * 3
    return [float(q) for q in statistics.quantiles(values, n=4)]


def geomean(values: Sequence[float]) -> float:
    if not values or any(v <= 0 for v in values):
        raise ValueError(f"geomean needs positive values, got {list(values)}")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail_percentile(values: Sequence[float], min_beyond: int = 10) -> dict | None:
    """The highest percentile that still has ``min_beyond`` samples
    above it: with n sorted samples, the k-th smallest where
    k = n - min_beyond, reported as percentile 100·k/n.

    Returns ``{"pct", "value", "n"}``, or None when there are not more
    than ``min_beyond`` samples. With few samples the percentile lands
    at or below the median, which is why tails are reported, not gated.
    """
    n = len(values)
    k = n - min_beyond
    if k < 1:
        return None
    ordered = sorted(values)
    return {"pct": round(100.0 * k / n, 2), "value": float(ordered[k - 1]), "n": n}


def summary(values: Sequence[float]) -> dict:
    """Every sample plus its quartiles and tail, for the details line."""
    return {
        "n": len(values),
        "samples": [round(v, 6) for v in values],
        "quartiles": [round(q, 6) for q in quartiles(values)],
        "tail": tail_percentile(values),
    }
