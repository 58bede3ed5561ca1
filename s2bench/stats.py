"""Summary arithmetic shared by the runner and the spread tool."""

from __future__ import annotations

import math
import statistics


def median(xs) -> float:
    xs = list(xs)
    if not xs:
        raise ValueError("median of no values")
    return float(statistics.median(xs))


def geomean(xs) -> float:
    xs = [float(x) for x in xs]
    if not xs or min(xs) <= 0:
        raise ValueError(f"geomean needs positive values, got {xs}")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def quartile_spread(xs) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(xs, n=4)``."""
    q1, med, q3 = statistics.quantiles(list(xs), n=4)
    return (q3 - q1) / med


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> own wall time: duration minus the durations of its direct
    children.  Spans are dicts with ``id``, ``parent`` (id or None),
    ``start`` and ``end``; a parent outside ``spans`` is ignored."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= s["end"] - s["start"]
    return own
