"""Small, dependency-free arithmetic the benchmark reports with."""

from __future__ import annotations

import math
import statistics


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile with at least ``beyond`` of ``n``
    samples above it, or None when there are too few samples."""
    if n <= beyond:
        return None
    return (100 * (n - beyond)) // n


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(ordered)))
    return ordered[rank - 1]


def tail(values: list[float], beyond: int = 10) -> tuple[int | None, float | None]:
    """(percentile, value) by the tail rule; (None, None) if undefined."""
    p = tail_percentile(len(values), beyond)
    if p is None:
        return None, None
    return p, percentile(values, p)


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile over the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf


def covered(interval: tuple[float, float], parts: list[tuple[float, float]]) -> float:
    """Length of ``interval`` covered by the union of ``parts``."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in parts)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered((s["start"], s["end"]), children.get(s["id"], []))
        for s in spans
    }
