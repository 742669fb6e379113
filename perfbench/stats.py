"""Pure arithmetic for the benchmark: percentiles and interval unions.
Nothing here touches Spark, so the rules are unit-tested on synthetic
numbers (``test_stats.py``)."""

from __future__ import annotations

import math

# the tail percentile reported beside the median: the highest one that
# keeps at least this many samples beyond it
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in (0, 100]): the smallest sample with
    at least ``q`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile {q} outside (0, 100]")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100 * len(ordered)))
    return ordered[rank - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the nearest-rank
    ``q``-th percentile."""
    return n - max(1, math.ceil(q / 100 * n))


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> int | None:
    """The highest whole percentile of ``n`` samples that still has at
    least ``min_beyond`` samples beyond it, or ``None`` when even the
    median has fewer."""
    best = None
    for q in range(50, 100):
        if samples_beyond(n, q) >= min_beyond:
            best = q
    return best


def summarize(values: list[float]) -> dict:
    """Median, the rule's tail percentile and the sample count behind them."""
    n = len(values)
    out = {"n": n, "p50": percentile(values, 50) if n else None}
    q = tail_percentile(n)
    out["tail_q"] = q
    out["tail"] = percentile(values, q) if q is not None else None
    return out


def union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Merge ``(start, end)`` intervals into disjoint sorted ones; empty and
    inverted intervals are dropped."""
    merged: list[tuple[float, float]] = []
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if merged and lo <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
        else:
            merged.append((lo, hi))
    return merged


def subtract(
    base: list[tuple[float, float]], cut: list[tuple[float, float]]
) -> list[tuple[float, float]]:
    """The parts of ``base`` that no interval of ``cut`` covers."""
    cut = union(cut)
    out: list[tuple[float, float]] = []
    for lo, hi in union(base):
        cur = lo
        for clo, chi in cut:
            if chi <= cur or clo >= hi:
                continue
            if clo > cur:
                out.append((cur, clo))
            cur = max(cur, chi)
            if cur >= hi:
                break
        if cur < hi:
            out.append((cur, hi))
    return out


def length(intervals: list[tuple[float, float]]) -> float:
    return sum(hi - lo for lo, hi in union(intervals))


def self_and_driver_time(
    span: tuple[float, float],
    children: list[tuple[float, float]],
    jobs: list[tuple[float, float]],
) -> tuple[float, float]:
    """``(self, driver)`` time of one span.

    Self time is the span minus the part its child spans cover; driver time
    is self time minus the union of the span's own Spark job intervals
    (clipped to the span), i.e. the time the span spent with no job of its
    own running: planning, py4j round trips, driver-local numpy solves.
    """
    own = subtract([span], children)
    return length(own), length(subtract(own, jobs))
