"""Arithmetic the benchmark reports: medians, tail percentiles and the
per-call figures derived from Spark stage intervals. Pure functions, no
Spark, so ``test_metrics.py`` can pin them down."""

from __future__ import annotations

import statistics
from typing import Iterable, Sequence


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values))


def tail_percentile(values: Sequence[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile that still has at least ``beyond`` samples
    above it, as ``(percentile, value)``; ``None`` when there are too few
    samples for any. With sorted samples x[0..n-1], x[k] has n-1-k samples
    above it, so the answer is k = n-1-beyond at percentile 100*(k+1)/n."""
    n = len(values)
    k = n - 1 - beyond
    if k < 0:
        return None
    return 100.0 * (k + 1) / n, float(sorted(values)[k])


def interval_union(
    intervals: Iterable[tuple[float, float]], clip: tuple[float, float] | None = None
) -> float:
    """Total length covered by the union of ``[start, end]`` intervals,
    optionally clipped to ``clip``. Overlapping stages count once, so the
    result is the time at least one stage was active."""
    spans = []
    for start, end in intervals:
        if clip is not None:
            start, end = max(start, clip[0]), min(end, clip[1])
        if end > start:
            spans.append((start, end))
    spans.sort()
    total = 0.0
    cur_start = cur_end = None
    for start, end in spans:
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def driver_s(s: float, busy_s: float) -> float:
    """Time of a call with no stage active: planning, code generation, py4j
    round trips and collects on the driver."""
    return max(0.0, s - busy_s)


def slot_util(task_s: float, s: float, cores: int) -> float:
    """Share of the call's task slots (``cores`` for ``s`` seconds) that
    tasks kept busy."""
    if s <= 0 or cores <= 0:
        return 0.0
    return task_s / (s * cores)
