"""Pure summary arithmetic for the benchmark (no Spark, no I/O), kept
apart so the tests can pin each rule exactly."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """Highest integer percentile p with at least `beyond` samples
    strictly above the p-th order statistic's position.

    With n sorted samples, the p-th percentile is taken as the sample at
    rank ceil(p/100 * n) (1-based, nearest-rank); the samples beyond it
    are the n - rank that follow. Returns (p, value), or None when fewer
    than beyond + 1 samples exist, i.e. when no percentile has enough
    samples beyond it to be worth reporting."""
    n = len(values)
    if n < beyond + 1:
        return None
    ordered = sorted(values)
    for p in range(99, 0, -1):
        rank = max(1, -(-p * n // 100))  # ceil(p * n / 100)
        if n - rank >= beyond:
            return float(p), float(ordered[rank - 1])
    return None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of [start, end] intervals;
    empty and reversed intervals cover nothing."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted((s, e) for s, e in intervals if e > s):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def overhead(run: tuple[float, float], stages: list[tuple[float, float]]) -> float:
    """Run wall time not covered by any stage interval. Stage intervals
    are clipped to the run first, so the result lies in [0, run wall]."""
    start, end = run
    clipped = [(max(s, start), min(e, end)) for s, e in stages]
    return (end - start) - union_length(clipped)


def skew(task_times: list[float]) -> float:
    """max / median task time; 1.0 for an empty or all-zero set."""
    if not task_times:
        return 1.0
    med = statistics.median(task_times)
    return float(max(task_times) / med) if med > 0 else 1.0

