"""Small statistics shared by the benchmark, its reporter and its tests."""

from __future__ import annotations

import statistics

# the tail is the highest percentile with at least this many samples above it
TAIL_BEYOND = 10
# cycle_cpu_norm_s is the CPU time of a cycle on a host where the
# reference computation (workloads.Run.reference_s) takes this long
REF_BASE_S = 0.05


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has
    TAIL_BEYOND samples above it: the (TAIL_BEYOND+1)-th largest sample,
    at percentile 100 * (n - TAIL_BEYOND) / n.

    With TAIL_BEYOND samples or fewer no percentile qualifies, and the
    tail is the largest sample, at percentile 100.
    """
    if not values:
        raise ValueError("tail of no samples")
    xs = sorted(values)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return float(xs[-1]), 100.0
    i = n - TAIL_BEYOND - 1
    return float(xs[i]), 100.0 * (i + 1) / n


def interquartile_mean(values: list[float]) -> float:
    """Mean of the middle half of the samples."""
    xs = sorted(values)
    q = len(xs) // 4
    return statistics.fmean(xs[q:len(xs) - q])


def normalized_cpu(ops: list[dict]) -> float:
    """Median CPU seconds of the operations, scaled by REF_BASE_S over
    the interquartile mean of the CPU seconds of the references run next
    to them. Whole-run statistics, not per-operation ratios: a single
    reference is as noisy as the host over its ~50 ms, and host speed
    moves over minutes. Not the references' median: their times cluster
    around two values ~20 % apart, and a median flips between them."""
    return (median([o["cpu_s"] for o in ops]) * REF_BASE_S
            / interquartile_mean([r for o in ops for r in o["ref_s"]]))


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with Python's default quantile method — the
    steadiness rule the benchmark's bounds are checked against."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def union_length(intervals: list[tuple[float, float]], lo: float | None = None,
                 hi: float | None = None) -> float:
    """Total length covered by `intervals`, each clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0.0
    end = None
    for a, b in clipped:
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
