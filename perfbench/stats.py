"""Summary statistics shared by the workloads and the tracer (stdlib only)."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10  # a tail percentile needs this many samples beyond it


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """``(value, percentile, n)``: the highest percentile of ``xs`` that has
    at least ``TAIL_BEYOND`` samples beyond it, read as an order statistic.

    The value at 1-based rank ``r`` of ``n`` sorted samples has ``n - r``
    samples beyond it, so ``r = n - TAIL_BEYOND``. Below ``2 * TAIL_BEYOND + 2``
    samples that rank falls below the upper median, which is reported then,
    so the tail never reads lower than the p50.
    """
    n = len(xs)
    if n == 0:
        return float("nan"), 0.0, 0
    s = sorted(xs)
    r = max(n - TAIL_BEYOND, n // 2 + 1)
    return s[r - 1], 100.0 * r / n, n


def union_length(intervals):
    """Total length covered by a set of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its child spans cover."""
    clipped = [(max(s, start), min(e, end)) for s, e in children if e > start and s < end]
    return (end - start) - union_length(clipped)
