"""Metric math of the benchmark, kept free of I/O so it can be tested.

Percentiles above the median follow the nearest-rank rule and are
reported only when at least ten samples lie beyond them: p90 needs 100
samples.
"""
import math
import statistics

MIN_BEYOND = 10


def samples_beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank q-quantile of n samples."""
    return n - max(1, math.ceil(q * n))


def percentile(values, q: float):
    """Nearest-rank q-quantile (0 < q < 1), or None when fewer than
    MIN_BEYOND samples lie beyond it. The median (q = 0.5) is the usual
    midpoint median and needs no samples beyond it."""
    vals = sorted(values)
    n = len(vals)
    if n == 0:
        return None
    if q == 0.5:
        return statistics.median(vals)
    if samples_beyond(n, q) < MIN_BEYOND:
        return None
    return vals[max(1, math.ceil(q * n)) - 1]


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by at least one interval (start, end).
    Intervals are clipped to the window; overlaps count once."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals
                     if min(e, hi) > max(s, lo))
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def busy_and_idle(intervals, lo: float, hi: float):
    """(busy, no_task): time in [lo, hi] with at least one task running,
    and the rest. busy + no_task == hi - lo by construction."""
    busy = union_length(intervals, lo, hi)
    return busy, (hi - lo) - busy


def fail_ratio(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..{attempted}")
    return failed / attempted


def skew(durations) -> float:
    """Longest task over the median task of one stage (1.0 = even)."""
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 1.0
