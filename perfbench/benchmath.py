"""The benchmark's statistics: percentiles, span self time, open-loop lateness."""
import math


def tail_percentile(values, q, min_beyond=10):
    """Nearest-rank q-quantile, or None when fewer than `min_beyond`
    samples lie beyond it (a tail read from too few samples is noise)."""
    s = sorted(values)
    if not s:
        return None
    rank = max(1, math.ceil(q * len(s)))
    if len(s) - rank < min_beyond:
        return None
    return s[rank - 1]


def union_length(intervals, lo=None, hi=None):
    """Length covered by the union of (start, end) intervals, clipped to
    [lo, hi] when given; overlapping intervals count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_length(children, start, end)


def lateness(schedule):
    """Per-send lateness of an open-loop generator: (due, sent) pairs ->
    how long after its due time each send happened (never negative)."""
    return [max(0, sent - due) for due, sent in schedule]
