"""Arithmetic that turns a run's raw records into metrics.

Kept free of I/O so that tests/test_metrics.py can check it directly.
"""
import statistics


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs, min_above=10):
    """Highest percentile that still has at least `min_above` samples above it.

    Returns (value, percentile, n). With too few samples for any percentile
    at or above the median to qualify, the median is returned as the tail.
    """
    n = len(xs)
    if n == 0:
        return None, None, 0
    s = sorted(xs)
    r = n - 1 - min_above
    mid = (n - 1) // 2
    if r < mid:
        return median(s), 50.0, n
    return s[r], 100.0 * (r + 1) / n, n


def failed_share(attempted, failed):
    if attempted <= 0:
        raise ValueError("no operation attempted")
    return failed / attempted


def union_length(intervals, lo=None, hi=None):
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0
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


def driver_gap(op_start, op_end, job_intervals):
    """Part of an operation's wall time that no Spark job covers."""
    return (op_end - op_start) - union_length(job_intervals, op_start, op_end)


def self_times(spans):
    """Span duration minus the part of it its direct children cover.

    `spans` are dicts with id, parent, start_ns and end_ns; returns
    {span id: self time in ns}.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    out = {}
    for s in spans:
        covered = union_length(children.get(s["id"], []), s["start_ns"], s["end_ns"])
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - covered
    return out


def ratio(num, den):
    """num / den, or None when the base is empty (a metric that cannot be formed)."""
    if not den:
        return None
    return num / den
