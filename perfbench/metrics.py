"""Pure arithmetic behind the benchmark's metrics: percentiles, failure
fractions, interval unions, attribution by time window and span self
time. No I/O, so the rules are unit-tested on their own."""
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values, beyond=10):
    """The highest percentile that still has at least ``beyond``
    samples above it: with n sorted samples that is the one at index
    n - beyond - 1. Returns (value, percentile, samples beyond, n).
    With too few samples no such percentile exists and the median is
    returned, marked as the 50th percentile."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0, 0
    if n <= beyond:
        return median(xs), 50.0, n // 2, n
    k = n - beyond - 1
    return xs[k], 100.0 * (k + 1) / n, n - k - 1, n


def fail_frac(ops):
    """Share of attempted operations that threw or failed a check."""
    if not ops:
        return 1.0
    return sum(1 for o in ops if not o["ok"]) / len(ops)


def union_length(intervals):
    """Total length covered by (start, end) intervals."""
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


def clip(intervals, start, end):
    """The parts of ``intervals`` that fall inside [start, end]."""
    return [(max(s, start), min(e, end)) for s, e in intervals
            if min(e, end) > max(s, start)]


def owner(windows, t):
    """Index of the (start, end) window containing time t, or None.
    ``windows`` must be sorted and disjoint, as serial operations are."""
    lo, hi = 0, len(windows) - 1
    while lo <= hi:
        mid = (lo + hi) // 2
        s, e = windows[mid]
        if t < s:
            hi = mid - 1
        elif t > e:
            lo = mid + 1
        else:
            return mid
    return None


def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover. ``spans`` are dicts with
    ``id``, ``parent`` (None for roots), ``start`` and ``end``."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(clip(children.get(s["id"], []), s["start"], s["end"]))
            for s in spans}
