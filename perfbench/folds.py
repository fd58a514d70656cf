"""The benchmark's folds: pure functions from raw measurements to metrics."""
import math
import statistics


def median(xs):
    return statistics.median(xs)


def tail(xs, beyond=10):
    """The highest percentile of `xs` with at least `beyond` samples above
    it: (value, percentile, sample count). None when there are too few
    samples for any such percentile."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return None
    i = n - 1 - beyond
    return s[i], 100.0 * (i + 1) / n, n


def failed_share(failed, attempted):
    if attempted <= 0:
        raise ValueError("no operation was attempted")
    return failed / attempted


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover (overlapping children count once).
    `spans` are dicts with id, parent, start_ms and end_ms."""
    children = {}
    for s in spans:
        children.setdefault(s.get("parent"), []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - covered(children.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}
