"""Statistics shared by the benchmark runner and the compare tool."""
import math
import statistics


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else math.inf


def geomean(values):
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(samples, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (percentile, value, n). With n sorted samples, the sample of
    rank r (1-based) has n - r samples beyond it, so the tail is the sample
    of rank n - beyond, reported as percentile 100 * r / n. Fewer than
    beyond + 1 samples have no such percentile: None is returned.
    """
    n = len(samples)
    r = n - beyond
    if r < 1:
        return None
    return 100.0 * r / n, sorted(samples)[r - 1], n


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [start, end) intervals clipped to [lo, hi)."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover. Returns {span id: self time}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - union_length(children.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}
