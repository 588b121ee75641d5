"""The benchmark's arithmetic: medians, the tail-percentile rule, failure
counting and span self time. Pure functions; tests/test_stats.py covers them."""
import math


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def nearest_rank(xs, p):
    """The p-th percentile (0 < p <= 100) by the nearest-rank rule."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def tail(xs, beyond=10):
    """The highest percentile that still has at least ``beyond`` samples
    above it, as (value, percentile); None when there are too few samples.
    With n samples that is the (n - beyond)-th smallest value."""
    n = len(xs)
    if n <= beyond:
        return None
    return sorted(xs)[n - beyond - 1], 100.0 * (n - beyond) / n


def fail_ratio(verdicts):
    """Share of attempted jobs that threw or produced a wrong result.
    ``verdicts`` holds one entry per attempted job: True when it returned
    a result and that result was checked correct, False otherwise."""
    verdicts = list(verdicts)
    if not verdicts:
        raise ValueError("no jobs attempted")
    return sum(1 for v in verdicts if v is not True) / len(verdicts)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
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
    """Self time of every span: its duration minus the part of its own
    interval that its children cover (children may nest or overlap; each
    covered instant is subtracted once). ``spans`` are dicts with ``id``,
    ``parent``, ``start`` and ``end``; returns {id: self time}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(clipped)
    return out
