"""Arithmetic of the benchmark's reports: percentiles under the
ten-samples-beyond rule, interval unions and per-layer self time."""

import math


def percentile(xs, p):
    """Nearest-rank p-th percentile (0 < p <= 100) of a non-empty list."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail_level(n, cap):
    """The highest whole percentile, at most `cap`, that leaves at least ten
    of n samples beyond it; None when n <= 10 leaves no such percentile.

    The nearest-rank p-th percentile is sample ceil(p*n/100), which leaves
    n - ceil(p*n/100) samples above it."""
    if n <= 10:
        return None
    p = min(cap, math.floor(100.0 * (n - 10) / n))
    while p > 0 and n - math.ceil(p * n / 100.0) < 10:
        p -= 1
    return p if p > 0 else None


def median(xs):
    return percentile(xs, 50)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
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
    """Self time of each span: its duration minus the part of it that its
    children cover (children clipped to the parent). `spans` is a list of
    dicts with id, parent, start, end; returns {id: self time}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length([(max(c["start"], s["start"]), min(c["end"], s["end"]))
                                for c in children.get(s["id"], ())])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_self_times(spans):
    """Sum of self time per layer."""
    own = self_times(spans)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0) + own[s["id"]]
    return out
