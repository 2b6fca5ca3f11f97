"""Statistics the harness reports: percentiles, the reportable-tail
rule, busy time, span self time, and spread across runs."""

import math
import statistics


def percentile(xs, p):
    """The p-th percentile (0-100) by linear interpolation between the
    closest ranks (numpy's default)."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    pos = (len(s) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs):
    return percentile(xs, 50)


def quartiles(xs):
    """(q1, median, q3) as `statistics.quantiles(xs, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def max_reportable_percentile(n, beyond=10):
    """The highest whole percentile with at least `beyond` of `n`
    samples strictly above its interpolation position; 0 if none."""
    for p in range(99, 0, -1):
        pos = (n - 1) * p / 100.0
        if n - 1 - math.floor(pos) >= beyond:
            return p
    return 0


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end) pairs."""
    total = 0
    cur_s = cur_e = None
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


def clipped(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans):
    """Map span id -> its duration minus the time its child spans cover
    (children clipped to the parent, overlaps counted once)."""
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        kids = [(c["start_ns"], c["end_ns"]) for c in children.get(sp["id"], [])]
        covered = union_length(clipped(kids, sp["start_ns"], sp["end_ns"]))
        out[sp["id"]] = (sp["end_ns"] - sp["start_ns"]) - covered
    return out


def spread(values):
    """Inter-quartile range as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")
