"""Small statistics helpers: percentiles and span self time."""

import math


def percentile(values, p):
    """Linear-interpolated percentile `p` in [0, 100] of `values`
    (numpy's default method). Returns (value, sample count); the value is
    nan for an empty sample."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return math.nan, 0
    pos = (n - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def interquartile_mean(values):
    """Mean of the middle half of `values` (a quarter trimmed from each
    end): steady against a few outliers, and not tied to the resolution of
    single values the way a median is. nan for an empty sample."""
    xs = sorted(values)
    cut = len(xs) // 4
    mid = xs[cut:len(xs) - cut]
    return sum(mid) / len(mid) if mid else math.nan


def mean(values):
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    end_max = None
    start_cur = None
    for s, e in sorted(intervals):
        if end_max is None or s > end_max:
            if end_max is not None:
                total += end_max - start_cur
            start_cur, end_max = s, e
        else:
            end_max = max(end_max, e)
    if end_max is not None:
        total += end_max - start_cur
    return total


def self_intervals(span, children):
    """The parts of `span` (start, end) that no child interval covers."""
    s, e = span
    out = []
    cur = s
    for cs, ce in sorted(children):
        if ce <= cur or cs >= e:
            continue
        if cs > cur:
            out.append((cur, cs))
        cur = max(cur, ce)
    if cur < e:
        out.append((cur, e))
    return out


def assign_parents(spans, candidates):
    """For each (start, end) in `spans`, the index of the innermost
    candidate interval containing its start, or None."""
    out = []
    for s, _ in spans:
        best = None
        for i, (cs, ce) in enumerate(candidates):
            if cs <= s <= ce and (best is None or ce - cs < candidates[best][1] - candidates[best][0]):
                best = i
        out.append(best)
    return out
