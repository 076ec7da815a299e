"""Arithmetic of the benchmark's report: percentiles, the tail rule and
span self times. Kept free of I/O so `test_perfbench.py` can pin it."""

import statistics

# Percentiles a tail may be reported at, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(n):
    """The highest ladder percentile with at least ten of `n` samples
    beyond it, or None when `n` supports none (fewer than 20 samples)."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= 10.0 - 1e-9:
            return p
    return None


def percentile(values, p):
    """Linear-interpolated percentile (the 'inclusive' method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values):
    return statistics.median(values)


def covered(intervals, start, end):
    """Length of [start, end) covered by the union of `intervals`."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals
                     if min(e, end) > max(s, start))
    total, cur_s, cur_e = 0, None, None
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


def self_times(spans):
    """span id -> self time in ns: the span's duration minus the part of
    its interval that its child spans cover. Each span is a dict with
    id, parent, start_ns and end_ns."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    return {s["id"]: (s["end_ns"] - s["start_ns"])
            - covered(children.get(s["id"], []), s["start_ns"], s["end_ns"])
            for s in spans}


def reconcile(spans, limit=0.10):
    """(unattributed share, unreconciled roots): a root span's self time
    is the part of a request no layer span accounts for; a root whose
    self time exceeds `limit` of its wall time does not reconcile."""
    own = self_times(spans)
    roots = [s for s in spans if s["parent"] == -1]
    wall = sum(s["end_ns"] - s["start_ns"] for s in roots)
    rest = sum(own[s["id"]] for s in roots)
    bad = sum(1 for s in roots if own[s["id"]] > limit * (s["end_ns"] - s["start_ns"]))
    return (rest / wall if wall else 0.0), bad

