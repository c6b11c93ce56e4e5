"""Statistics shared by the benchmark's runner and its spread check.

Pure functions over plain lists and dicts, tested by test_stats.py.
"""
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values, beyond=10):
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, level, n)``: the (n - beyond)-th smallest sample,
    the percentile it sits at, and the sample count. With ``beyond`` or
    fewer samples no percentile qualifies, and the maximum is returned
    at level 100 so the caller can flag it.
    """
    n = len(values)
    if n == 0:
        return 0.0, 0.0, 0
    v = sorted(values)
    if n <= beyond:
        return v[-1], 100.0, n
    return v[n - beyond - 1], 100.0 * (n - beyond) / n, n


def quartile_spread(values):
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return (q3 - q1) / m if m else float("inf")


def _covered(intervals):
    """Total length of the union of ``(start, end)`` intervals."""
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


def self_times(spans):
    """Span id -> self time: its duration minus the part of its interval
    covered by its child spans (children clipped to the parent)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        inside = [(max(c["start_ms"], lo), min(c["end_ms"], hi))
                  for c in kids.get(s["id"], []) if c["end_ms"] > lo and c["start_ms"] < hi]
        out[s["id"]] = (hi - lo - _covered(inside)) / 1e3
    return out


def innermost_span(spans, t_ms):
    """The deepest span whose interval contains ``t_ms``, or None."""
    by_id = {s["id"]: s for s in spans}
    best, best_depth = None, -1
    for s in spans:
        if s["start_ms"] <= t_ms <= s["end_ms"]:
            depth, p = 0, s["parent"]
            while p in by_id:
                depth, p = depth + 1, by_id[p]["parent"]
            if depth > best_depth:
                best, best_depth = s, depth
    return best


def root_of(spans_by_id, span_id):
    s = spans_by_id[span_id]
    while s["parent"] in spans_by_id:
        s = spans_by_id[s["parent"]]
    return s
