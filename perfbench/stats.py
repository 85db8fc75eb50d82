"""Statistics for the graft benchmark: order statistics over run samples,
span self times, and attribution of Spark stages to spans by time window.

Pure functions over plain lists and dicts, so `tests/test_stats.py` can
check them without Spark.
"""
import statistics

# Percentiles a tail metric may report, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values):
    values = list(values)
    return statistics.median(values) if values else 0.0


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    values = list(values)
    if len(values) < 2:
        v = values[0] if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def percentile(values, p):
    """Linear-interpolated percentile `p` (0-100) of `values`."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n, min_beyond=10):
    """The highest percentile on TAIL_LADDER with at least `min_beyond` of
    `n` samples above it, or None when even the median has fewer."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= min_beyond - 1e-9:
            return p
    return None


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `(start, end)` intervals, clipped to
    [lo, hi] when given; overlaps count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
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
    """Map span id -> its duration minus the part of its interval that
    its direct children cover (children clipped to the parent)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        covered = union_length(children.get(s["id"], []), s["start_ms"], s["end_ms"])
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - covered
    return out


def attribute(events, spans, key="submit_ms"):
    """Map span id -> list of events whose `key` time falls inside it,
    each event going to the innermost (latest-starting) such span. Spark's
    driver runs one stage at a time per action, and the harness is one
    closed-loop client, so a time point names one chain of nested spans."""
    out = {s["id"]: [] for s in spans}
    for ev in events:
        t = ev[key]
        best = None
        for s in spans:
            if s["start_ms"] <= t <= s["end_ms"]:
                if best is None or s["start_ms"] >= best["start_ms"] and \
                        s["end_ms"] <= best["end_ms"]:
                    best = s
        if best is not None:
            out[best["id"]].append(ev)
    return out
