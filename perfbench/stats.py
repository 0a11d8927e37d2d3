"""Percentile rule, failure accounting and metric units of the benchmark."""
import math
from collections import namedtuple

# one timed operation: a query execution or a frame; `ok` is False when
# it crashed, returned a wrong answer or never arrived
Op = namedtuple("Op", "seconds ok")


def latencies(ops):
    """A failed operation counts as +inf, never as a time."""
    return [o.seconds if o.ok else math.inf for o in ops]


def percentile(values, q):
    """Linear interpolation between the closest ranks (numpy's default).

    +inf sorts last, so failures push percentiles up; a percentile that
    touches a failure is +inf. Empty input gives nan."""
    s = sorted(values)
    if not s:
        return math.nan
    h = (len(s) - 1) * q
    lo = math.floor(h)
    hi = min(lo + 1, len(s) - 1)
    frac = h - lo
    if frac == 0:
        return s[lo]
    if math.isinf(s[hi]) or math.isinf(s[lo]):
        return math.inf
    return s[lo] + frac * (s[hi] - s[lo])


def unit_of(name):
    """Unit of a per-layer metric, from its name's suffix."""
    for suffix, unit in (("_mb", "MB"), ("_ms", "ms"), ("_s", "s"), ("_frac", "fraction")):
        if name.endswith(suffix):
            return unit
    return "count"


def covered(intervals):
    """Length of the union of (start, end) intervals."""
    total, cur = 0.0, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur is None or a > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return total + (cur[1] - cur[0] if cur else 0.0)


def self_times(spans):
    """Summed self time (ms) per span name: each span's duration minus
    the part of it its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        inner = [(max(c["start_ms"], lo), min(c["end_ms"], hi)) for c in kids.get(s["id"], [])]
        out[s["name"]] = out.get(s["name"], 0.0) + (hi - lo) - covered(inner)
    return out
