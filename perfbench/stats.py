"""The benchmark's arithmetic: percentiles, span self time and failure
shares. Kept free of I/O so that tests/test_stats.py can pin it down."""
import math


def percentile(values, q):
    """The q-th percentile (0..100) by linear interpolation between the
    two nearest ranks (numpy's default). A failed op is passed in as
    math.inf: it misses every latency limit, so a percentile that lands
    on it is infinite. Raises ValueError on an empty list."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    if xs[hi] == math.inf:
        return math.inf if pos > lo or xs[lo] == math.inf else xs[lo]
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def covered(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total = 0
    reach = lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if b > reach:
            total += b - max(a, reach)
            reach = b
    return total


def self_times(spans):
    """{span id: self time} for spans given as dicts with id, parent,
    start and end: a span's duration minus the part of it that its child
    spans cover (children may overlap each other)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def failure_share(attempted, failed):
    """Failed ops as a share of attempted ops."""
    if attempted < 1:
        raise ValueError("no op was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"{failed} failed of {attempted} attempted")
    return failed / attempted

