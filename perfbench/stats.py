"""Statistics over the raw records a benchmark run writes.

Latencies are measured from each request's due time, so a stall that delays
later sends counts against them. Failed requests are excluded from latency
samples and counted separately.
"""

import math
import statistics

# Percentiles tried, highest first, when choosing the tail a sample supports.
TAIL_LEVELS = (99, 95, 90, 75, 50)


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    sample at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n, p):
    """How many of n samples lie beyond the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def supported_level(n, need=10, levels=TAIL_LEVELS):
    """The highest percentile level with at least `need` samples beyond it,
    or None when even the median has fewer."""
    for p in levels:
        if beyond(n, p) >= need:
            return p
    return None


def due_latencies(reqs):
    """End minus due time of every successful request."""
    return [r["end_ms"] - r["due_ms"] for r in reqs if r["ok"]]


def lateness(reqs):
    """How late the generator sent each request: start minus due time."""
    return [r["start_ms"] - r["due_ms"] for r in reqs]


def backlog(reqs, t):
    """Requests due by time t that had not completed at t."""
    return sum(1 for r in reqs if r["due_ms"] <= t < r["end_ms"])


def growing_backlog(reqs, start_ms, end_ms, rate):
    """True when the backlog at the end of a step exceeds the backlog at its
    midpoint by more than a tenth of the arrivals in between (and by more
    than two requests): the server fell behind the offered rate."""
    mid = (start_ms + end_ms) / 2.0
    arrivals = rate * (end_ms - mid) / 1000.0
    return backlog(reqs, end_ms) - backlog(reqs, mid) > max(2.0, 0.1 * arrivals)


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
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
    """Span id -> its duration minus the part of it its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                for c in children.get(s["id"], [])]
        kids = [(a, b) for a, b in kids if b > a]
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - covered(kids)
    return out


def median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def mean(xs, default=0.0):
    return sum(xs) / len(xs) if xs else default
