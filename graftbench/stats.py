"""Arithmetic of the graft benchmark: percentiles, open-loop latency and
lateness, span self time. Pure functions, unit-tested in tests/."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_rank(n):
    """1-based nearest rank of the reported tail percentile among n sorted
    samples: p95, or the highest percentile below it that still has at
    least ten samples beyond it, but never below the median."""
    if n == 0:
        return 0
    return max(math.ceil(0.5 * n), min(math.ceil(0.95 * n), n - 10))


def tail(xs):
    """The tail value of `xs` (see tail_rank) and its percentile; never
    below the median."""
    if not xs:
        return 0.0, 0.0
    s = sorted(xs)
    k = tail_rank(len(s))
    return max(s[k - 1], median(s)), 100.0 * k / len(s)


def open_loop(ops):
    """Latency and lateness of operations given as (due, start, end) in ns.
    Latency runs from when the operation was due, so a stall also counts
    against the operations queued behind it; lateness is how long after
    its due time the generator started it."""
    latency = [(end - due) / 1e6 for due, start, end in ops]
    late = [max(0, start - due) / 1e6 for due, start, end in ops]
    return latency, late


def union_length(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans):
    """{span id: self time in ns}: each span's duration minus the part of
    its interval its child spans cover (children may overlap each other)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def subtree_sums(spans, key):
    """{span id: span[key] summed over the span and all its descendants}."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    memo = {}

    def total(s):
        if s["id"] not in memo:
            memo[s["id"]] = s[key] + sum(total(c) for c in by_parent.get(s["id"], []))
        return memo[s["id"]]

    return {s["id"]: total(s) for s in spans}


def quartile_spread(values):
    """Distance between the first and third quartile, as a share of the
    median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return (q3 - q1) / m if m else 0.0
