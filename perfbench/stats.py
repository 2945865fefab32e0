"""Arithmetic the benchmark reports with; self-tested in test_stats.py."""
import math

MIN_BEYOND = 10  # samples a reported tail percentile must have beyond it


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def beyond(n, p):
    """How many of n samples lie strictly above the nearest-rank p-th
    percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def highest_tail(n, candidates=(99, 95, 90, 80, 75, 66, 50)):
    """Highest candidate percentile with at least MIN_BEYOND samples beyond."""
    for p in candidates:
        if beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def abba(n):
    """Which of n consecutive blocks are traced: untraced, traced, traced,
    untraced, and so on. Over whole groups of four, a trend that is linear
    in the block index adds the same to both sides, so it cancels from
    traced minus untraced; alternating blocks would charge it to tracing."""
    return [i % 4 in (1, 2) for i in range(n)]


def union_ms(intervals):
    """Total length covered by a set of (start, end) intervals."""
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


def self_time(span, children):
    """A span's duration minus the part of it its children cover, with the
    children clipped to the span."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children if ce > s and cs < e]
    return (e - s) - union_ms(clipped)


def due_latencies(reqs):
    """Open-loop latency: completion minus the time the request was due,
    so a stalled sender's wait is charged to the requests behind it."""
    return [r["end"] - r["due"] for r in reqs]


def backlog(reqs, at):
    """Requests due by `at` that had not completed by `at`."""
    return sum(1 for r in reqs if r["due"] <= at and r["end"] > at)


def backlog_grows(reqs, connections):
    """True when the rung did not keep up: at the last due time more
    requests were outstanding than the connections can carry at once."""
    if not reqs:
        return False
    return backlog(reqs, max(r["due"] for r in reqs)) > connections


def assign_parents(spans, events):
    """Parent each listener event (start, end) to the innermost harness
    span whose interval holds the event's start; 0 when none does."""
    out = []
    for s, e in events:
        best, width = 0, math.inf
        for sp in spans:
            if sp["start"] <= s <= sp["end"] and sp["end"] - sp["start"] < width:
                best, width = sp["id"], sp["end"] - sp["start"]
        out.append(best)
    return out
