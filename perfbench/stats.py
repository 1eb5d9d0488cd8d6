"""The benchmark's arithmetic: percentiles with their sample count, span
self time, the union of task intervals, open-loop lateness."""
import math
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values, p=99.0, min_beyond=10):
    """The p-th percentile (nearest rank) if at least `min_beyond` samples
    lie above it, otherwise the highest percentile that has that many.
    Returns (value, percentile reported, sample count); with fewer than
    min_beyond + 1 samples it falls back to the maximum."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    rank = min(max(1, math.ceil(p / 100.0 * n)), n - min_beyond)  # 1-based
    if rank < 1:
        rank = n
    return xs[rank - 1], 100.0 * rank / n, n


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [start, end) intervals, clipped to [lo, hi)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
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
    """{span id: its duration minus the part of it its child spans cover}.
    Spans are dicts with id, parent, start_ms and end_ms."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - union_length(children.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}


def lateness_ms(sent):
    """How far behind its schedule an open-loop feeder ran: the largest
    send time minus due time over all messages (0 if never late)."""
    return max([0.0] + [m["sent_ms"] - m["due_ms"] for m in sent])
