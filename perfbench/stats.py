"""Statistics of the benchmark: the tail rule, span self time, rollups."""
import math
import statistics


def tail_percentile(samples, beyond=10):
    """The highest whole percentile with at least `beyond` samples above it.

    Returns `(percentile, value)` with the nearest-rank value, or None when
    fewer than `beyond + 1` samples exist (then no percentile qualifies).
    """
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 0, -1):
        rank = math.ceil(p * n / 100)  # nearest rank, 1-based
        if rank >= 1 and n - rank >= beyond:
            return p, xs[rank - 1]
    return None


def self_times(spans):
    """Self time per span id: its duration minus the part of its interval
    that its child spans cover (children may overlap each other)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["t0"], s["t1"]
        covered, end = 0.0, lo
        for c in sorted(children.get(s["id"], []), key=lambda c: c["t0"]):
            a, b = max(c["t0"], end), min(c["t1"], hi)
            if b > a:
                covered += b - a
                end = b
        out[s["id"]] = (hi - lo) - covered
    return out


def median(values):
    return statistics.median(values) if values else 0.0


def subtree(spans, root_id):
    """Spans under (and including) `root_id`."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [s for s in spans if s["id"] == root_id]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out
