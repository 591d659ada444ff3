"""Statistics of graft-bench: percentiles, the tail rule, layer self time
and the error rate. Pure functions over plain lists and dicts."""
import statistics

# Tail percentiles, highest first. The tail of a sample set is the highest
# of these with at least TAIL_BEYOND samples strictly above its value.
TAIL_LADDER = (99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 66.0, 50.0)
TAIL_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p % of
    the samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    rank = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100)
    return s[int(rank) - 1]


def tail(values):
    """(value, percentile, n) for the highest ladder percentile that has at
    least ten samples beyond it; None when there are too few samples."""
    for p in TAIL_LADDER:
        v = percentile(values, p)
        if sum(1 for x in values if x > v) >= TAIL_BEYOND:
            return v, p, len(values)
    return None


def median(values):
    return statistics.median(values)


def self_times(spans):
    """Self time per layer, in seconds: each span's duration minus the part
    covered by its children. A child is clipped to its parent, and where
    children overlap the earlier one keeps the overlap, so the self times
    of a tree add up to the duration of its root."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}

    def visit(s, lo, hi):
        start, end = max(s["start"], lo), min(s["end"], hi)
        if end <= start:
            return
        covered, cursor = 0, start
        for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
            a, b = max(c["start"], cursor), min(c["end"], end)
            visit(c, a, end)
            if b > a:
                covered += b - a
                cursor = b
        out[s["layer"]] = out.get(s["layer"], 0.0) + (end - start - covered) / 1e9

    ids = {s["id"] for s in spans}
    for s in spans:
        if s["parent"] not in ids:
            visit(s, s["start"], s["end"])
    return out


def error_counts(samples, checks):
    """(attempted, failed): every op executed, and those that threw or
    whose answer a check rejected (at most all of them: a whole-table check
    belongs to no single op)."""
    attempted = sum(1 for s in samples if s["kind"] != "batch")
    failed = sum(1 for s in samples if s["kind"] != "batch" and not s["ok"])
    failed += sum(1 for c in checks if not c["ok"])
    return attempted, min(failed, attempted)
