"""Summary statistics and span arithmetic for the benchmark's results."""

TAIL_MIN_BEYOND = 10


def median(values):
    v = sorted(values)
    n = len(v)
    if n == 0:
        raise ValueError("median of no values")
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    values at or below it."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no values")
    rank = max(1, -(-len(v) * p // 100))  # ceil(n * p / 100)
    return v[min(len(v), int(rank)) - 1]


def tail(values, min_beyond=TAIL_MIN_BEYOND):
    """The highest whole percentile that still has at least `min_beyond`
    samples strictly above it. Returns (value, percentile, samples beyond),
    or None when there are too few samples for any percentile from 50 up."""
    v = sorted(values)
    for p in range(99, 49, -1):
        value = percentile(v, p)
        beyond = sum(1 for x in v if x > value)
        if beyond >= min_beyond:
            return value, p, beyond
    return None


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of (start, end) intervals, clipped
    to [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
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
    """Self time of every span: its duration minus the part of it covered
    by its children, where overlapping children are counted once. `spans`
    are dicts with id, parent, start and end. Returns {id: seconds}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }
