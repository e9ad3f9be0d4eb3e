"""Summary statistics and span arithmetic for the construction benchmark.

Pure functions, no I/O, so perfbench/tests can pin them down.
"""
import statistics


def median(values):
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def percentile(values, q):
    """Linear-interpolated q-quantile (0 <= q <= 1) of the samples."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n, q):
    """How many of n samples lie above the q-quantile's rank."""
    return n - 1 - int(q * (n - 1))


def tail_percentile(values, q, min_beyond=10):
    """The q-quantile, only when at least `min_beyond` samples lie beyond it."""
    if samples_beyond(len(values), q) < min_beyond:
        raise ValueError(
            f"{len(values)} samples leave fewer than {min_beyond} beyond p{round(q * 100)}")
    return percentile(values, q)


def union_length(intervals, lo=None, hi=None):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Span id -> duration minus the part of it its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_s"], s["end_s"]))
    return {
        s["id"]: (s["end_s"] - s["start_s"])
        - union_length(children.get(s["id"], []), s["start_s"], s["end_s"])
        for s in spans
    }


def driver_times(spans, jobs):
    """Span id -> part of its duration during which no Spark job ran."""
    intervals = [(j["start_s"], j["end_s"]) for j in jobs]
    return {
        s["id"]: (s["end_s"] - s["start_s"])
        - union_length(intervals, s["start_s"], s["end_s"])
        for s in spans
    }


SPAN_COUNTERS = ("jobs", "task_s", "input_bytes", "shuffle_write_bytes",
                 "spill_bytes", "rows_out")


def per_span_name(spans, jobs):
    """Span name -> totals over every span of that name: wall_s, self_s,
    driver_s and the listener counters."""
    selfs = self_times(spans)
    drivers = driver_times(spans, jobs)
    out = {}
    for s in spans:
        t = out.setdefault(s["name"], dict.fromkeys(
            ("count", "wall_s", "self_s", "driver_s") + SPAN_COUNTERS, 0))
        t["count"] += 1
        t["wall_s"] += s["end_s"] - s["start_s"]
        t["self_s"] += selfs[s["id"]]
        t["driver_s"] += drivers[s["id"]]
        for c in SPAN_COUNTERS:
            t[c] += s[c]
    return out
