"""Reductions the benchmark applies to raw samples: percentiles, the
tail-percentile rule, backlog and catch-up detection, and span self time.
Kept free of I/O so `test_stats.py` can pin each rule on small inputs."""

import math

# Percentiles the benchmark may report, highest first.
LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def _rank(p, n):
    """1-based nearest rank of percentile p among n values (rounded first,
    so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the values at or below it. None for no values."""
    if not values:
        return None
    xs = sorted(values)
    return xs[min(_rank(p, len(xs)), len(xs)) - 1]


def median(values):
    """middle value; the mean of the two middle values for an even count"""
    if not values:
        return None
    xs = sorted(values)
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def geomean(values):
    """geometric mean of positive values; None for no values"""
    if not values:
        return None
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail_percentile(n):
    """The highest percentile of LADDER with at least ten of n samples
    beyond it, or None when even the median has fewer than ten."""
    for p in LADDER:
        if n - _rank(p, n) >= 10:
            return p
    return None


def backlog_rows(batches, start_ms, rate):
    """Rows due but not yet consumed when each micro-batch started.

    batches: [(batch_start_ms, start_offset)] of one query run; a row i
    is due at start_ms + i * 1000 / rate."""
    return [max(0, (t - start_ms) * rate // 1000 - off) for t, off in batches]


def backlog_growing(backlogs, slack):
    """True when the backlog over the last third of the batches exceeds
    the first third's by more than `slack` rows: the offered rate is not
    being sustained."""
    k = len(backlogs) // 3
    if k == 0:
        return False
    first = sum(backlogs[:k]) / k
    last = sum(backlogs[-k:]) / k
    return last - first > slack


def catchup_ms(batches, threshold_ms, restart_ms):
    """Time from restart until sampled latency is back under the
    threshold: the arrival of the first batch (in arrival order) whose
    median sample latency is at or under it. None if none is.

    batches: [(arrival_ms, [latency_ms, ...])]"""
    for arrival, lats in sorted(batches):
        if lats and median(lats) <= threshold_ms:
            return arrival - restart_ms
    return None


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    total, reach = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        s = max(s, reach)
        if e > s:
            total += e - s
            reach = e
    return total


def self_times(spans):
    """Per-layer self time: each span's duration minus the part of its
    interval its child spans cover, summed by layer.

    spans: [{"id", "parent", "layer", "start_ms", "end_ms"}]"""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        dur = s["end_ms"] - s["start_ms"]
        own = dur - covered(children.get(s["id"], []), s["start_ms"], s["end_ms"])
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out
