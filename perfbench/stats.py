"""Summary statistics and span arithmetic for the benchmark."""
import statistics
from collections import defaultdict

TAIL_BEYOND = 10


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values, beyond=TAIL_BEYOND):
    """The highest percentile that still has at least `beyond` samples
    above it: with n sorted samples, the value at 0-based rank n-beyond-1.
    Returns (value, percentile, n), or None when n <= beyond."""
    n = len(values)
    if n <= beyond:
        return None
    rank = n - beyond - 1
    return sorted(values)[rank], 100.0 * (rank + 1) / n, n


def self_times(spans):
    """Self time per layer: each span's duration minus the durations of
    its direct children (never below zero), summed by layer. `spans` are
    dicts with id, parent (0 for a root), layer, start_ms and end_ms."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"]:
            child[s["parent"]] += s["end_ms"] - s["start_ms"]
    out = defaultdict(float)
    for s in spans:
        own = (s["end_ms"] - s["start_ms"]) - child[s["id"]]
        out[s["layer"]] += max(0.0, own)
    return dict(out)


def spread(values):
    """Inter-quartile range as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
