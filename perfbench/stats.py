"""Summary statistics and span arithmetic for the benchmark."""
import math
import statistics


def median(values):
    return statistics.median(values) if values else None


def percentile(values, p, min_beyond=10):
    """Nearest-rank p-th percentile, or None unless at least
    `min_beyond` samples lie beyond it (a tail read off fewer samples
    is not reported)."""
    if not values:
        return None
    rank = max(1, math.ceil(p / 100.0 * len(values)))
    if len(values) - rank < min_beyond:
        return None
    return sorted(values)[rank - 1]


def self_time_ns(span, children):
    """A span's duration minus the part of its interval that its child
    spans cover (overlapping children are counted once)."""
    start, end = span["start_ns"], span["end_ns"]
    covered, cur_start, cur_end = 0, None, None
    for c in sorted(children, key=lambda c: c["start_ns"]):
        s, e = max(c["start_ns"], start), min(c["end_ns"], end)
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        covered += cur_end - cur_start
    return (end - start) - covered
