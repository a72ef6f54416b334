"""The benchmark's arithmetic: summaries of timing samples, span self
times and the ratios it reports. Pure functions over plain numbers, so
perfbench/test_metrics.py can check each one on tiny fixed inputs."""
import math
import statistics


def median(xs):
    return statistics.median(xs)


def nearest_rank(xs, p):
    """The p-th percentile of xs by the nearest-rank rule."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail_percentile(n, target=90.0):
    """The percentile to report as the tail of n samples: `target`, or the
    highest percentile with at least ten samples beyond it when n is too
    small for `target`. Below 20 samples no percentile above the median
    has ten beyond it, and the median is returned."""
    if n < 20:
        return 50.0
    return min(target, 100.0 * (n - 10) / n)


def tail(xs, target=90.0):
    """(value, percentile) of the tail of xs by `tail_percentile`; at the
    50th percentile the value is the median, so it never reads below it."""
    p = tail_percentile(len(xs), target)
    return (median(xs) if p == 50.0 else nearest_rank(xs, p)), p


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def covered(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Self time per span id: its duration minus the part of its interval
    its child spans cover. Spans are dicts with id, parent, start, end;
    overlapping children are counted once."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def slot_util(task_busy_ms, cores, wall_ms):
    """Share of the task slots kept busy over a wall-clock window."""
    return task_busy_ms / (cores * wall_ms)


def write_amp(bytes_written, bytes_read):
    """Bytes written per byte of source data read."""
    return bytes_written / bytes_read
