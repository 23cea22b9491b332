"""Arithmetic behind the benchmark's metrics. Pure functions over the raw
measurements the JVM harness writes; test_perfbench.py covers them."""
import math
import statistics


def nearest_rank(values, p):
    """The p-th percentile (0 < p <= 100) by nearest rank: no interpolation,
    so the value is one that was measured."""
    s = sorted(values)
    return s[max(1, math.ceil(p / 100.0 * len(s))) - 1]


def tail_percentile(n, cap=90):
    """The highest whole percentile, at most `cap`, that leaves at least ten
    samples beyond it by nearest rank. Never below the median: with fewer
    than 20 samples the median is the tail that can be reported."""
    p = cap
    while p > 50 and n - math.ceil(p / 100.0 * n) < 10:
        p -= 1
    return p


def tail(values, cap=90):
    """(value, percentile used) of the tail rule above."""
    p = tail_percentile(len(values), cap)
    return (nearest_rank(values, p) if p > 50 else median(values)), p


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to [lo, hi];
    overlapping intervals count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0, None, None
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


def busy_and_gap(op_start_ms, op_end_ms, wall_s, job_intervals_ms):
    """Splits one operation's wall time into executor-busy time (the union
    of its jobs' intervals inside the operation's window) and the driver
    gap, the rest. busy + gap == wall by construction."""
    busy = min(wall_s, union_length(job_intervals_ms, op_start_ms, op_end_ms) / 1e3)
    return busy, wall_s - busy


def ratio(num, den):
    """num / den, or 0.0 when there is nothing to divide by."""
    return num / den if den else 0.0


def write_amp(bytes_written, user_bytes):
    """Bytes written to storage per byte of user data committed."""
    return ratio(bytes_written, user_bytes)


def space_amp(table_bytes, live_plain_bytes):
    """On-disk bytes of the table per byte of its live rows as plain parquet."""
    return ratio(table_bytes, live_plain_bytes)


def skew(task_ms):
    """Max over median task time of one stage (1.0 for a single task)."""
    if not task_ms or max(task_ms) == 0:
        return 1.0
    return max(task_ms) / max(1.0, statistics.median(task_ms))


def median(values):
    """The median; 0.0 when nothing was measured."""
    return statistics.median(values) if values else 0.0
