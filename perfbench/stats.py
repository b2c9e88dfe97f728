"""The benchmark's arithmetic: percentiles, interval unions, self time,
driver gap. Pure functions over plain numbers, tested in tests/."""
import math

# Percentiles the benchmark may report, highest first.
LADDER = (99, 95, 90, 75, 50)
MIN_BEYOND = 10


def beyond(n, q):
    """How many of n samples lie beyond the nearest-rank q-th percentile
    (the smallest sample with at least q% of the samples at or below it)."""
    return n - max(1, math.ceil(q / 100 * n))


def supported_percentile(n, ladder=LADDER, min_beyond=MIN_BEYOND):
    """The highest percentile of the ladder with at least `min_beyond`
    samples beyond it, or None when not even the median has."""
    for q in ladder:
        if beyond(n, q) >= min_beyond:
            return q
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    """The parts of the intervals that fall inside [start, end]."""
    return [(max(s, start), min(e, end)) for s, e in intervals
            if min(e, end) > max(s, start)]


def self_time(start, end, children):
    """A span's duration minus the part of it its child spans cover;
    overlapping children count once."""
    return (end - start) - union_length(clip(children, start, end))


def driver_gap(start, end, jobs):
    """Wall time of a span not covered by any of its jobs' intervals."""
    return (end - start) - union_length(clip(jobs, start, end))

