"""Pure functions behind the reported numbers (tested in perfbench/tests)."""
import math
import statistics

MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs)


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail_percentile(guaranteed, min_beyond=MIN_BEYOND):
    """The highest percentile, to 0.1, that leaves at least `min_beyond`
    of `guaranteed` samples above its nearest rank; never below the
    median. It depends only on the sample count every run is sure to
    reach, so it does not move between runs that pool a few more."""
    p = math.floor(1000.0 * (guaranteed - min_beyond) / guaranteed) / 10.0 if guaranteed else 0.0
    return max(p, 50.0)


def tail(xs, guaranteed=None, min_beyond=MIN_BEYOND):
    """The tail latency: the sample at `tail_percentile(guaranteed)`,
    where `guaranteed` defaults to len(xs). Returns (percentile, value,
    samples beyond). A run too short for ten samples above its median
    gets the median with its (too small) count, so the record shows the
    tail is undersampled."""
    p = tail_percentile(len(xs) if guaranteed is None else guaranteed, min_beyond)
    v = percentile(xs, p)
    return p, v, sum(1 for x in xs if x > v)


def is_failure(sample):
    """An exception, a timeout (a cancelled op raises) or an output
    check mismatch on the op's output."""
    return bool(sample["error"]) or bool(sample.get("check_failed"))


def failure_counts(samples):
    """(attempted, failed) over timed op samples."""
    return len(samples), sum(1 for s in samples if is_failure(s))


def union_length(intervals):
    """Total length covered by (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover."""
    clipped = [(max(s, start), min(e, end)) for s, e in children if e > start and s < end]
    return (end - start) - union_length(clipped)


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
