"""Summary statistics the benchmark reports, kept apart so they can be tested.

A timing is reported as its median and its tail: the highest percentile
that still has at least ten samples beyond it, stated with the percentile
and the sample count, so a tail is never read off a handful of samples.
"""
import math
import statistics

TAIL_BEYOND = 10


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def quartiles(xs):
    """(first, third) quartile as `statistics.quantiles(xs, n=4)` gives them."""
    if len(xs) < 2:
        raise ValueError("quartiles need at least two samples")
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, q3 = quartiles(xs)
    return (q3 - q1) / median(xs)


def geomean(xs):
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(xs, beyond=TAIL_BEYOND):
    """(percentile, value, n) of the highest whole percentile p whose
    nearest-rank value has at least `beyond` samples above its rank.

    Returns None when fewer than 2 * beyond samples exist, because then not
    even the median has `beyond` samples past it."""
    n = len(xs)
    if n < 2 * beyond:
        return None
    s = sorted(xs)
    for p in range(99, 49, -1):
        rank = math.ceil(p * n / 100)
        if n - rank >= beyond:
            return p, s[rank - 1], n
    return None


def union_ms(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    """Intervals cut to the window [lo, hi]; empty ones dropped."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]
