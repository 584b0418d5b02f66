"""Pure helpers for the benchmark's metrics: percentiles, interval unions
and span self time. Kept free of I/O so the tests can pin them."""
import math

MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile of `values` at fraction `p` (0 < p <= 1).

    Returns (value, n, beyond): `n` is the sample count and `beyond` the
    number of samples strictly ranked above the chosen one. A tail
    percentile is trustworthy only when `beyond >= MIN_BEYOND`.
    """
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    n = len(xs)
    rank = max(1, math.ceil(p * n))
    return xs[rank - 1], n, n - rank


def samples_needed(p, beyond=MIN_BEYOND):
    """Smallest sample count whose p-percentile has `beyond` samples above."""
    n = beyond
    while percentile(range(n), p)[2] < beyond:
        n += 1
    return n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` [(start, end)], optionally
    clipped to [lo, hi]. Overlapping intervals count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0
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


def self_time(span, children):
    """A span's duration minus the time its children cover within it."""
    return (span[1] - span[0]) - union_length(children, span[0], span[1])


def median(values):
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2
