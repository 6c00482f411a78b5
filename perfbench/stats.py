"""Pure helpers of the benchmark: percentiles with a sample-count rule,
span self times, and run-to-run spread. No I/O; tested by test_bench.py."""

import math
import statistics

# a tail percentile needs at least this many samples beyond it
MIN_BEYOND = 10


class InsufficientSamples(ValueError):
    pass


def percentile(xs, p):
    """The p-th quantile (0 < p < 1) of xs by linear interpolation, and the
    sample count. A percentile above the median is refused unless at least
    MIN_BEYOND samples lie beyond it."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        raise InsufficientSamples("no samples")
    if p > 0.5 and math.floor(n * (1 - p) + 1e-9) < MIN_BEYOND:
        raise InsufficientSamples(
            f"p{round(p * 100)} of {n} samples has fewer than {MIN_BEYOND} beyond it")
    pos = p * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def highest_percentile(n):
    """The highest whole percentile of n samples that percentile() accepts."""
    best = 50
    for q in range(51, 100):
        if math.floor(n * (1 - q / 100) + 1e-9) >= MIN_BEYOND:
            best = q
    return best


def union_length(intervals):
    """Total length covered by (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
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


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    children cover. spans: iterable of (id, parent, start, end)."""
    spans = list(spans)
    kids = {}
    for sid, parent, s, e in spans:
        kids.setdefault(parent, []).append((s, e))
    out = {}
    for sid, parent, s, e in spans:
        covered = union_length((max(cs, s), min(ce, e))
                               for cs, ce in kids.get(sid, []) if ce > s and cs < e)
        out[sid] = (e - s) - covered
    return out


def spread(values):
    """Distance between first and third quartile, as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def median(xs):
    return statistics.median(xs) if xs else 0.0
