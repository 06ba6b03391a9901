"""The harness's own arithmetic: medians, the tail-percentile rule, span
self time and ratios with an explicit base."""
import math
import statistics

PERCENTILES = (99.9, 99, 95, 90, 75, 50)


def median(xs):
    return statistics.median(xs)


def _rank(p, n):
    """1-based nearest rank of percentile p among n samples."""
    return max(1, math.ceil(round(p * n / 100, 9)))


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    return s[_rank(p, len(s)) - 1]


def tail_percentile(n):
    """The highest percentile of PERCENTILES that leaves at least ten of
    `n` samples strictly beyond its nearest-rank sample, or None."""
    for p in PERCENTILES:
        if n - _rank(p, n) >= 10:
            return p
    return None


def ratio(num, base):
    """num / base, or 0.0 when the base is empty (nothing to compare)."""
    return num / base if base else 0.0


def spread(xs):
    """Interquartile range as a share of the median (the run-to-run
    spread the benchmark's bounds are judged against)."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def _covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Self seconds per layer: each span's duration minus the part of its
    interval that its child spans cover. `spans` are (id, parent, name,
    layer, t0, t1) rows."""
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append((s[4], s[5]))
    out = {}
    for sid, _, _, layer, t0, t1 in spans:
        own = (t1 - t0) - _covered(children.get(sid, []), t0, t1)
        out[layer] = out.get(layer, 0.0) + own
    return out
