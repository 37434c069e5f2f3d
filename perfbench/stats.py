"""Statistics helpers of the graft benchmark."""
import math


def tail_percentile(n, beyond=10):
    """The highest whole percentile that leaves at least `beyond` of `n`
    samples above it under the nearest-rank definition, or None when `n`
    is too small for any percentile to have that many beyond it."""
    if n <= beyond:
        return None
    p = math.floor(100.0 * (n - beyond) / n)
    while p > 0 and n - math.ceil(p * n / 100.0) < beyond:
        p -= 1
    return p


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p % of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(p * len(xs) / 100.0))
    return xs[k - 1]


def tail(values, p):
    """The value at percentile `p`, checked against the ten-beyond rule."""
    need = tail_percentile(len(values))
    if need is None or p > need:
        raise ValueError(f"p{p} of {len(values)} samples leaves fewer than ten beyond it")
    return percentile(values, p)
