"""Order statistics used to turn raw samples into reported metrics."""


def median(values):
    """Median of a non-empty sequence (mean of the two middle values when
    the count is even)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no values")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def percentile(values, q):
    """The q-th quantile (0 <= q <= 1) with linear interpolation between
    closest ranks, as numpy's default method."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    if not 0.0 <= q <= 1.0:
        raise ValueError("q must lie in [0, 1]")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def quartiles(values):
    """First and third quartile, as ``statistics.quantiles(values, n=4)``
    (the 'exclusive' method) gives them."""
    xs = sorted(values)
    n = len(xs)
    if n < 2:
        raise ValueError("quartiles need at least two values")
    out = []
    for i in (1, 3):
        k = min(max(i * (n + 1) // 4, 1), n - 1)
        delta = i * (n + 1) - k * 4
        out.append((xs[k - 1] * (4 - delta) + xs[k] * delta) / 4.0)
    return out[0], out[1]


def relative_spread(values):
    """Interquartile distance as a share of the median."""
    q1, q3 = quartiles(values)
    return (q3 - q1) / median(values)
