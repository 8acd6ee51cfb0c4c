"""Order statistics for the benchmark's reports."""
import math

UPPER_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_TAIL = 10


def percentile(xs, p):
    """The p-th percentile (0-100) by linear interpolation between closest
    ranks, the `inclusive` method of Python's `statistics.quantiles`."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    if len(s) == 1:
        return float(s[0])
    h = (len(s) - 1) * p / 100.0
    lo = math.floor(h)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (h - lo))


def median(xs):
    return percentile(xs, 50.0)


def upper(xs):
    """The highest percentile in UPPER_CANDIDATES that has at least
    MIN_TAIL samples beyond it, as (p, value), or None when n is too small
    for any of them to be more than a guess."""
    n = len(xs)
    for p in UPPER_CANDIDATES:
        if n * (1.0 - p / 100.0) >= MIN_TAIL - 1e-9:
            return p, percentile(xs, p)
    return None


def summary(xs):
    """{"n", "median", "upper_p", "upper"} for one sample list."""
    up = upper(xs)
    return {"n": len(xs), "median": median(xs) if xs else None,
            "upper_p": up[0] if up else None, "upper": up[1] if up else None}
