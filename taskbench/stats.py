"""Order statistics for the benchmark's reported metrics."""
import math


def percentile(xs, q):
    """The q-th percentile (0..100) of `xs`, linear between closest ranks.

    Matches numpy's default ("linear") method: rank (n - 1) * q / 100.
    """
    if not xs:
        raise ValueError("percentile of no values")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside 0..100")
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs):
    return percentile(xs, 50)
