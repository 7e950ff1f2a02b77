"""The benchmark's own math: medians, the tail-percentile rank rule, the
geometric mean and the job-interval union behind exec.driver_gap_s."""
import math

TAIL_BEYOND = 10


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs):
    """The highest percentile with at least TAIL_BEYOND samples beyond it.

    With n samples sorted ascending, the k-th smallest (1-based) has n - k
    samples beyond it, so the highest admissible rank is k = n - 10.
    Returns (value, percentile, n); needs at least 11 samples."""
    s = sorted(xs)
    n = len(s)
    if n <= TAIL_BEYOND:
        raise ValueError(f"tail needs more than {TAIL_BEYOND} samples, got {n}")
    k = n - TAIL_BEYOND
    return s[k - 1], 100.0 * k / n, n


def geomean(xs):
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_length(intervals, lo, hi):
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total = 0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_gap(intervals, lo, hi):
    """Action wall [lo, hi] minus the part of it some job was running."""
    return (hi - lo) - union_length(intervals, lo, hi)
