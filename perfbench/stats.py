"""Summary statistics the benchmark reports."""
import math

# Percentiles the tail may be reported at, lowest first.
TAIL_LADDER = tuple(range(50, 100, 5)) + (99, 99.9)
TAIL_MIN_BEYOND = 10


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def nearest_rank(xs, p):
    """The p-th percentile by nearest rank, and how many samples lie beyond it."""
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100 * len(s)))
    return s[rank - 1], len(s) - rank


def tail(xs):
    """The highest ladder percentile with at least TAIL_MIN_BEYOND samples
    beyond it. Returns (percentile, value, samples, beyond); with too few
    samples for any rung it falls back to the median and says so through
    `beyond`."""
    best = None
    for p in TAIL_LADDER:
        value, beyond = nearest_rank(xs, p)
        if beyond >= TAIL_MIN_BEYOND:
            best = (p, value, len(xs), beyond)
    if best is None:
        value, beyond = nearest_rank(xs, 50)
        best = (50, value, len(xs), beyond)
    return best
