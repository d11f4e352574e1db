"""Sample statistics and metric-name rules of the benchmark."""
import math
import re

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
PERCENTILES = (50, 75, 90, 95, 99, 99.9)


def valid_name(name):
    return isinstance(name, str) and NAME_RE.fullmatch(name) is not None


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def geomean(xs):
    if not xs or min(xs) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100 * len(s)))
    return s[rank - 1]


def tail(xs, beyond=10):
    """The highest standard percentile that still has at least `beyond`
    samples above its rank, as (percentile, value); None when even the
    median has fewer (fewer than 2 * beyond samples)."""
    n = len(xs)
    best = None
    for p in PERCENTILES:
        if n - max(1, math.ceil(p / 100 * n)) >= beyond:
            best = p
    return None if best is None else (best, percentile(xs, best))
