"""Pure summary helpers for the benchmark's timings."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def nearest_rank(sorted_xs, p):
    """Value at percentile p (0-100) by the nearest-rank rule."""
    if not sorted_xs:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p / 100.0 * len(sorted_xs)))
    return sorted_xs[rank - 1]


def tail_percentile(n, beyond=10):
    """Highest whole percentile with at least `beyond` samples above its
    nearest-rank value, never below the median (50): with fewer than
    2 * beyond samples no percentile above the median qualifies."""
    if n <= 0:
        raise ValueError("no samples")
    p = 50
    for q in range(99, 50, -1):
        if n - math.ceil(q / 100.0 * n) >= beyond:
            p = q
            break
    return p


def tail(xs, beyond=10):
    """(percentile, value, sample count) of the tail timing of xs."""
    s = sorted(xs)
    p = tail_percentile(len(s), beyond)
    return p, nearest_rank(s, p), len(s)


def growth(xs):
    """Mean of the last quarter of xs over the mean of the first quarter
    (at least one sample each); 1.0 for fewer than two samples."""
    if len(xs) < 2:
        return 1.0
    q = max(1, len(xs) // 4)
    first = statistics.mean(xs[:q])
    return statistics.mean(xs[-q:]) / first if first > 0 else 1.0

