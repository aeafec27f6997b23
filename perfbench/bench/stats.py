"""Order statistics used by the benchmark's metrics."""
import math
import statistics

# A tail percentile is reported only when at least this many samples lie
# beyond it, so p90 needs 100 samples and p50 needs 20.
MIN_BEYOND = 10


def median(values):
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def samples_needed(q):
    """Fewest samples for which the q-th percentile has MIN_BEYOND beyond it."""
    return math.ceil(MIN_BEYOND / (1 - q / 100) - 1e-9)


def percentile(values, q):
    """Nearest-rank q-th percentile: the smallest sample with at least q% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0 < q <= 100:
        raise ValueError(f"percentile {q} outside (0, 100]")
    ordered = sorted(values)
    rank = math.ceil(q / 100 * len(ordered) - 1e-9)
    return ordered[max(rank, 1) - 1]
