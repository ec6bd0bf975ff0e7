"""Summary statistics used by the benchmark's metrics."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    return float(statistics.median(values))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least a
    share `p` of the samples at or below it (0 < p <= 1)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return float(xs[max(0, math.ceil(round(p * len(xs), 9)) - 1)])


def tail_percentile(values, want: float = 0.9, min_beyond: int = 10):
    """The highest nearest-rank percentile up to `want` that has at
    least `min_beyond` samples above it, as `(p, value)`, or
    `(None, None)` when n <= min_beyond supports none."""
    n = len(values)
    if n <= min_beyond:
        return None, None
    want_rank = math.ceil(round(want * n, 9))
    rank = min(want_rank, n - min_beyond)
    return (want if rank == want_rank else rank / n), float(sorted(values)[rank - 1])


def geomean(values) -> float:
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))
