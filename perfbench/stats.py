"""Order statistics the benchmark reports."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> tuple[float, float, int]:
    """The highest percentile that still has at least TAIL_BEYOND samples
    above it: (value, percentile level, sample count).

    With n sorted samples that is the (n - TAIL_BEYOND)-th smallest, at
    level 100 * (n - TAIL_BEYOND) / n. Needs more than TAIL_BEYOND
    samples."""
    n = len(xs)
    if n <= TAIL_BEYOND:
        raise ValueError(f"a tail needs more than {TAIL_BEYOND} samples, got {n}")
    rank = n - TAIL_BEYOND
    return float(sorted(xs)[rank - 1]), 100.0 * rank / n, n
