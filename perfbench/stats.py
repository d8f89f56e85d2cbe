"""Order statistics used by the benchmark's metrics."""

from __future__ import annotations

import statistics

# a tail percentile must leave at least this many samples above it
TAIL_MIN_BEYOND = 10


def p50(samples: list[float]) -> float:
    if not samples:
        raise ValueError("p50 of no samples")
    return float(statistics.median(samples))


def tail(samples: list[float]) -> dict | None:
    """The highest percentile that still has at least TAIL_MIN_BEYOND
    samples beyond it: the (n - 10)-th smallest of n samples, reported
    with its percentile and the sample count. None when there are too
    few samples for any such percentile (n <= 10)."""
    n = len(samples)
    rank = n - TAIL_MIN_BEYOND  # 1-based rank of the tail sample
    if rank < 1:
        return None
    value = sorted(samples)[rank - 1]
    return {"value": float(value), "percentile": round(100.0 * rank / n, 2),
            "n": n, "beyond": n - rank}


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median (the steadiness
    figure the acceptance check uses)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
