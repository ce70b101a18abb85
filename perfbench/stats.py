"""Order statistics and the seed-to-order mapping."""

from __future__ import annotations

import random
import statistics

TAIL_PERCENTILES = (99, 95, 90, 75)


def gate_order(gates: list[str], seed: int, pass_index: int) -> list[str]:
    """The gate order of one pass: a permutation of ``gates`` that depends
    only on the run seed and the pass index (string seeding is stable
    across Python versions)."""
    return random.Random(f"{seed}:{pass_index}").sample(list(gates), len(gates))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, -(-len(s) * p // 100) - 1))
    return s[int(k)]


def tail(values: list[float]) -> tuple[int, float] | None:
    """(percentile, value) for the highest percentile of TAIL_PERCENTILES
    that leaves at least ten samples above it, or None if none does."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if n * (100 - p) / 100 >= 10:
            return p, percentile(values, p)
    return None


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else 0.0
