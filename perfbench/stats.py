"""Small, dependency-free statistics the benchmark reports.

Kept apart from the Spark code so the tests in ``perfbench/tests`` can
check them without starting a JVM.
"""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Sequence

# Candidate tail percentiles, highest first.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """Highest candidate percentile with at least ``MIN_BEYOND`` of ``n``
    samples beyond it, or None when not even the median has."""
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9:  # 100 - 99.9 is inexact
            return p
    return None


def event_latencies_ms(
    due_us: Iterable[int], result_us: Iterable[int]
) -> list[float]:
    """Latency of each event from its *scheduled* send time to the time
    its result was committed.

    Timing from the due time, not the actual send time, charges a stall
    to every event scheduled during it, including the ones the
    generator could only send late.
    """
    return [(r - d) / 1000.0 for d, r in zip(due_us, result_us, strict=True)]


def backlog_series(
    published: Sequence[tuple[float, int]],
    committed: Sequence[tuple[float, int]],
    t0: float,
    t1: float,
    step: float,
) -> tuple[list[float], list[int]]:
    """Backlog (rows published minus rows committed) sampled every
    ``step`` seconds over ``[t0, t1]``.

    ``published`` and ``committed`` are ``(time, rows)`` increments.
    """
    if step <= 0:
        raise ValueError("step must be positive")
    pub = sorted(published)
    com = sorted(committed)
    ts: list[float] = []
    ys: list[int] = []
    i = j = 0
    pub_rows = com_rows = 0
    t = t0
    while t <= t1 + 1e-9:
        while i < len(pub) and pub[i][0] <= t:
            pub_rows += pub[i][1]
            i += 1
        while j < len(com) and com[j][0] <= t:
            com_rows += com[j][1]
            j += 1
        ts.append(t)
        ys.append(pub_rows - com_rows)
        t += step
    return ts, ys


def slope(xs: Sequence[float], ys: Sequence[float]) -> float:
    """Least-squares slope of ``ys`` over ``xs`` (0 for fewer than 2 points)."""
    n = len(xs)
    if n < 2:
        return 0.0
    mx = sum(xs) / n
    my = sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx


def spread(values: Sequence[float]) -> dict[str, float]:
    """Median, quartiles and IQR/median of a metric over several runs,
    with quartiles as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        raise ValueError("need at least two runs")
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "n": len(values),
        "median": med,
        "q1": q1,
        "q3": q3,
        "iqr_over_median": (q3 - q1) / med if med else math.inf,
    }
