"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics


def tail(values: list[float], beyond: int) -> tuple[float, float]:
    """The highest nearest-rank percentile with at least ``beyond``
    samples above it, as ``(percentile, value)``.

    With ``n`` sorted samples that is the sample at rank ``n - beyond``
    (1-based), i.e. percentile ``100 * (n - beyond) / n``: 100 samples
    and ``beyond=10`` give p90.  Raises when ``n <= beyond``.
    """
    n = len(values)
    if n <= beyond:
        raise ValueError(f"{n} samples cannot leave {beyond} beyond a percentile")
    return 100.0 * (n - beyond) / n, sorted(values)[n - beyond - 1]


def steal_free(wall: float, stolen: int, wanted: int) -> float:
    """``wall`` less the share of it the hypervisor gave to other guests:
    ``stolen`` of the ``wanted`` CPU ticks (busy + stolen) the VM asked
    for in the interval.  The time the interval would have taken had the
    VM run whenever it was ready, for work that keeps its vCPUs busy."""
    return wall * (1.0 - stolen / wanted) if wanted else wall


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
