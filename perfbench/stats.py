"""Order statistics used by the benchmark's reports."""

from __future__ import annotations

import statistics

#: samples a tail percentile must leave beyond it
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values: list[float]) -> tuple[float, float]:
    """Latency at the highest percentile with ``TAIL_BEYOND`` samples
    beyond it, and that percentile.

    With ``n`` samples this is the ``TAIL_BEYOND + 1``-th largest sample,
    the ``100 * (n - TAIL_BEYOND) / n`` percentile by nearest rank. Below
    ``2 * TAIL_BEYOND`` samples that rank falls under the median, and the
    median is returned instead, labelled 50.
    """
    n = len(values)
    if n < 2 * TAIL_BEYOND:
        return median(values), 50.0
    ordered = sorted(values)
    return float(ordered[n - TAIL_BEYOND - 1]), 100.0 * (n - TAIL_BEYOND) / n

