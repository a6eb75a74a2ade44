"""Summary statistics and process measurements for the benchmark."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least
    ``beyond`` samples above it in ``values``.

    The sample at sorted index ``i`` has ``n - 1 - i`` samples after it,
    so the pick is index ``n - 1 - beyond``; its percentile is the share
    of samples at or below it. Fewer than ``beyond + 1`` samples support
    no such percentile.
    """
    n = len(values)
    if n <= beyond:
        raise ValueError(
            f"{n} samples cannot leave {beyond} beyond any percentile"
        )
    i = n - 1 - beyond
    return sorted(values)[i], 100.0 * (i + 1) / n


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0
