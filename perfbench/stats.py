"""Arithmetic behind the end-to-end metrics, and host-noise diagnostics."""

from __future__ import annotations

import math
import os
import statistics
import time


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values (every query counts equally,
    however long it runs)."""
    if not values:
        raise ValueError("geomean of no values")
    if any(v <= 0 for v in values):
        raise ValueError(f"geomean needs positive values, got {min(values)}")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def failed_frac(failed: int, attempted: int) -> float:
    """Share of attempted query executions that raised or failed a check."""
    if attempted <= 0:
        raise ValueError("no query executions were attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def steady_times(samples: dict[str, list[float]]) -> dict[str, float]:
    """Per-query steady-state time: the median of that query's timed
    samples. Queries with no successful sample are left out."""
    return {q: statistics.median(ts) for q, ts in samples.items() if ts}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


class HostNoise:
    """Steal share and load average over a measured window. Diagnostics
    only: nothing retries or filters on them."""

    def __init__(self) -> None:
        self._t0 = time.time()
        self._ticks0 = cpu_ticks()
        self._load0 = os.getloadavg()[0]

    def report(self) -> dict:
        steal0, total0 = self._ticks0
        steal1, total1 = cpu_ticks()
        return {
            "steal_pct": round(100.0 * (steal1 - steal0) / max(1, total1 - total0), 3),
            "loadavg_start": round(self._load0, 2),
            "loadavg_end": round(os.getloadavg()[0], 2),
            "window_s": round(time.time() - self._t0, 3),
            "nproc": nproc(),
        }
