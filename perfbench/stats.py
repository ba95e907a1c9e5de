"""Latency statistics and host/process readings the benchmark reports."""

from __future__ import annotations

import statistics

#: A tail percentile is reported only where at least this many samples
#: lie beyond it, so one slow sample cannot be the whole tail.
TAIL_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile of ``samples`` with at least
    ``TAIL_BEYOND`` samples strictly beyond it.

    Returns ``(value, percentile, n)``: the order statistic with exactly
    ``TAIL_BEYOND`` samples above it, the share of samples at or below
    it (in percent) and the sample count. ``None`` when fewer than
    ``TAIL_BEYOND + 1`` samples exist, since no percentile qualifies.
    """
    n = len(samples)
    if n <= TAIL_BEYOND:
        return None
    ordered = sorted(samples)
    return ordered[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, n


def median(samples: list[float]) -> float:
    return float(statistics.median(samples))


def cpu_times() -> list[int]:
    """Aggregate jiffies from the ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two
    ``cpu_times`` readings (field 8 of the ``cpu`` line)."""
    total = sum(after) - sum(before)
    steal = after[7] - before[7] if len(after) > 7 else 0
    return steal / total if total > 0 else 0.0


def loadavg() -> float:
    """One-minute load average of the host."""
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def peak_rss_mb(pid: int) -> float:
    """``VmHWM`` (peak resident set) of process ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")

