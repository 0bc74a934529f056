"""Host readings recorded with every run: load, hypervisor steal and the
high-water resident memory of the engine's processes.

The benchmark keeps its own copies of these few lines (and of the result
digest in workloads.py) so that it depends on nothing in the repository
but the package it measures: a change to the repository's other scripts
cannot change what the benchmark reports.
"""

from __future__ import annotations

import os


def load_avg() -> list[float]:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return []


def cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) jiffies from /proc/stat.  Only user..steal are
    summed: guest time is already inside user/nice."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(t0: tuple[int, int] | None, t1: tuple[int, int] | None) -> float:
    if not t0 or not t1 or t1[1] <= t0[1]:
        return 0.0
    return 100.0 * (t1[0] - t0[0]) / (t1[1] - t0[1])


def vm_hwm_mb(pid: int | str) -> float:
    """High-water resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
