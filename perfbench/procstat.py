"""Process and machine accounting read from ``/proc`` (no psutil)."""

from __future__ import annotations

import os
import time
from contextlib import contextmanager


def du(path: str) -> int:
    """Bytes of every file under ``path``."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def vm_hwm_kb(pid: int | str) -> int:
    """Peak resident set size of a process."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def cpu_times() -> list[int]:
    """Machine-wide CPU ticks: user, nice, system, idle, iowait, irq,
    softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time between two :func:`cpu_times`
    readings that the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


@contextmanager
def stopwatch():
    """Yields a dict that holds, after the block, its wall seconds (``s``)."""
    box: dict = {}
    t0 = time.perf_counter()
    yield box
    box["s"] = time.perf_counter() - t0
