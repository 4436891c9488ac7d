"""CPU time the hypervisor withheld from this host, for the noise record
and the steal retry."""

from __future__ import annotations

import os


def cpu_times() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of all CPUs so far, from /proc/stat;
    (0, 0) if absent. Busy is user, nice, system, irq and softirq time."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
    except OSError:
        return 0.0, 0.0
    # cpu user nice system idle iowait irq softirq steal ...
    if len(fields) < 9 or fields[0] != "cpu":
        return 0.0, 0.0
    t = [int(x) for x in fields[1:9]]
    tck = os.sysconf("SC_CLK_TCK")
    return (t[0] + t[1] + t[2] + t[5] + t[6]) / tck, t[7] / tck


def steal_seconds() -> float:
    """Cumulative steal time of all CPUs (0 if /proc/stat is absent)."""
    return cpu_times()[1]


def stolen_share(t0: tuple[float, float], t1: tuple[float, float]) -> float:
    """Share of the CPU time asked for between two cpu_times() readings
    that the hypervisor gave to other guests instead."""
    busy, stolen = t1[0] - t0[0], t1[1] - t0[1]
    return stolen / (busy + stolen) if busy + stolen > 0 else 0.0
