"""Host-noise diagnostics, reported beside the figures they qualify.

``cpu_control_ms`` times a fixed numpy workload that touches no package
code; when it moves between two run sets, the host moved, not the code.
``steal_ticks`` is the hypervisor steal counter from /proc/stat.
"""

from __future__ import annotations

import os
import time

import numpy as np

_CONTROL = np.random.RandomState(0).random_sample(200_000)


def cpu_control_ms() -> float:
    """Median of 5 timings of one fixed sort + reduction."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        float(np.sort(_CONTROL).cumsum()[-1])
        times.append(time.perf_counter() - t0)
    return 1e3 * float(np.median(times))


def steal_ticks() -> int:
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8])
    except (OSError, IndexError, ValueError):
        return 0


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpus() -> int:
    return len(os.sched_getaffinity(0))
