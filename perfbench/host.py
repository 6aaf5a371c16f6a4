"""Host sizing for the session and a per-run host witness.

The session is sized from the host it runs on: every usable core, and a
driver heap of a quarter of the memory the process may use (the smaller
of ``MemTotal`` and the cgroup ``memory.max``), so the JVM never asks
for more than the machine has. The witness is recorded with each run
and never used to filter runs.
"""

from __future__ import annotations

import os
import time

HEAP_SHARE = 4  # driver heap = usable memory / HEAP_SHARE
HEAP_MIN_MB, HEAP_MAX_MB = 1024, 16384
SPIN_N = 2_000_000


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def cgroup_limit_bytes() -> int | None:
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
    except OSError:
        return None
    return None if raw == "max" else int(raw)


def sizing() -> dict:
    cpus = len(os.sched_getaffinity(0))
    mem = mem_total_bytes()
    limit = cgroup_limit_bytes()
    usable = min(mem, limit) if limit else mem
    heap_mb = max(HEAP_MIN_MB, min(HEAP_MAX_MB, usable // HEAP_SHARE // 2**20))
    return {"cpus": cpus, "mem_total_bytes": mem,
            "cgroup_memory_max_bytes": limit, "heap": f"{heap_mb}m"}


def spin_ms() -> float:
    """A fixed single-thread integer loop, timed."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(SPIN_N):
        acc += i * i
    return (time.perf_counter() - t0) * 1e3


def witness() -> dict:
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_bytes": mem_total_bytes(),
            "loadavg": list(os.getloadavg()), "spin_ms": spin_ms()}
