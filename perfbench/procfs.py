"""Process-tree CPU and memory from ``/proc`` (Linux only).

The benchmark's process starts the Spark JVM, which forks the Python
worker daemon and its workers; all of them are descendants of the
benchmark's pid. Reading every descendant's ``stat`` and ``status``
counts the JVM and the Python workers alike, without asking Spark.

CPU includes ``cutime``/``cstime``: a worker that exits is reaped by its
parent inside the tree, so its time moves into the parent's child
counters instead of vanishing.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    cpu_s: float  # utime + stime + cutime + cstime
    hwm_kb: int  # VmHWM: the process's own peak resident set
    cmdline: str


def read_proc(pid: int) -> Proc | None:
    """One process's counters, or None when it exited meanwhile."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
        with open(f"/proc/{pid}/status") as f:
            status = f.read()
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmdline = f.read().replace(b"\0", b" ").decode(errors="replace")
    except (FileNotFoundError, ProcessLookupError):
        return None
    # the command name in field 2 may hold spaces; fields after ')' are fixed
    fields = stat[stat.rindex(")") + 2:].split()
    ppid = int(fields[1])
    ticks = sum(int(fields[i]) for i in (11, 12, 13, 14))
    hwm = 0
    for line in status.splitlines():
        if line.startswith("VmHWM:"):
            hwm = int(line.split()[1])
            break
    return Proc(pid, ppid, ticks / CLK_TCK, hwm, cmdline.strip())


def tree(root: int | None = None) -> list[Proc]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            p = read_proc(int(name))
            if p is not None:
                procs[p.pid] = p
    children: dict[int, list[int]] = {}
    for p in procs.values():
        children.setdefault(p.ppid, []).append(p.pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(procs[pid])
        todo.extend(children.get(pid, ()))
    return out


def is_python_worker(p: Proc) -> bool:
    """PySpark's worker daemon and the workers it forks."""
    return "pyspark.daemon" in p.cmdline or "pyspark.worker" in p.cmdline


def cpu_seconds(procs: list[Proc], only_workers: bool = False) -> float:
    return sum(p.cpu_s for p in procs
               if not only_workers or is_python_worker(p))


def peak_rss_mb(procs: list[Proc]) -> float:
    """Sum of the per-process peak resident sets (an upper bound on the
    tree's simultaneous peak)."""
    return sum(p.hwm_kb for p in procs) / 1024.0
