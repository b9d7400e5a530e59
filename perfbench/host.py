"""Host record: what the box was doing while a run measured.

The steal and foreign-CPU shares are read from ``/proc`` around the timed
region so a noisy run can be recognised beside its metrics: steal is time
the hypervisor withheld from this VM's runnable CPUs, foreign CPU is what
other processes in the VM consumed (box busy minus steal minus this
benchmark's own process tree). Both are shares of the box's capacity
(wall × nproc)."""

from __future__ import annotations

import os
import platform

_HZ = os.sysconf("SC_CLK_TCK")


def _cpu_line() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            out.setdefault(ppid, []).append(int(d))
    return out


def tree_pids() -> list[int]:
    """This process and every live descendant (the JVM, Python workers)."""
    kids, stack, seen = _children(), [os.getpid()], []
    while stack:
        pid = stack.pop()
        if pid not in seen:
            seen.append(pid)
            stack.extend(kids.get(pid, []))
    return seen


def tree_cpu_s() -> float:
    """CPU seconds of the process tree, reaped children included."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(f[i]) for i in (11, 12, 13, 14))
        except (OSError, IndexError, ValueError):
            continue
    return total / _HZ


def tree_rss_mb() -> float:
    """Resident memory of the process tree now, in MiB."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


def process_age_s() -> float:
    """Seconds since this process started, from its /proc start time."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / _HZ


class Window:
    """Box and process-tree CPU accounting between start() and stop()."""

    def start(self, wall: float) -> None:
        self.wall0, self._cpu, self._tree = wall, _cpu_line(), tree_cpu_s()

    def stop(self, wall: float) -> dict:
        cpu = _cpu_line()
        delta = [b - a for a, b in zip(self._cpu, cpu)]
        idle = delta[3] + (delta[4] if len(delta) > 4 else 0)
        busy = (sum(delta) - idle) / _HZ
        steal = (delta[7] if len(delta) > 7 else 0) / _HZ
        tree = tree_cpu_s() - self._tree
        nproc = os.cpu_count() or 1
        capacity = max(wall - self.wall0, 1e-9) * nproc
        return {
            "nproc": nproc,
            "steal_share": round(steal / capacity, 4),
            "foreign_share": round(max(0.0, busy - steal - tree) / capacity, 4),
            "tree_cpu_s": round(tree, 2),
            "python": platform.python_version(),
            "spark": _spark_version(),
        }


def _spark_version() -> str:
    import pyspark

    return pyspark.__version__
