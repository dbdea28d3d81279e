"""Machine telemetry read from /proc: steal ticks, load, memory, RSS.

Steal is time the hypervisor ran another guest while this one wanted a
CPU.  It is read around every op sample, so a burst marks the samples it
overlapped instead of the whole run.
"""

from __future__ import annotations

import os


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies over all CPUs.  Only the first eight fields
    are summed: guest and guest_nice are already counted in user and
    nice."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return sum(vals[:8]), (vals[7] if len(vals) > 7 else 0)


def loadavg() -> list[float]:
    try:
        return list(os.getloadavg())
    except OSError:
        return [-1.0, -1.0, -1.0]


def mem_total_mb() -> float:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) / 1024.0
    except (OSError, ValueError):
        pass
    return -1.0


def _status_field(pid: int, field: str) -> int:
    """A ``kB`` field of /proc/<pid>/status, or 0 when unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(x) for x in fh.read().split())
        except (OSError, ValueError):
            continue
    return out


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants (the Python driver, the JVM
    it launched, and the JVM's Python workers)."""
    seen, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


def peak_rss_by_process(root: int) -> list[tuple[int, str, float]]:
    """(pid, command, peak resident set in MB) of each process in the tree."""
    return [(p, _comm(p), _status_field(p, "VmHWM") / 1024.0) for p in process_tree(root)]


def peak_rss_mb(root: int) -> float:
    """Sum over the process tree of each process's peak resident set
    (VmHWM).  An upper bound on the tree's simultaneous peak."""
    return sum(mb for _pid, _comm, mb in peak_rss_by_process(root))
