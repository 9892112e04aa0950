"""Process figures read from ``/proc``: age, peak memory, CPU time."""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int | str) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the command name (field 3 on)."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def process_age_s() -> float:
    """Seconds since this process started."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(_stat("self")[19]) / TICK


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for p in filter(str.isdigit, os.listdir("/proc")):
        try:
            ppid = int(_stat(p)[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(p))
    found, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            found.add(c)
            todo.append(c)
    return found


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and every descendant
    (the JVM and its Python workers), reaped children included.

    On a VM the kernel leaves time stolen by the host out of these
    counters, so they track the work done rather than the host's load."""
    total = 0
    for pid in {os.getpid()} | descendants(os.getpid()):
        try:
            total += sum(int(x) for x in _stat(pid)[11:15])
        except OSError:  # exited since the listing
            continue
    return total / TICK
