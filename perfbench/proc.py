"""The benchmark's process tree as ``/proc`` shows it: this process and
every process it started (driver JVM, Python workers)."""

from __future__ import annotations

import os


def descendants(pid: int) -> list[int]:
    children = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_peak_rss_mb() -> float:
    """Sum of the peak RSS (VmHWM) of this process and its descendants:
    Python driver, driver JVM, Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants, reaped ones included. Time the host steals from the VM
    is not in it."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # u/s time, own + reaped
    return total / os.sysconf("SC_CLK_TCK")


def host_cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]
