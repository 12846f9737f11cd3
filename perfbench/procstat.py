"""Process-tree figures read from ``/proc``: CPU time and peak memory of
this process and every process it started (the driver JVM, the Python
daemon and the workers the daemon forked).

CPU time is user + system time of each live process in the tree, plus
the time of children they already reaped.  Under a hypervisor that
reports steal time, time the host took away from a virtual CPU is not
charged to any process, so a unit of work's CPU time moves far less with
the host's load than its wall time does.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the command name; field 3 of
    the man page is index 0."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def tree() -> list[int]:
    """This process and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listed
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def cpu_seconds() -> float:
    """CPU seconds the tree has used so far (10 ms ticks per process)."""
    ticks = 0
    for pid in tree():
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        # utime, stime, cutime, cstime
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _TICK


def peak_rss_mb() -> float:
    """VmHWM summed over the live descendants of this process."""
    total_kb = 0
    for pid in tree()[1:]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def process_age_s() -> float:
    """Seconds since this process started (10 ms ticks)."""
    start = int(_stat_fields(os.getpid())[19])
    with open("/proc/uptime") as fh:
        up = float(fh.read().split()[0])
    return up - start / _TICK
