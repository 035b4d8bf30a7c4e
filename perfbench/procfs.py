"""Process-tree CPU and memory, and host steal, read from ``/proc``.

The benchmark's process, the Spark JVM it launches and the Python
workers that JVM forks form one tree rooted at the benchmark's pid.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of the tree, including reaped
    children that were waited for."""
    total = 0
    for pid in descendants(root):
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_hwm_mb(root: int) -> float:
    """Sum over the live processes of the tree of their peak resident
    set (VmHWM), in MB."""
    total = 0.0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) / 1024.0
                        break
        except OSError:
            continue
    return total


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the host since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0
