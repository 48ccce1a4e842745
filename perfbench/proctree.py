"""CPU time of a process tree, read from ``/proc``.

The benchmark's CPU figure covers the worker process and everything it
started: the JVM, the PySpark daemon the JVM starts and the Python workers
the daemon forks. The daemon moves itself into a process group of its own
(``os.setpgid(0, 0)``), so the tree is followed by parent pid, not by
process group.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")

# pid -> (start time in ticks since boot, CPU ticks: user + system, including reaped children)
Snapshot = dict[int, tuple[int, int]]


def _stat(pid: str) -> tuple[int, int, int] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # the command name (field 2) may hold spaces or parentheses
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None  # exited meanwhile
    ppid, start = int(fields[1]), int(fields[19])
    return ppid, start, sum(int(x) for x in fields[11:15])


def snapshot(root: int) -> Snapshot:
    """Start time and CPU ticks of ``root`` and every live descendant."""
    stats, children = {}, {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (st := _stat(entry)) is not None:
            pid = int(entry)
            stats[pid] = st
            children.setdefault(st[0], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1:]
            todo.extend(children.get(pid, ()))
    return out


def cpu_between(before: Snapshot, after: Snapshot) -> tuple[float, int]:
    """CPU seconds the tree spent between two snapshots, and how many of
    the processes in ``before`` are gone from ``after``. A process that
    ends in between takes its CPU time since ``before`` with it unless a
    parent in the tree reaps it (the PySpark daemon ignores SIGCHLD, so
    its workers are not reaped into it); the count shows when that
    happens."""
    ticks = 0
    for pid, (start, t) in after.items():
        prev = before.get(pid)
        ticks += t - prev[1] if prev is not None and prev[0] == start else t
    gone = sum(1 for pid, (start, _) in before.items() if after.get(pid, (None,))[0] != start)
    return ticks / CLK_TCK, gone
