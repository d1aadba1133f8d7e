"""CPU time of the benchmark's processes, read from ``/proc``.

The engine runs in three kinds of process: the Python driver (this
process), the JVM it launches through py4j, and the pyspark daemon that
the JVM starts plus the Python workers the daemon forks. Spark's own
executor CPU counter covers JVM task threads only, so Python map and
reduce work is visible only here.

Each process contributes utime + stime + cutime + cstime from
``/proc/<pid>/stat``: its own CPU plus that of children it has reaped,
so a worker that exits between two samples is still counted through
its parent.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def parse_stat(text: str) -> tuple[int, str, int, int]:
    """``(pid, comm, ppid, cpu_ticks)`` from one ``/proc/<pid>/stat`` line.

    ``comm`` may hold spaces and parentheses, so the fixed fields are
    found after the LAST ``)``. Fields 14-17 (1-based) are utime,
    stime, cutime and cstime.
    """
    lpar, rpar = text.index("("), text.rindex(")")
    rest = text[rpar + 2 :].split()
    # rest[0] is field 3 (state): field N is rest[N - 3].
    return int(text[:lpar]), text[lpar + 1 : rpar], int(rest[1]), sum(
        int(x) for x in rest[11:15]
    )


def _snapshot() -> dict[int, tuple[str, int, int]]:
    procs: dict[int, tuple[str, int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                pid, comm, ppid, ticks = parse_stat(f.read())
        except (OSError, ValueError):
            continue  # exited while listing
        procs[pid] = (comm, ppid, ticks)
    return procs


def roles(procs: dict[int, tuple[str, int, int]], root: int) -> dict[str, float]:
    """CPU seconds of ``root`` (the driver), its ``java`` children and
    every process below those JVMs (the pyspark daemon and its
    workers), from a ``{pid: (comm, ppid, cpu_ticks)}`` snapshot."""
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)

    def subtree(pid: int) -> int:
        return procs[pid][2] + sum(subtree(c) for c in children.get(pid, ()))

    jvms = [p for p in children.get(root, ()) if procs[p][0] == "java"]
    workers = sum(subtree(c) for j in jvms for c in children.get(j, ()))
    return {
        "driver": procs[root][2] / CLK_TCK if root in procs else 0.0,
        "jvm": sum(procs[j][2] for j in jvms) / CLK_TCK,
        "pyworker": workers / CLK_TCK,
    }


def cpu_by_role() -> dict[str, float]:
    """:func:`roles` of this process, now."""
    return roles(_snapshot(), os.getpid())


def delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in after}


def process_age_s() -> float:
    """Seconds since this process was started (clock-tick resolution)."""
    with open("/proc/self/stat") as f:
        rest = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(rest[19]) / CLK_TCK  # field 22: starttime
