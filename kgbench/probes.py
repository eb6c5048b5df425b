"""Host probes recorded with every run: CPU of this process tree, machine
steal, the Python-task floor and a fixed CPU calibration loop.

Numbers taken on different days compare through ``calib_s`` (host speed)
and ``task_floor_s`` (the fixed cost of one Python crossing), never raw.
"""

from __future__ import annotations

import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def stat(pid) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name (state first,
    then ppid), or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def descendants() -> dict[int, list[str]]:
    """pid -> ``stat`` fields of every live descendant of this process."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (fields := stat(d)) is not None:
            stats[int(d)] = fields
            children.setdefault(int(fields[1]), []).append(int(d))
    found, stack = {}, list(children.get(os.getpid(), []))
    while stack:
        p = stack.pop()
        found[p] = stats[p]
        stack.extend(children.get(p, []))
    return found


def tree_cpu_s() -> float:
    """utime+stime of this process and every live descendant, in seconds.

    The driver JVM and its Python workers descend from this process. Dead
    children are credited through the reaped-children counters
    (cutime/cstime) of their live ancestors, so short-lived workers count.
    """
    tree = [stat(os.getpid()), *descendants().values()]
    # fields after comm: utime=11, stime=12, cutime=13, cstime=14
    return sum(int(x) for fields in tree for x in fields[11:15]) / CLK_TCK


def steal_s() -> float:
    """Machine-wide hypervisor steal time so far (field 8 of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    return int(fields[7]) / CLK_TCK


def calib_s(n: int = 2_000_000) -> float:
    """Wall time of a fixed pure-Python loop: a host-speed yardstick."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def _pass_through(batches):
    for pdf in batches:
        yield pdf.iloc[:0]


def task_floor_s(pages) -> float:
    """Wall time of a null ``mapInPandas`` over ``pages``: every task pays
    the Python-worker crossing of its input and returns no rows."""
    t0 = time.perf_counter()
    pages.mapInPandas(_pass_through, schema=pages.schema).count()
    return time.perf_counter() - t0
