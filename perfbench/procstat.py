"""Resident memory and CPU time of this process and every descendant,
read from ``/proc`` (psutil is not available).

The tree covers the Python driver, the Spark driver JVM it launched and
the PySpark daemon with its worker processes.
"""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode()
    except OSError:
        return None
    # the command name (field 2) may hold spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, including reaped children
    (a worker that exits is charged to its parent's cumulative times)."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _CLK_TCK


def reset_peak_rss(root: int | None = None) -> None:
    """Reset every tree process's peak resident set size ("high water
    mark") to its current RSS (``5`` into ``/proc/<pid>/clear_refs``)."""
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass  # the process has exited


def tree_peak_rss_bytes(root: int | None = None) -> int:
    """Sum over the tree of each process's peak RSS since its last
    ``reset_peak_rss`` (``VmHWM``). The kernel keeps the peaks, so nothing
    samples while the measured work runs. Pages PySpark's forked workers
    share with their daemon count once per process that maps them."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


def host_steal_s() -> float:
    """CPU seconds, summed over all CPUs, that the hypervisor gave to
    other guests while this guest's CPUs were runnable (``steal`` in
    /proc/stat). A diagnostic of host contention, not a metric of the
    program."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _CLK_TCK
