"""Process-tree CPU time and memory read from ``/proc`` (psutil is not
available).  The tree is the benchmark's Python driver, the Spark JVM it
launched and every descendant of either, which includes the
``pyspark.daemon`` Python workers."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, int] | None:
    """(parent pid, CPU ticks of the process and its reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # the command name may contain spaces and parentheses: split after it
    fields = raw[raw.rindex(")") + 2 :].split()
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return int(fields[1]), utime + stime + cutime + cstime


def tree(roots: list[int]) -> dict[int, int]:
    """CPU ticks of every live process in the tree under ``roots``."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [p for p in roots if p in stats]
    while todo:
        pid = todo.pop()
        if pid not in out:
            out[pid] = stats[pid][1]
            todo.extend(kids.get(pid, ()))
    return out


def jit_threads(jvm_pid: int) -> dict[int, int]:
    """CPU ticks per live JIT compiler thread (C1/C2) of the JVM; these keep
    compiling hot paths for minutes after a session starts.  Diff two
    readings with ``cpu_seconds``."""
    out = {}
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:  # the thread ended
            continue
        if "CompilerThre" in raw[raw.index("(") : raw.rindex(")")]:
            fields = raw[raw.rindex(")") + 2 :].split()
            out[int(tid)] = int(fields[11]) + int(fields[12])
    return out


def tree_peak_rss_mb(roots: list[int]) -> float:
    """Sum of the peak resident set sizes of the live processes in the tree."""
    total = 0.0
    for pid in tree(roots):
        try:
            total += peak_rss_mb(pid)
        except OSError:
            pass
    return total


def cpu_seconds(before: dict[int, int], after: dict[int, int]) -> float:
    """CPU seconds the tree spent between two ``tree`` snapshots.  A process
    that started in between counts from zero; one that exited is counted
    through its parent's reaped-children time."""
    return sum(t - before.get(pid, 0) for pid, t in after.items()) / _TICK


def own_cpu_seconds() -> float:
    """CPU seconds of this process alone (user + system)."""
    t = os.times()
    return t.user + t.system


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def load_average() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times() -> list[int]:
    """Host-wide CPU ticks: user, nice, system, idle, iowait, irq, softirq,
    steal (the first line of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_fraction(before: list[int], after: list[int]) -> float:
    """Share of host CPU time taken by the hypervisor between two
    ``cpu_times`` readings: a measure of neighbours' load, not ours."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)
