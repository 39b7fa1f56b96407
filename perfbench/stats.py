"""Percentiles, memory and environment readings for the benchmark."""

from __future__ import annotations

import os
import platform
import statistics
import sys

PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile ``p`` (0-100) of ``values``."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def highest_supported(n: int) -> float | None:
    """The highest of PERCENTILES with at least ten of ``n`` samples
    beyond it, or None when even the median has fewer."""
    best = None
    for p in PERCENTILES:
        if n * (100.0 - p) / 100.0 >= 10.0 - 1e-9:
            best = p
    return best


def median(values: list[float]) -> float:
    return statistics.median(values)


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat, read as bench.py reads
    them; the delta over a run gives that run's CPU steal share."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:11]]
        return sum(vals), vals[7] if len(vals) > 7 else 0
    except OSError:
        return 0, 0


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return round(100.0 * (after[1] - before[1]) / total, 2) if total > 0 else 0.0


def rss_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def nproc() -> int:
    """CPUs this process may run on, as ``nproc`` counts them."""
    return len(os.sched_getaffinity(0))


def environment(spark) -> dict:
    """What a result must be read against: cores, the engine's CPU and
    memory settings, local dirs, versions, and load at the start."""
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "SPARK_LOCAL_DIRS": os.environ.get("SPARK_LOCAL_DIRS"),
        "spark_master": spark.sparkContext.master,
        "spark_version": spark.version,
        "python_version": platform.python_version(),
        "platform": sys.platform,
        "loadavg_start": os.getloadavg()[0],
    }


# Thread names (as /proc shows them, cut to 15 characters) of the JVM's
# JIT compilers and compiled-code sweeper.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def jit_cpu_s(pid: int) -> float:
    """User+system CPU seconds of the JIT threads of JVM ``pid``.  The
    JVM must keep its compiler threads for its whole life
    (``-XX:-UseDynamicNumberOfCompilerThreads``): the CPU of a thread
    that has exited is no longer listed under its name."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(JIT_THREADS):
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                data = f.read()
        except OSError:
            continue
        rest = data[data.rindex(")") + 2:].split()
        total += int(rest[11]) + int(rest[12])  # utime + stime
    return total / tick


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of ``root`` and every live descendant,
    including what their reaped children used; the difference of two
    readings is the CPU a process tree spent in between."""
    tick = os.sysconf("SC_CLK_TCK")
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                data = f.read()
        except OSError:
            continue
        rest = data[data.rindex(")") + 2:].split()
        # ppid, then utime + stime + cutime + cstime
        procs[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            total += procs[pid][1]
            stack.extend(children.get(pid, []))
    return total / tick
