"""Host and process facts read from ``/proc``: the launch fingerprint, the
age of this process, and memory and CPU of the processes it started (the
Spark JVM and, under it, the Python worker daemon and its workers)."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def fingerprint() -> dict:
    load1, load5, _ = os.getloadavg()
    return {
        "nproc": nproc(),
        "spark_graft_cpus_env": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_1m_launch": round(load1, 2),
        "loadavg_5m_launch": round(load5, 2),
        "overloaded_launch": load1 > nproc(),
    }


def process_age_s() -> float:
    """Seconds since this process was created (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _TICK


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            head, tail = fh.read().rsplit(")", 1)
    except OSError:
        return None
    return [head.split("(", 1)[1]] + tail.split()


def descendants(root: int | None = None) -> list[int]:
    """Every live process below ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(int(name))) is not None:
            children.setdefault(int(st[2]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _field_kb(path: str, field: str) -> int:
    try:
        with open(path) as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def memory_mb() -> dict:
    """Memory of the processes this one started, split into the JVM's peak
    resident set (VmHWM) and the Python workers' peak (VmHWM) and current
    proportional set (Pss, shared pages divided among the sharers)."""
    python = set(python_workers())
    out = {"jvm_hwm": 0.0, "python_hwm": 0.0, "python_pss": 0.0, "python_procs": len(python)}
    for pid in descendants():
        hwm = _field_kb(f"/proc/{pid}/status", "VmHWM:") / 1024.0
        if pid in python:
            out["python_hwm"] += hwm
            out["python_pss"] += _field_kb(f"/proc/{pid}/smaps_rollup", "Pss:") / 1024.0
        else:
            out["jvm_hwm"] += hwm
    return out


def python_workers() -> list[int]:
    """Python processes under this one: the worker daemon and its workers."""
    out = []
    for pid in descendants():
        st = _stat(pid)
        if st is not None and st[0].startswith("python"):
            out.append(pid)
    return out


def cpu_s(pids: list[int]) -> float:
    """User+system CPU of ``pids``, including their reaped children."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[12:16])
    return total / _TICK
