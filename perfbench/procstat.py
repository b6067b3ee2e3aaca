"""Process-tree and host counters read from /proc (Linux).

The driver JVM is a child of this process; the Python daemon is a
child of the JVM and forks one worker per task slot. ``cpu_s`` adds
utime+stime of the JVM, the daemon, live workers and (through the
daemon's cutime/cstime) workers it has already reaped.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_path(path: str) -> tuple[str, int, list[str]] | None:
    try:
        with open(path) as f:
            s = f.read()
    except OSError:
        return None
    comm = s[s.index("(") + 1 : s.rindex(")")]
    fields = s[s.rindex(")") + 2 :].split()
    return comm, int(fields[1]), fields


def _stat(pid: int) -> tuple[str, int, list[str]] | None:
    return _stat_path(f"/proc/{pid}/stat")


def descendants(root: int) -> list[int]:
    """Every live descendant pid of ``root``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                children.setdefault(st[1], []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime (+ reaped children) of every descendant of ``root``."""
    total = 0
    for pid in descendants(root):
        st = _stat(pid)
        if st is None:
            continue
        f = st[2]
        # fields after ')' start at index 0 = state; utime is field 14
        # of the full line, i.e. index 11 here
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


# JVM thread name prefixes -> the part of JVM CPU they show
_JVM_THREADS = (("C1 CompilerThre", "jit"), ("C2 CompilerThre", "jit"),
                ("GC Thread", "gc"), ("G1 ", "gc"), ("VM Thread", "gc"),
                ("Executor task l", "task"))


def jvm_thread_kind(name: str) -> str:
    """``jit``, ``gc``, ``task`` or ``other`` for a JVM thread's comm."""
    return next((k for prefix, k in _JVM_THREADS if name.startswith(prefix)), "other")


def _ticks(fields: list[str], children: bool) -> int:
    return (int(fields[11]) + int(fields[12])
            + (int(fields[13]) + int(fields[14]) if children else 0))


def cpu_by_kind(root: int) -> dict[str, float]:
    """CPU seconds so far of the processes under ``root``, split into the
    Python daemon and workers (reaped workers included), and the JVM's
    JIT compiler, GC, task and other threads. ``jvm_other`` also holds
    exited JVM threads and reaped JVM children (e.g. ``chmod``)."""
    out = {"python": 0, "jvm_jit": 0, "jvm_gc": 0, "jvm_task": 0, "jvm_other": 0}
    for pid in descendants(root):
        st = _stat(pid)
        if st is None:
            continue
        comm, _, f = st
        if comm.startswith("python"):
            out["python"] += _ticks(f, True)
        elif comm == "java":
            total = _ticks(f, True)
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                tids = []
            for tid in tids:
                tst = _stat_path(f"/proc/{pid}/task/{tid}/stat")
                if tst is None:
                    continue
                kind = jvm_thread_kind(tst[0])
                if kind != "other":
                    t = _ticks(tst[2], False)
                    out[f"jvm_{kind}"] += t
                    total -= t
            out["jvm_other"] += total
    return {k: v / _TICK for k, v in out.items()}


def python_worker_hwm_mb(root: int) -> float:
    """Largest VmHWM among the Python processes under ``root``'s JVM."""
    best = 0
    for pid in descendants(root):
        st = _stat(pid)
        if st is None or not st[0].startswith("python"):
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]))
                        break
        except OSError:
            continue
    return best / 1024.0


def steal_s() -> float:
    """Host-wide steal time so far (all CPUs), in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def control_ms(n: int = 200_000) -> float:
    """Fixed pure-Python loop; a machine-speed diagnostic that calls
    nothing from dce_spark, so a kernel change cannot move it."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc * 31 + i) % 1_000_003
    return (time.perf_counter() - t0) * 1000.0
