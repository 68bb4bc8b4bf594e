"""Process-tree and host readings from ``/proc``.

``tree_cpu_s`` and the RSS readers walk this process and its descendants:
the Spark JVM it launched and the JVM's Python workers. The host record
(steal, a small ALU and memory-stream probe, a timestamp) is printed beside
the metrics so drift on a shared machine can be told apart from a change in
the program.
"""

from __future__ import annotations

import os
import time

import numpy as np

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after it start at ") "
    return raw[raw.rindex(")") + 2 :].split()


def descendants() -> list[int]:
    """This process and every process below it."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User + system CPU of the process tree, including children already
    reaped by a process in the tree (cutime/cstime)."""
    total = 0
    for pid in descendants():
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/<pid>/stat, counted from 1
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class PeakRss:
    """Peak VmHWM of the Python workers and of the JVM, sampled on demand
    (workers are reused across tasks, so sampling at wave boundaries and at
    the end sees every long-lived worker)."""

    def __init__(self):
        self.worker_kb = 0
        self.jvm_kb = 0

    def sample(self) -> None:
        me = os.getpid()
        for pid in descendants():
            if pid == me:
                continue
            cmd = _cmdline(pid)
            hwm = _status_kb(pid, "VmHWM:")
            if "java" in cmd.split(" ", 1)[0]:
                self.jvm_kb = max(self.jvm_kb, hwm)
            elif "pyspark" in cmd or "python" in cmd.split(" ", 1)[0]:
                self.worker_kb = max(self.worker_kb, hwm)


def steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


# Host probe sizes: each probe repeats PROBE_REPEATS times and keeps its
# best reading, so a single preempted repeat does not show as drift.
PROBE_REPEATS = 10
ALU_ITERS = 500_000
MEM_MB = 128


def alu_probe() -> float:
    """Millions of pure-Python integer operations per second."""
    best = float("inf")
    for _ in range(PROBE_REPEATS):
        t = time.perf_counter()
        acc = 0
        for i in range(ALU_ITERS):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        best = min(best, time.perf_counter() - t)
    return ALU_ITERS / best / 1e6


def mem_probe() -> float:
    """GB/s of a numpy array copy (read + write counted once each)."""
    a = np.ones(MEM_MB * 1024 * 1024 // 8)
    b = np.empty_like(a)
    np.copyto(b, a)
    best = float("inf")
    for _ in range(PROBE_REPEATS):
        t = time.perf_counter()
        np.copyto(b, a)
        best = min(best, time.perf_counter() - t)
    return 2 * a.nbytes / best / 1e9


def probe() -> dict:
    return {"alu_mops": round(alu_probe(), 3), "mem_gbps": round(mem_probe(), 3)}
