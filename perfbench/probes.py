"""Cheap process and JVM probes read around every execution.

All of them are read from outside the library: the process tree from
``/proc``, the JVM through py4j.
"""

from __future__ import annotations

import gc
import os
import statistics
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str):
    with open(f"/proc/{pid}/stat") as fh:
        data = fh.read()
    # the command name may contain spaces; fields resume after ')'
    rest = data[data.rindex(")") + 2:].split()
    ppid = int(rest[1])
    cpu = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
    return ppid, cpu


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of ``root`` and all its live descendants
    (plus children they have already reaped).  Covers the Python
    driver, the JVM it launched and any Python workers the JVM forked."""
    root = os.getpid() if root is None else root
    parents, cpu = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            ppid, c = _stat(pid)
        except (OSError, ValueError, IndexError):
            continue  # exited while scanning
        parents[int(pid)] = ppid
        cpu[int(pid)] = c
    children: dict[int, list[int]] = {}
    for pid, ppid in parents.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += cpu.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total / _TICK


def host_ref_s(rounds: int = 3) -> float:
    """Median seconds of a fixed pure-Python loop: a host-speed
    reference that involves neither Spark nor the JVM."""
    times = []
    for _ in range(rounds):
        t = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i * i
        times.append(time.perf_counter() - t)
    return statistics.median(times)


class Jvm:
    """Job counter and JVM counters of one SparkContext."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self._mf = self.jvm.java.lang.management.ManagementFactory
        self._codegen = self.jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._dag = self.sc._jsc.sc().dagScheduler()

    def jobs_submitted(self) -> int:
        """Jobs submitted since the context started (the scheduler's
        next job id), exact even when the UI store has evicted jobs."""
        n = self._dag.nextJobId()  # py4j hands the AtomicInteger over as a number
        return int(n if isinstance(n, int) else n.get())

    def counters(self) -> dict:
        """Cumulative JIT, codegen and GC counters (seconds / counts).
        Codegen time is Spark's compilation-time histogram mean times
        its count, so it is an estimate once the reservoir samples."""
        hist = self._codegen.METRIC_COMPILATION_TIME()
        n = int(hist.getCount())
        gc_ms = sum(int(b.getCollectionTime())
                    for b in self._mf.getGarbageCollectorMXBeans())
        return {
            "jit_s": int(self._mf.getCompilationMXBean().getTotalCompilationTime()) / 1e3,
            "codegen_compile_s": float(hist.getSnapshot().getMean()) * n / 1e3,
            "codegen_classes": n,
            "gc_s": gc_ms / 1e3,
        }

    def retained_mb(self) -> float:
        """Heap in use after a forced full GC.  Python garbage is
        collected first (it pins JVM objects through py4j) and the
        listener bus drained (queued events would count as retained)."""
        gc.collect()
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.jvm.java.lang.System.gc()
        self.jvm.java.lang.System.gc()
        used = self._mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
        return int(used) / 2**20

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())
