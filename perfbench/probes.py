"""Process, JVM and host probes read from ``/proc`` and the JVM's
management beans.

All readers are cheap enough to call around every operation: one
``/proc`` walk over the benchmark's own process tree, or one py4j call.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def children_by_parent() -> dict[int, list[int]]:
    """Every live process id, grouped by parent id."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def tree_cpu_s(root_pid: int | None = None) -> float:
    """User+system CPU seconds of ``root_pid`` (default: this process)
    and every live descendant, including what each has reaped from its
    own exited children.  Covers the Python driver, the JVM it launched
    and the JVM's Python workers."""
    root = root_pid or os.getpid()
    kids = children_by_parent()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            total += sum(int(v) for v in fields[11:15])
        stack.extend(kids.get(pid, ()))
    return total / _TICK


def steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor since boot."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / _TICK if len(cpu) > 8 else 0.0


def rss_peak_mb(pids: list[int]) -> float:
    """Sum of the peak resident set size (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


class JvmProbe:
    """Garbage-collection time and heap peak of the driver JVM."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._heap_pools = [
            p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"
        ]

    def gc_ms(self) -> float:
        return float(sum(max(0, b.getCollectionTime()) for b in self._gcs))

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools:
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools) / 2**20
