"""Process-level readings of the Spark JVM and the Python driver:
CPU time and peak RSS from ``/proc``, GC time and live heap from the
JVM's management beans over py4j."""

from __future__ import annotations

import os
import resource

_TICK = os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getPid())


def cpu_s(pid: int) -> float:
    """User + system CPU seconds of process ``pid`` (all its threads)."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of process ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def python_hwm_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def gc_s(spark) -> float:
    """Total collection time of every JVM garbage collector, seconds."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def live_heap_mb(spark) -> float:
    """Heap in use right after a forced full GC, MB."""
    mem = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mem.gc()
    return mem.getHeapMemoryUsage().getUsed() / (1024.0 * 1024.0)


def max_heap_mb(spark) -> float:
    return spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / (1024.0 * 1024.0)


def peak_heap_mb(spark) -> float:
    """Sum of the heap memory pools' peak use since the JVM started, MB."""
    pools = spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    return sum(p.getPeakUsage().getUsed() for p in pools
               if p.getType().toString() == "Heap memory") / (1024.0 * 1024.0)
