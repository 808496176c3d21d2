"""Process, JVM and host probes the benchmark reads around its ops.

All of them are read from outside the engine: ``/proc`` for the driver
JVM's I/O and resident memory, JMX through py4j for garbage collection and
heap, Spark's status tracker for jobs, stages and tasks per job group.
"""

from __future__ import annotations

import os
import resource

from pyspark.sql import SparkSession


class JvmProbe:
    def __init__(self, spark: SparkSession) -> None:
        self.sc = spark.sparkContext
        jvm = spark.sparkContext._jvm
        self.mf = jvm.java.lang.management.ManagementFactory
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def proc_io(self) -> dict[str, int]:
        """The JVM's ``/proc/<pid>/io`` counters (cumulative bytes)."""
        out = {}
        with open(f"/proc/{self.pid}/io") as fh:
            for line in fh:
                k, v = line.split(":")
                out[k.strip()] = int(v)
        return out

    def vm_hwm_kb(self) -> int:
        with open(f"/proc/{self.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    def gc_ms(self) -> int:
        return sum(int(b.getCollectionTime()) for b in self.mf.getGarbageCollectorMXBeans())

    def heap_pools(self):
        return [p for p in self.mf.getMemoryPoolMXBeans() if str(p.getType().toString()) == "Heap memory"]

    def reset_heap_peak(self) -> None:
        for p in self.heap_pools():
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        """Sum of the heap pools' peak usage since the last reset."""
        return sum(int(p.getPeakUsage().getUsed()) for p in self.heap_pools()) / 2**20

    def job_group_counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) Spark ran under job group ``group``."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                stages += 1
                st = tracker.getStageInfo(s)
                if st is not None:
                    tasks += st.numTasks
        return len(jobs), stages, tasks

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this Python driver plus the Spark JVM.
        Each peak is the process's own high-water mark, so the sum bounds
        the two processes' joint peak from above."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (py_kb + self.vm_hwm_kb()) / 1024.0


def tree_bytes(path: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(before: dict[str, tuple[int, int]], after: dict[str, tuple[int, int]]) -> tuple[int, int]:
    """(bytes, files) created or rewritten between two ``tree_bytes`` listings."""
    changed = [s for p, (s, m) in after.items() if before.get(p) != (s, m)]
    return sum(changed), len(changed)


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by process ``root`` (this
    one by default) and its live descendants: the Python driver, the Spark
    JVM and its Python workers.  Children that have exited and been reaped
    are in their parent's ``cutime``/``cstime``, so the sum only grows.
    Time the hypervisor gives to other guests is not in it."""
    root = root or os.getpid()
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        rest = stat[stat.rfind(")") + 2:].split()
        # fields 4 (ppid) and 14-17 (utime, stime, cutime, cstime) of proc(5)
        procs[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _t) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    """The host's aggregate ``/proc/stat`` CPU counters (jiffies)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def host_census() -> dict:
    """Load averages and the processes on the host that are not this run's
    (recorded with every result; never gating)."""
    la1, la5, la15 = os.getloadavg()
    me = os.getpid()
    ours = {me}
    procs = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        rest = stat[stat.rfind(")") + 2:].split()
        procs.append((int(d), int(rest[1]), rest[0]))  # pid, ppid, state
    children: dict[int, list[int]] = {}
    for pid, ppid, _ in procs:
        children.setdefault(ppid, []).append(pid)
    todo = [me]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in ours:
                ours.add(c)
                todo.append(c)
    others = [(pid, st) for pid, _pp, st in procs if pid not in ours]
    return {
        "load_1m": la1, "load_5m": la5, "load_15m": la15,
        "other_procs": len(others),
        "other_procs_running": sum(1 for _p, st in others if st == "R"),
    }
