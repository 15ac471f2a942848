"""Host and Spark counters the benchmark reads around a week or pass.

Process-tree counters come from /proc: the driver, the JVM it launched
and the JVM's Python workers. Spark counters come from the status
tracker (jobs, stages, tasks of a job group), from a Dataset's
QueryPlanningTracker (Catalyst phase times) and from the SQL metrics of
its executed plan. Nothing here is read while a week is on the clock.
"""

from __future__ import annotations

import os
import sys
import threading

_TICK = os.sysconf("SC_CLK_TCK")
# Reading smaps_rollup takes the target's memory-map lock: at 20 Hz it
# slowed a query pass by ~10 %, at 2 Hz by nothing measurable.
PSS_INTERVAL_S = 0.5


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def python_worker_cpu_s(root: int) -> float:
    """CPU seconds of the PySpark daemon and its workers, reaped
    workers included (they are billed to the daemon's children)."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


class PeakMemory:
    """Peak memory of a process tree (the driver, its JVM and the JVM's
    Python workers) over the windows between ``start`` and ``stop``.

    The tree's PSS is sampled on a thread. The JVM's heap is committed
    and touched at start, so its PSS is the constant committed size;
    it is replaced by the heap's peak use in the window (the sum of the
    heap pools' peaks), so heap growth still shows. ``peak_mb`` is the
    largest window."""

    def __init__(self, root: int, spark):
        self.root = root
        self.peak_mb = 0.0
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._heap = mf.getMemoryMXBean()
        self._pools = [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]
        self._window_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self._window_kb = max(self._window_kb, sum(_pss_kb(p) for p in process_tree(self.root)))
            self._stop.wait(PSS_INTERVAL_S)

    def start(self) -> None:
        for pool in self._pools:
            pool.resetPeakUsage()
        self._window_kb = 0
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        committed = self._heap.getHeapMemoryUsage().getCommitted()
        heap_peak = sum(pool.getPeakUsage().getUsed() for pool in self._pools)
        window = self._window_kb / 1024 + (heap_peak - committed) / 2**20
        print(f"memory pss={self._window_kb / 1024:.1f} committed={committed / 2**20:.1f} heap_peak={heap_peak / 2**20:.1f}", file=sys.stderr)
        self.peak_mb = max(self.peak_mb, window)


# -- Spark -------------------------------------------------------------------


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) the status tracker recorded for a job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in list(info.stageIds) if info else []:
            stage = st.getStageInfo(s)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
    return len(jobs), stages, tasks


def _as_java(spark, scala_collection):
    return spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_collection)


def plan_phases_s(spark, df) -> float:
    """Catalyst analysis + optimization + planning time of a Dataset's
    query execution, from its QueryPlanningTracker."""
    phases = _as_java(spark, df._jdf.queryExecution().tracker().phases())
    return sum(phases.get(k).durationMs() for k in phases.keySet()) / 1000


def plan_metrics(spark, df, node_name: str) -> dict[str, int]:
    """SQL metrics summed over the executed plan's nodes whose name
    starts with ``node_name``, through adaptive query stages."""
    out: dict[str, int] = {}
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName().startswith(node_name):
            metrics = _as_java(spark, node.metrics())
            for k in metrics.keySet():
                out[k] = out.get(k, 0) + metrics.get(k).value()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())  # the final plan, as run
        elif kind.endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            todo.extend(_as_java(spark, node.children()))
    return out
