"""Outside-in counters: what one operation cost, read from Spark's own
status store and query-planning tracker, never from inside the engine.

The reader wraps an operation in a job group, remembers the highest job
id the status store knew before it, and afterwards attributes to the
operation every job that is in its group or newer than that mark. The
second rule is what catches structured-streaming work: micro-batch jobs
run on the stream's own thread under the stream's job group, not the
caller's.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

#: Per-operation counter fields, in report order.
FIELDS = (
    "call_s",
    "sink_s",
    "catalyst_s",
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "spill_mb",
    "serial_s",
    "cached_rdds_after",
)
MB = 1024 * 1024


def _sc(spark):
    return spark.sparkContext._jsc.sc()


def max_job_id(spark) -> int:
    jobs = _sc(spark).statusStore().jobsList(None)
    return max((int(j.jobId()) for j in _iter(jobs)), default=-1)


def drain_listener_bus(spark) -> None:
    """Block until the status store has seen every event posted so far,
    so a just-finished job's stage metrics are complete."""
    _sc(spark).listenerBus().waitUntilEmpty()


def catalyst_seconds(df) -> float:
    """Analysis + optimization + planning time of ``df``'s query execution.

    Forces the physical plan first, so the optimizer and planner phases
    are on the tracker (a lazy frame has only been analyzed)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total_ms = 0
    it = phases.values().iterator()
    while it.hasNext():
        total_ms += int(it.next().durationMs())
    return total_ms / 1000.0


@dataclass
class JobTotals:
    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


def job_totals(spark, job_ids) -> JobTotals:
    """Sum stage metrics over the last attempt of every stage of the jobs."""
    sc = _sc(spark)
    tracker = spark.sparkContext.statusTracker()
    store = sc.statusStore()
    out = JobTotals(jobs=len(job_ids))
    stages: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(int(s) for s in info.stageIds)
    for sid in stages:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - stage evicted from the store
            continue
        out.tasks += int(st.numCompleteTasks())
        out.executor_run_s += st.executorRunTime() / 1e3
        out.executor_cpu_s += st.executorCpuTime() / 1e9
        out.gc_s += st.jvmGcTime() / 1e3
        out.shuffle_write_mb += st.shuffleWriteBytes() / MB
        out.spill_mb += st.diskBytesSpilled() / MB
    return out


def persistent_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


class OpTrace:
    """Counters for one operation: ``with OpTrace(spark, group) as t:``
    then ``t.mark_call()`` between the call and its sink."""

    def __init__(self, spark, group: str, cores: int):
        self.spark = spark
        self.group = group
        self.cores = cores
        self.values: dict[str, float] = {}

    def __enter__(self) -> "OpTrace":
        sc = self.spark.sparkContext
        sc.setJobGroup(self.group, self.group)
        self.first_new_job = max_job_id(self.spark) + 1
        self.t0 = time.perf_counter()
        self.t_call = None
        return self

    def mark_call(self) -> None:
        self.t_call = time.perf_counter()

    def __exit__(self, exc_type, exc, tb) -> None:
        t1 = time.perf_counter()
        spark = self.spark
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        t_call = self.t_call if self.t_call is not None else t1
        drain_listener_bus(spark)
        tracker = spark.sparkContext.statusTracker()
        ids = set(tracker.getJobIdsForGroup(self.group))
        ids.update(range(self.first_new_job, max_job_id(spark) + 1))
        totals = job_totals(spark, sorted(ids))
        wall = t1 - self.t0
        self.values.update(
            call_s=t_call - self.t0,
            sink_s=t1 - t_call,
            jobs=totals.jobs,
            tasks=totals.tasks,
            executor_run_s=totals.executor_run_s,
            executor_cpu_s=totals.executor_cpu_s,
            gc_s=totals.gc_s,
            shuffle_write_mb=totals.shuffle_write_mb,
            spill_mb=totals.spill_mb,
            serial_s=wall - totals.executor_run_s / self.cores,
            cached_rdds_after=persistent_rdds(spark),
        )
        self.values.setdefault("catalyst_s", 0.0)


def files_read(spark, first_execution_id: int) -> int:
    """Sum of the 'number of files read' scan metric over the SQL
    executions with id >= ``first_execution_id``."""
    store = spark._jsparkSession.sharedState().statusStore()
    total = 0
    for ex in _iter(store.executionsList()):
        if ex.executionId() < first_execution_id:
            continue
        acc = {
            int(m.accumulatorId())
            for m in _iter(ex.metrics())
            if m.name() == "number of files read"
        }
        for kv in _iter(store.executionMetrics(ex.executionId())) if acc else ():
            if int(kv._1()) in acc:
                total += int(str(kv._2()).replace(",", ""))
    return total


def next_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    ids = [int(e.executionId()) for e in _iter(store.executionsList())]
    return max(ids, default=-1) + 1


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def rss_peak_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, from /proc."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def dir_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping commit markers and
    checksum files."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size
