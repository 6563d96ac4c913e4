"""Spans around calls into the engine, with counters read from Spark.

A span is a name, a start, an end and a parent, kept in memory and
written out when the run ends. Each span runs its jobs under its own
Spark job group; after the span ends its shuffle, spill, CPU, task and
GC counters are read from Spark's ``AppStatusStore`` and, for a forced
DataFrame, from the SQL metrics of its final (adaptive) physical plan.
Both are reachable through py4j with the Spark UI off.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

_PYTHON_METRICS = ("pythonDataSent", "pythonDataReceived",
                   "pythonNumRowsReceived")


def jvm_gc_s(spark) -> float:
    """Total collection time of every JVM garbage collector so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime()
               for i in range(beans.size())) / 1000.0


def group_counters(spark, group: str) -> dict:
    """Counters of every job Spark ran under job group ``group``.

    ``window_skew`` is max over median task time of the group's last
    multi-task stage that reads shuffle data: the stage that runs the
    per-key window after the exchange. ``jobs`` maps each job name to
    its wall seconds, summed over jobs of the same name.
    """
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    no_status = spark._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(spark._jvm.double, 0)
    out = {"shuffle_bytes": 0, "spill_bytes": 0, "cpu_s": 0.0,
           "run_s": 0.0, "gc_s": 0.0, "stages": 0, "tasks": 0,
           "window_skew": 0.0, "jobs": {}}
    stage_ids = set()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(job_id)
        ids = job.stageIds()
        stage_ids.update(ids.apply(k) for k in range(ids.size()))
        sub, end = job.submissionTime(), job.completionTime()
        if sub.isDefined() and end.isDefined():
            name = job.name()
            out["jobs"][name] = out["jobs"].get(name, 0.0) + (
                end.get().getTime() - sub.get().getTime()) / 1000.0
    window_stage = None
    for sid in sorted(stage_ids):
        attempts = store.stageData(sid, False, no_status, False, no_quantiles)
        for k in range(attempts.size()):
            st = attempts.apply(k)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its output was reused from an earlier job
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["run_s"] += st.executorRunTime() / 1e3
            out["gc_s"] += st.jvmGcTime() / 1e3
            if st.numTasks() > 1 and st.shuffleReadBytes() > 0:
                window_stage = (sid, st.attemptId())
    if window_stage is not None:
        tasks = store.taskList(window_stage[0], window_stage[1], 2**31 - 1)
        durs = []
        for k in range(tasks.size()):
            d = tasks.apply(k).duration()
            if d.isDefined():
                durs.append(d.get())
        if durs and statistics.median(durs) > 0:
            out["window_skew"] = max(durs) / statistics.median(durs)
    return out


def plan_counters(plan) -> dict:
    """SQL metrics summed over an executed physical plan (a py4j
    ``SparkPlan``; adaptive plans are read in their final form):
    sort time and spill, and the bytes and rows that crossed the Python
    boundary."""
    out = {"sort_ms": 0, "sort_spill_bytes": 0,
           "python_bytes": 0, "python_rows": 0}
    todo = [plan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue  # counted where the exchange first ran
        metrics = node.metrics()
        if cls == "SortExec":
            out["sort_ms"] += metrics.apply("sortTime").value()
            out["sort_spill_bytes"] += metrics.apply("spillSize").value()
        elif metrics.contains("pythonDataSent"):
            sent, recv, rows = (metrics.apply(k).value()
                                for k in _PYTHON_METRICS)
            out["python_bytes"] += sent + recv
            out["python_rows"] += rows
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return out


class Tracer:
    """Records spans when enabled; a no-op otherwise, so the untraced
    run pays nothing for it."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Run the body as one span; yields the span record (``None``
        when disabled). The record's ``wall_s`` covers the body only;
        counters are read after it ends and do not count toward it."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"perfbench-{sid}-{name}"}
        self.spans.append(rec)
        self._stack.append(sid)
        sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["wall_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def collect(self, rec: dict, df=None) -> None:
        """Attach Spark counters to a finished span: those of its job
        group and, given the DataFrame it forced, that plan's SQL
        metrics."""
        t0 = time.perf_counter()
        rec["counters"] = group_counters(self.spark, rec["group"])
        if df is not None:
            rec["counters"].update(
                plan_counters(df._jdf.queryExecution().executedPlan()))
        rec["collect_s"] = time.perf_counter() - t0
