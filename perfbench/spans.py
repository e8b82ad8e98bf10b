"""Spans and Spark counters for the traced run.

Each span runs its layer call in its own Spark job group; when the span
ends, the counters of that group's jobs are read from Spark's status store
(task and stage data, as the listener recorded them). Spans stay in memory
and are written out as JSON lines when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# per-job-group Spark counters, summed over the group's stages
SPARK_COUNTERS = (
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "scheduler_wait_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "failed_tasks",
)


def _stage_counters(d) -> dict[str, float]:
    sub, first = d.submissionTime(), d.firstTaskLaunchedTime()
    wait = (first.get().getTime() - sub.get().getTime()) / 1e3 if sub.isDefined() and first.isDefined() else 0.0
    return {
        "tasks": d.numCompleteTasks() + d.numFailedTasks(),
        "executor_run_s": d.executorRunTime() / 1e3,
        "executor_cpu_s": d.executorCpuTime() / 1e9,
        "gc_s": d.jvmGcTime() / 1e3,
        "scheduler_wait_s": wait,
        "shuffle_read_bytes": d.shuffleReadBytes(),
        "shuffle_write_bytes": d.shuffleWriteBytes(),
        "spill_bytes": d.memoryBytesSpilled() + d.diskBytesSpilled(),
        "failed_tasks": d.numFailedTasks(),
    }


class SparkCounters:
    """Reads per-job-group counters from the status store of one session."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def drain(self) -> None:
        """Wait until the listener has seen every event posted so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def group(self, group: str) -> dict[str, float]:
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        jobs = self.job_ids(group)
        out["jobs"] = len(jobs)
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        for s in stages:
            try:
                d = store.lastStageAttempt(s)
            except Py4JJavaError:  # a skipped stage never ran an attempt
                continue
            for k, v in _stage_counters(d).items():
                out[k] += v
        return out

    def plan_node_rows(self, jobs: set[int], node_name: str) -> int:
        """Sum of 'number of output rows' over the plan nodes named
        ``node_name`` in the SQL executions that ran ``jobs``."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        total = 0
        for e in self._conv.asJava(sql.executionsList()):
            if not jobs & set(self._conv.asJava(e.jobs()).keySet()):
                continue
            values = self._conv.asJava(sql.executionMetrics(e.executionId()))
            for node in self._conv.asJava(sql.planGraph(e.executionId()).allNodes()):
                if node.name() != node_name:
                    continue
                for m in self._conv.asJava(node.metrics()):
                    if m.name() == "number of output rows":
                        v = values.get(m.accumulatorId())
                        total += int(str(v).replace(",", "")) if v else 0
        return total


class Tracer:
    """Layer spans with their job group's Spark counters, kept only when
    ``enabled`` (the traced run)."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.counters = SparkCounters(spark)
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0

    @contextmanager
    def group(self, name: str):
        """Run an untraced operation in a job group of its own (no span
        kept); yields the group id, whose jobs the caller may count."""
        self._seq += 1
        group = f"{name}#{self._seq}"
        self.sc.setJobGroup(group, name)
        try:
            yield group
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            if self.enabled:
                self.counters.drain()

    @contextmanager
    def span(self, name: str, op_id: int):
        self._seq += 1
        group = f"{name}#{self._seq}"
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "op": op_id, "parent": parent["name"] if parent else None,
               "group": group, "start": time.perf_counter()}
        self._stack.append(rec)
        self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            if self.enabled:
                self.counters.drain()
                rec["spark"] = self.counters.group(group)
                self.spans.append(rec)

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, the self time (duration minus the time covered by
        its child spans) of each span, in op order."""
        out: dict[str, list[float]] = {}
        children: dict[tuple[int, str], float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                key = (s["op"], s["parent"])
                children[key] = children.get(key, 0.0) + s["end"] - s["start"]
        for s in self.spans:
            own = s["end"] - s["start"] - children.get((s["op"], s["name"]), 0.0)
            out.setdefault(s["name"], []).append(own)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
