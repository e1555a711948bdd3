"""Spans, counters and Spark job accounting recorded from the benchmark's
side of each layer boundary.  Nothing here patches the program: spans wrap
calls into public functions, evaluation is timed through evaluator
subclasses passed as ``search(evaluator=...)``, and Spark's own job, stage
and task counts are read from the driver's status store (the UI stays off).
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

from dask_patternsearch_spark import (
    AsyncSparkEvaluator,
    LocalEvaluator,
    SparkEvaluator,
)

from stats import self_time


class Tracer:
    """In-memory spans ``(id, parent, name, start, end, attrs)``; written
    out with the run record when the benchmark ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None,
               "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs):
        """Record a span measured elsewhere (an evaluator call on a pool
        thread, whose start and end the evaluator captured)."""
        self.spans.append({"id": next(self._ids), "parent": parent, "name": name,
                           "start": start, "end": end, "attrs": attrs})


class EvaluatorStats:
    """Calls, points and busy intervals of one evaluator; thread-safe
    because pipelined searches evaluate on pool threads."""

    def __init__(self):
        self.lock = threading.Lock()
        self.calls = 0
        self.points = 0
        self.intervals: list[tuple[float, float]] = []

    @property
    def busy_s(self) -> float:
        return sum(e - s for s, e in self.intervals)


class _TimedEvaluate:
    def __init__(self, *args, stats: EvaluatorStats, **kwargs):
        super().__init__(*args, **kwargs)
        self.stats = stats

    def evaluate(self, func, points, args):
        t0 = time.perf_counter()
        out = super().evaluate(func, points, args)
        t1 = time.perf_counter()
        with self.stats.lock:
            self.stats.calls += 1
            self.stats.points += len(points)
            self.stats.intervals.append((t0, t1))
        return out


class TimedLocalEvaluator(_TimedEvaluate, LocalEvaluator):
    pass


class TimedSparkEvaluator(_TimedEvaluate, SparkEvaluator):
    pass


class TimedAsyncSparkEvaluator(_TimedEvaluate, AsyncSparkEvaluator):
    pass


SPARK_FIELDS = (
    "jobs", "stages", "tasks", "failed_tasks", "job_s", "executor_run_s",
    "executor_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


class SparkAccounting:
    """Per-operation job, stage and task totals from the driver status store.

    Every operation is tagged with ``setJobGroup`` so its jobs are
    attributable in the store.  Counting, though, goes by job id: a closed
    loop with one caller runs one operation at a time, so the jobs of an
    operation are exactly those with ids above the watermark taken when it
    started.  Going by id also counts jobs launched from pool threads (the
    pipelined evaluator), which do not inherit the caller's job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.store = self._jsc.statusStore()

    def _drain(self) -> None:
        # the status store is filled by a listener on an async bus
        self._jsc.listenerBus().waitUntilEmpty()

    def watermark(self) -> int:
        self._drain()
        jobs = self.store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    @contextmanager
    def operation(self, group: str):
        """Tag jobs with ``group`` and yield a dict filled with the
        operation's Spark totals once the block exits."""
        totals = dict.fromkeys(SPARK_FIELDS, 0)
        since = self.watermark()
        self.sc.setJobGroup(group, group)
        try:
            yield totals
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            totals.update(self.totals_since(since))

    def totals_since(self, since: int) -> dict:
        self._drain()
        out = dict.fromkeys(SPARK_FIELDS, 0)
        jobs = self.store.jobsList(None)  # newest first
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= since:
                break
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_s"] += (done.get().getTime() - sub.get().getTime()) / 1e3
            ids = job.stageIds()
            for k in range(ids.size()):
                self._add_stage(out, ids.apply(k))
        return out

    def _add_stage(self, out: dict, stage_id: int) -> None:
        try:
            st = self.store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # NoSuchElementException: evicted or never run
            return
        if st.status().toString() == "SKIPPED":
            return
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        out["failed_tasks"] += st.numFailedTasks()
        out["executor_run_s"] += st.executorRunTime() / 1e3
        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.diskBytesSpilled()


class TraceContext:
    """What the traced pass hands to the workloads: one span and one set of
    Spark totals per operation."""

    def __init__(self, spark):
        self.tracer = Tracer()
        self.acct = SparkAccounting(spark)

    @contextmanager
    def op(self, kind: str, name: str):
        with self.tracer.span(f"{kind}:{name}", kind=kind) as span, \
                self.acct.operation(f"perfbench:{kind}:{name}") as totals:
            yield {"span": span, "spark": totals}


def add_totals(acc: dict, part: dict) -> dict:
    for k in SPARK_FIELDS:
        acc[k] = acc.get(k, 0) + part.get(k, 0)
    return acc


def spark_metrics(totals: dict, wall_s: float, cores: int) -> dict:
    """The ``spark.*`` per-layer metrics from summed operation totals."""
    jobs = totals.get("jobs", 0)
    mb = 1 / (1 << 20)
    return {
        "spark.jobs": jobs,
        "spark.stages": totals.get("stages", 0),
        "spark.tasks": totals.get("tasks", 0),
        "spark.failed_tasks": totals.get("failed_tasks", 0),
        "spark.s_per_job": totals.get("job_s", 0.0) / jobs if jobs else 0.0,
        "spark.executor_run_s": totals.get("executor_run_s", 0.0),
        "spark.executor_cpu_s": totals.get("executor_cpu_s", 0.0),
        "spark.cpu_util": (totals.get("executor_cpu_s", 0.0) / (wall_s * cores)
                           if wall_s > 0 else 0.0),
        "spark.shuffle_read_mb": totals.get("shuffle_read_bytes", 0) * mb,
        "spark.shuffle_write_mb": totals.get("shuffle_write_bytes", 0) * mb,
        "spark.spill_mb": totals.get("spill_bytes", 0) * mb,
    }


def driver_self_time(search_span: dict, stats: EvaluatorStats) -> float:
    """Time the search loop spent on the driver: its span minus the
    (possibly overlapping) intervals its evaluator was busy."""
    return self_time((search_span["start"], search_span["end"]), stats.intervals)
