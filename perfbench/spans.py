"""Spans for the traced run, and Spark job metrics from the status store.

Spans are recorded from the benchmark's own files, around its calls into
each layer; nothing inside the program is instrumented. Every span has a
name, start and end (epoch seconds), its parent span and one trace id per
operation (query, cycle or landed file). Spans stay in memory and are
written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time

from py4j.protocol import Py4JJavaError

from stats import union_seconds

# perf_counter() is monotonic; spans are stored in epoch seconds so that
# they line up with Spark's job and micro-batch timestamps.
_EPOCH_OFFSET = time.time() - time.perf_counter()


def now() -> float:
    return time.perf_counter() + _EPOCH_OFFSET


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def add(self, name: str, start: float, end: float, *, trace: str | None = None,
            parent: dict | None = None, **attrs) -> dict:
        """Record a finished span (for intervals read back from Spark)."""
        span = {
            "id": len(self.spans), "name": name,
            "trace": trace if trace is not None else (parent or {}).get("trace"),
            "parent": None if parent is None else parent["id"],
            "start": start, "end": end, **attrs,
        }
        self.spans.append(span)
        return span

    @contextlib.contextmanager
    def span(self, name: str, *, trace: str | None = None, **attrs):
        """Time the block; nests under the innermost open span. Yields
        the span dict, whose ``end`` is set when the block exits."""
        parent = self._stack[-1] if self._stack else None
        span = self.add(name, now(), 0.0, trace=trace, parent=parent, **attrs)
        self._stack.append(span)
        try:
            yield span
        finally:
            span["end"] = now()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


class SparkJobs:
    """Per-operation Spark metrics, read from the in-process status store
    (works with the UI off) for the jobs run under one job-group label."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self.cores = self.sc.defaultParallelism

    def label(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def collect(self, group: str) -> dict:
        """Jobs of ``group`` with their intervals and summed stage metrics."""
        self._bus.waitUntilEmpty()
        jobs, stages = [], {}
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = self._store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            jobs.append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
            ids = jd.stageIds()
            for i in range(ids.length()):
                sid = ids.apply(i)
                if sid not in stages:
                    try:
                        stages[sid] = self._store.lastStageAttempt(sid)
                    except Py4JJavaError:  # never attempted: skipped, its output reused
                        stages[sid] = None
        out = {
            "jobs": len(jobs), "job_intervals": jobs, "job_s": union_seconds(jobs),
            "stages": 0, "tasks": 0, "exec_run_s": 0.0, "exec_cpu_s": 0.0, "gc_s": 0.0,
            "input_mb": 0.0, "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
        }
        for sd in stages.values():
            if sd is None or sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["exec_run_s"] += sd.executorRunTime() / 1e3
            out["exec_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["input_mb"] += sd.inputBytes() / 1e6
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / 1e6
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
        return out
