"""Spans and Spark status-store counters for the traced run.

Spans are recorded from the benchmark's side, around its calls into each
module of the package: name, start, end, parent span and request id, plus
the Spark work done while the span was open.  That work is read from
Spark's status store, which the session keeps with ``spark.ui.enabled``
false; reading it runs no Spark job.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

COUNTER_KEYS = (
    "spark_jobs", "spark_stages", "spark_tasks", "task_s", "jvm_cpu_s",
    "shuffle_bytes", "spill_bytes",
)


class SparkCounters:
    """Deltas of jobs, stages, tasks, task time, JVM CPU time, shuffle
    write and disk spill between two points of a single-client run."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._no_quantiles = spark.sparkContext._gateway.new_array(
            spark.sparkContext._gateway.jvm.double, 0
        )

    def _settle(self) -> None:
        # Listener events arrive asynchronously; let the store catch up
        # with every job that has already returned.
        self._bus.waitUntilEmpty()

    def _jobs(self):
        jl = self._store.jobsList(None)
        return [jl.apply(i) for i in range(jl.size())]

    def _stages(self):
        sl = self._store.stageList(None, False, False, self._no_quantiles, None)
        return [sl.apply(i) for i in range(sl.size())]

    def mark(self) -> tuple[int, int]:
        """The highest job and stage ids seen so far."""
        self._settle()
        jobs = [j.jobId() for j in self._jobs()]
        stages = [s.stageId() for s in self._stages()]
        return (max(jobs, default=-1), max(stages, default=-1))

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        """Work done by the jobs and stages started after ``mark``."""
        self._settle()
        out = dict.fromkeys(COUNTER_KEYS, 0)
        out["spark_jobs"] = sum(1 for j in self._jobs() if j.jobId() > mark[0])
        for s in self._stages():
            if s.stageId() <= mark[1] or s.status().toString() == "SKIPPED":
                continue
            out["spark_stages"] += 1
            out["spark_tasks"] += s.numCompleteTasks()
            out["task_s"] += s.executorRunTime() / 1e3
            out["jvm_cpu_s"] += s.executorCpuTime() / 1e9
            out["shuffle_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.diskBytesSpilled()
        return out


class Tracer:
    """In-memory span recorder; :meth:`dump` writes the spans as JSON."""

    def __init__(self, counters: SparkCounters):
        self.counters = counters
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, request: str | None = None):
        """Record one span and yield its record (callers may add facts such
        as ``rows``).  Spans nest: the innermost open span is the parent,
        and a child inherits its parent's request id."""
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request if request is not None else (parent or {}).get("request"),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        mark = self.counters.mark()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["counters"] = self.counters.since(mark)

    @staticmethod
    def duration(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f, indent=1)
