"""Benchmark-side tracing: spans around each call into the package, Spark
job and task counts per call, and journal file/event counts at each read.

Spans are kept in memory and written once, by :meth:`Tracer.dump`. Job
counts come from ``SparkContext.statusTracker()``: each traced op runs
under its own job group, and once the call returns the listener bus is
drained so the group's jobs and their completed tasks are all visible.
:class:`NullTracer` is the untraced stand-in for ``op`` and ``span``;
callers test ``enabled`` before recording counts.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class NullTracer:
    enabled = False

    @contextmanager
    def op(self, name: str):
        yield

    @contextmanager
    def span(self, name: str):
        yield


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark, journal_dir: str | None):
        self.sc = spark.sparkContext
        self.journal_dir = journal_dir
        self.spans: list[dict] = []
        self.counts: dict[str, list[float]] = {}
        self._stack: list[int] = []
        self._op_id = 0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        span = {"name": name, "start": time.perf_counter(), "end": None,
                "parent": parent, "op": self._op_id}
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            span["end"] = time.perf_counter()

    @contextmanager
    def op(self, name: str):
        """One top-level call: its own span, job group and job/task counts."""
        self._op_id += 1
        group = f"perfbench-op-{self._op_id}"
        self.sc.setJobGroup(group, name)
        try:
            with self.span(name):
                yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            jobs, tasks = self._group_counts(group)
            self.count(f"spark.jobs.{name}", jobs)
            self.count(f"spark.tasks.{name}", tasks)

    def _group_counts(self, group: str) -> tuple[int, int]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        tasks = 0
        for job_id in job_ids:
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                stage = tracker.getStageInfo(stage_id)
                tasks += stage.numCompletedTasks if stage else 0
        return len(job_ids), tasks

    def count(self, name: str, value: float) -> None:
        self.counts.setdefault(name, []).append(value)

    def _journal_files(self) -> list[str]:
        return [
            os.path.join(dirpath, name)
            for dirpath, _, names in os.walk(self.journal_dir)
            for name in names if name.endswith(".parquet")
        ]

    def journal(self) -> tuple[int, int]:
        """(parquet files, events) in the journal, from parquet footers."""
        import pyarrow.parquet as pq

        paths = self._journal_files()
        return len(paths), sum(pq.read_metadata(p).num_rows for p in paths)

    def journal_bytes(self) -> int:
        return sum(os.path.getsize(p) for p in self._journal_files())

    def median(self, name: str) -> float:
        return statistics.median(self.counts[name])

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)
