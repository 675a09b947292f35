"""In-memory spans with per-call Spark job, stage and task counts.

Every span records name, start, end, parent span and run id; the workloads
time their workflow calls through spans whether tracing is on or off (two
clock reads per call). With tracing on, a span opened with ``spark=True``
also runs its call under a job group of its own and reads the call's job,
stage and task counts from the status tracker afterwards; spans are written
out as JSON lines when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from itertools import count

from .stats import self_times


class Tracer:
    def __init__(self, run_id: str, spark=None, enabled: bool = False):
        self.run_id = run_id
        self.enabled = enabled
        self._sc = spark.sparkContext if spark is not None else None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = count(1)
        self.bookkeeping_s = 0.0  # time spent reading Spark counts

    @contextmanager
    def span(self, name: str, spark: bool = False, **attrs):
        sid = next(self._ids)
        rec = {
            "id": sid,
            "run": self.run_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        group = None
        if self.enabled and spark and self._sc is not None:
            group = f"{self.run_id}-{sid}"
            self._sc.setJobGroup(group, name)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                t = time.perf_counter()
                rec.update(self._spark_counts(group))
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self.bookkeeping_s += time.perf_counter() - t
            self.spans.append(rec)

    def _spark_counts(self, group: str) -> dict:
        tracker = self._sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = failed = 0
        for s in stage_ids:
            info = tracker.getStageInfo(s)
            if info is None:
                continue
            ran = info.numCompletedTasks + info.numFailedTasks
            if ran:
                stages += 1
                tasks += ran
                failed += info.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str, key: str | None = None) -> float:
        """Summed duration (or summed ``key``) of every span called ``name``."""
        spans = self.named(name)
        if key is None:
            return sum(s["end"] - s["start"] for s in spans)
        return sum(s.get(key, 0) for s in spans)

    def self_total(self, name: str) -> float:
        st = self_times(self.spans)
        return sum(st[s["id"]] for s in self.named(name))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")
