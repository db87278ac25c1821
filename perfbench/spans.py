"""In-memory spans around calls into the engine's layers.

A span records name, start, end, parent and the Spark job group it tagged.
Spans stay in memory and are printed at the end of the run. Task CPU, shuffle bytes and task skew are attributed per
span from the Spark UI REST API (the status store, read over localhost), by
the span's job group.

The tracer is off in the untraced run: ``span`` then records nothing and
``force`` runs nothing, so the engine keeps its natural operator fusion.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    group: str
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def consume(df) -> None:
    """Run ``df`` to the end and discard its rows (a ``noop`` write)."""
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    """Spans for one run. ``enabled=False`` makes every method a no-op."""

    def __init__(self, spark, enabled: bool, run_id: str = ""):
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        idx = len(self.spans)
        sp = Span(
            name=name,
            start=time.perf_counter(),
            parent=self._stack[-1] if self._stack else None,
            group=f"{self.run_id}-span-{idx}",
        )
        self.spans.append(sp)
        previous = sc.getLocalProperty(JOB_GROUP)
        sc.setJobGroup(sp.group, name)
        self._stack.append(idx)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty(JOB_GROUP, previous)

    def force(self, df) -> None:
        """Materialise ``df`` inside the current span (traced run only)."""
        if self.enabled:
            consume(df)

    def self_time(self, sp: Span) -> float:
        """Duration minus the part of it covered by child spans."""
        idx = self.spans.index(sp)
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == idx
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.duration - covered

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.by_name(name))

    def summary(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "start": round(s.start, 6),
                "duration_s": round(s.duration, 6),
                "self_s": round(self.self_time(s), 6),
                "parent": None if s.parent is None else self.spans[s.parent].name,
                "group": s.group,
            }
            for s in self.spans
        ]


class StageStats:
    """Per-job-group stage metrics from the UI REST API.

    Reads the application's jobs, stages and the task-time quantiles of every
    shuffle-reading stage of a traced job once (call after the last traced
    job, while the session is up); ``for_groups`` then sums task CPU and
    shuffle bytes over the stages of the jobs tagged with the given groups,
    and ``skew`` gives the max over median task run time of the busiest
    shuffle-reading stage."""

    def __init__(self, spark):
        sc = spark.sparkContext
        # the status store is filled from the listener bus asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.jobs = self._get("/jobs")
        self.stages = {s["stageId"]: s for s in self._get("/stages")}
        traced = {sid for j in self.jobs if j.get("jobGroup") for sid in j["stageIds"]}
        self.task_times = {
            sid: self._get(
                f"/stages/{sid}/{s['attemptId']}/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            for sid, s in self.stages.items()
            if s["shuffleReadBytes"] > 0 and sid in traced
        }

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as fh:
            return json.load(fh)

    def _stage_ids(self, groups: set[str]) -> set[int]:
        return {
            sid
            for j in self.jobs
            if j.get("jobGroup") in groups
            for sid in j["stageIds"]
            if sid in self.stages
        }

    def jobs_in(self, groups: set[str]) -> int:
        return sum(1 for j in self.jobs if j.get("jobGroup") in groups)

    def for_groups(self, groups: set[str]) -> dict[str, float]:
        ids = self._stage_ids(groups)
        st = [self.stages[i] for i in ids]
        return {
            "task_cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
            "shuffle_bytes": float(sum(s["shuffleWriteBytes"] for s in st)),
        }

    def skew(self, groups: set[str]) -> float:
        ids = [
            i
            for i in self._stage_ids(groups)
            if self.stages[i]["shuffleReadBytes"] > 0
        ]
        if not ids:
            return 0.0
        sid = max(ids, key=lambda i: self.stages[i]["shuffleReadBytes"])
        median, top = self.task_times[sid]
        return top / max(median, 1.0)
