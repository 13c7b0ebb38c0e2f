"""Spans around the benchmark's calls into each layer, with the Spark
work of each span attributed to it through a job group.

A span records name, parent, start and end in memory. Entering a span
sets the Spark job group to the span's id, so every job launched inside
it is labelled with it; leaving restores the parent's group. Job and
task counts come from the StatusTracker when the span ends. Task-level
metrics (executor CPU, GC, shuffle, spill, Python boundary bytes) come
from the Spark event log, read after the session stops.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# SQL metric names that PySpark's Arrow evaluation nodes report per task
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN = "time to run Python workers"


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    spark: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def job_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, completed tasks) that ran under job group ``group``."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numCompletedTasks
    return len(jobs), tasks


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"{len(self.spans):03d}:{name}", name,
                  parent.sid if parent else None, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.sid, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.sid, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            sp.jobs, sp.tasks = job_counts(self.sc, sp.sid)

    def find(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.sid]

    def inclusive(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def spark_totals(self, sp: Span) -> dict:
        """Event-log task metrics of ``sp`` and its descendants."""
        tot: dict = defaultdict(float)
        for s in self.inclusive(sp):
            for k, v in s.spark.items():
                if k not in ("task_ms", "task_skew"):
                    tot[k] += v
        return dict(tot)

    def attach_event_log(self, log_dir: str) -> None:
        """Fold the event log's per-task metrics into the spans by job
        group. Call after the session stopped, so the log is complete."""
        by_sid = {s.sid: s for s in self.spans}
        stage_group: dict[int, str] = {}
        for ev in _events(log_dir):
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group in by_sid:
                    sp = by_sid[group]
                    sp.spark["jobs"] = sp.spark.get("jobs", 0) + 1
                    for st in ev["Stage IDs"]:
                        stage_group.setdefault(st, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                m = by_sid[group].spark
                tm = ev.get("Task Metrics") or {}
                shuffle_w = tm.get("Shuffle Write Metrics") or {}
                m["tasks"] = m.get("tasks", 0) + 1
                m.setdefault("stages", set()).add(ev["Stage ID"])
                m.setdefault("task_ms", defaultdict(list))[ev["Stage ID"]].append(
                    tm.get("Executor Run Time", 0))
                _add(m, "executor_cpu_s", tm.get("Executor CPU Time", 0) / 1e9)
                _add(m, "gc_s", tm.get("JVM GC Time", 0) / 1e3)
                _add(m, "shuffle_write_bytes",
                     shuffle_w.get("Shuffle Bytes Written", 0))
                _add(m, "spill_bytes", tm.get("Disk Bytes Spilled", 0))
                for acc in ev["Task Info"].get("Accumulables", []):
                    name = acc.get("Name")
                    if name == PY_SENT:
                        _add(m, "py_bytes_sent", float(acc.get("Update", 0)))
                    elif name == PY_RETURNED:
                        _add(m, "py_bytes_returned", float(acc.get("Update", 0)))
                    elif name == PY_RUN:
                        # millisecond timing metric
                        _add(m, "py_worker_run_s", float(acc.get("Update", 0)) / 1e3)
        for s in self.spans:
            m = s.spark
            stages = m.pop("stages", set())
            m["stages"] = len(stages)
            task_ms = m.get("task_ms", {})
            skew = [max(v) / max(statistics.median(v), 1.0)
                    for v in task_ms.values() if len(v) > 1]
            m["task_skew"] = max(skew, default=1.0)
            m["task_ms"] = task_ms

    def dump(self) -> list[dict]:
        return [
            {"id": s.sid, "name": s.name, "parent": s.parent,
             "start": round(s.start, 6), "end": round(s.end, 6),
             "jobs": s.jobs, "tasks": s.tasks,
             "spark": {k: v for k, v in s.spark.items() if k != "task_ms"}}
            for s in self.spans
        ]


def _add(m: dict, key: str, v: float) -> None:
    m[key] = m.get(key, 0) + v


def _events(log_dir: str):
    for path in sorted(glob.glob(f"{log_dir}/**/events_*", recursive=True)
                       + glob.glob(f"{log_dir}/local-*")):
        with open(path) as f:
            for line in f:
                yield json.loads(line)
