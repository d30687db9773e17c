"""Spans around layer calls, and Spark event-log counters per span.

A ``Tracer`` records one span per call into a program layer: name,
start, end and parent. With tracing on, every span also becomes the
Spark job group of the jobs it launches, so the event log attributes
each job, stage and task to the span that caused it. Streaming jobs run
under their query's ``runId`` as job group; ``Tracer.adopt`` maps a
run id onto the span that started the stream.

Spans live in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

#: counters the event log gives per span, in output order
SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "task_skew",
    "single_task_stage_rows",
)


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; with ``enabled`` tags Spark jobs with the span id."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self.groups: dict[str, str] = {}  # job group -> span id
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"s{len(self.spans)}", name, parent.sid if parent else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        if self.enabled:
            self.groups[s.sid] = s.sid
            self.sc.setJobGroup(s.sid, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setJobGroup(parent.sid, parent.name)

    def adopt(self, group: str, span: Span) -> None:
        """Attribute jobs run under ``group`` (a stream's runId) to ``span``."""
        self.groups[group] = span.sid

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the part of it its direct children cover."""
        covered, reach = 0.0, span.start
        for start, end in sorted((c.start, c.end) for c in self.spans if c.parent == span.sid):
            covered += max(0.0, end - max(start, reach))
            reach = max(reach, end)
        return span.seconds - covered

    def records(self, spark_counts: dict[str, dict[str, float]]) -> list[dict]:
        """One JSON-ready record per span, with its own Spark counters."""
        by_span: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for group, counts in spark_counts.items():
            sid = self.groups.get(group)
            if sid is None:
                continue
            for k, v in counts.items():
                if k == "task_skew":
                    by_span[sid][k] = max(by_span[sid][k], v)
                else:
                    by_span[sid][k] += v
        return [
            {
                "id": s.sid,
                "name": s.name,
                "parent": s.parent,
                "seconds": s.seconds,
                "self_seconds": self.self_seconds(s),
                "spark": dict(by_span.get(s.sid, {})),
            }
            for s in self.spans
        ]


def _task_rows(metrics: dict) -> float:
    inp = metrics.get("Input Metrics", {}).get("Records Read", 0)
    shuf = metrics.get("Shuffle Read Metrics", {}).get("Total Records Read", 0)
    return inp + shuf


def parse_event_log(lines) -> dict[str, dict[str, float]]:
    """Per job group counters from Spark event-log JSON lines.

    ``task_skew`` is the worst max/median task run time over the
    group's stages with at least two tasks; ``single_task_stage_rows``
    counts the input and shuffle records read by stages that ran as a
    single task.
    """
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    stage_tasks: dict[int, int] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            jobs[group] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stage_tasks[info["Stage ID"]] = info["Number of Tasks"]
        elif kind == "SparkListenerTaskEnd":
            tasks[ev["Stage ID"]].append(ev.get("Task Metrics") or {})

    out: dict[str, dict[str, float]] = {
        g: {c: 0.0 for c in SPARK_COUNTERS} | {"jobs": float(n)} for g, n in jobs.items()
    }
    for stage, n_tasks in stage_tasks.items():
        group = stage_group.get(stage)
        if group is None:
            continue
        c = out[group]
        ms = tasks.get(stage, [])
        c["stages"] += 1
        c["tasks"] += len(ms)
        runs = [m.get("Executor Run Time", 0) for m in ms]
        c["executor_run_s"] += sum(runs) / 1e3
        c["executor_cpu_s"] += sum(m.get("Executor CPU Time", 0) for m in ms) / 1e9
        c["gc_s"] += sum(m.get("JVM GC Time", 0) for m in ms) / 1e3
        for m in ms:
            sr = m.get("Shuffle Read Metrics", {})
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        if n_tasks == 1:
            c["single_task_stage_rows"] += sum(_task_rows(m) for m in ms)
        elif len(runs) >= 2:
            med = statistics.median(runs)
            if med > 0:
                c["task_skew"] = max(c["task_skew"], max(runs) / med)
    return out
