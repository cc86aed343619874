"""Spans around the benchmark's calls into the package, and the Spark
event-log reader that attaches Spark's own counters to them.

A span is one call into one layer (package module), named
``<module>.<call>``.  While tracing, each span sets the job group
``<workload>/<span>#<iter>``.  Jobs submitted from other threads (the
package overlaps independent writes in a thread pool) do not inherit
the group, so a job without one belongs to the span whose wall-clock
interval contains its submission time; spans never overlap because
the benchmark has one client.

The reader uses the stdlib only: the runner turns event-log compression
and rolling off before the session starts, so the log is one plain JSON
file per application.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

COUNTER_UNITS = {
    "s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "task_run_s": "s",
    "shuffle_bytes": "bytes",
    "serial_stages": "count",
}
COUNTERS = tuple(COUNTER_UNITS)
SERIAL_TASK_MS = 500  # a one-task stage whose task runs this long is serial


def group_id(workload: str, span: str, iteration: int) -> str:
    return f"{workload}/{span}#{iteration}"


@dataclass
class Span:
    name: str
    iteration: int
    start: float  # time.time() seconds
    end: float


class Tracer:
    """Records spans in memory; sets job groups only when ``enabled``."""

    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self.sc = None  # the SparkContext of the current session

    @contextmanager
    def span(self, name: str, iteration: int):
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(group_id(self.workload, name, iteration), name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            if self.enabled and self.sc is not None:
                self.sc._jsc.clearJobGroup()
            self.spans.append(Span(name, iteration, start, end))


def read_event_log(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def span_counters(spans: list[Span], events: list[dict], workload: str) -> dict:
    """Per span call: wall seconds plus the jobs, completed stages, tasks,
    executor run time, shuffle bytes written and serial stages of the
    Spark jobs it caused.  Returns {span name: [counters per call]}."""
    by_group = {group_id(workload, s.name, s.iteration): s for s in spans}
    ordered = sorted(spans, key=lambda s: s.start)

    def owner(job: dict) -> Span | None:
        group = (job.get("Properties") or {}).get("spark.jobGroup.id")
        if group in by_group:
            return by_group[group]
        t = job.get("Submission Time", 0) / 1000.0
        for s in ordered:
            if s.start - 0.002 <= t <= s.end + 0.002:
                return s
        return None

    stage_owner: dict[int, int] = {}
    job_count: dict[int, int] = defaultdict(int)
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        s = owner(ev)
        if s is None:
            continue
        job_count[id(s)] += 1
        for sid in ev.get("Stage IDs", []):
            stage_owner.setdefault(sid, id(s))

    acc: dict[int, dict] = defaultdict(lambda: dict.fromkeys(COUNTERS[1:], 0))
    stage_tasks: dict[tuple, list[int]] = defaultdict(list)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            if sid not in stage_owner:
                continue
            a = acc[stage_owner[sid]]
            metrics = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            a["tasks"] += 1
            a["task_run_s"] += metrics.get("Executor Run Time", 0) / 1000.0
            a["shuffle_bytes"] += (metrics.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            stage_tasks[(sid, ev.get("Stage Attempt ID", 0))].append(
                info.get("Finish Time", 0) - info.get("Launch Time", 0)
            )
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info") or {}
            sid = info.get("Stage ID")
            if sid not in stage_owner:
                continue
            a = acc[stage_owner[sid]]
            a["stages"] += 1
            durations = stage_tasks.get((sid, info.get("Stage Attempt ID", 0)), [])
            if info.get("Number of Tasks") == 1 and durations and max(durations) >= SERIAL_TASK_MS:
                a["serial_stages"] += 1

    out: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        row = {"s": s.end - s.start, **acc[id(s)]}
        row["jobs"] = job_count[id(s)]
        out[s.name].append(row)
    return dict(out)


def summarize(per_call: dict[str, list[dict]], names: list[str]) -> dict[str, float]:
    """Median of each counter over a span's calls, for every span in
    ``names``; a span the workload never entered reads 0."""
    flat: dict[str, float] = {}
    for name in names:
        calls = per_call.get(name, [])
        for c in COUNTERS:
            flat[f"{name}.{c}"] = statistics.median(r[c] for r in calls) if calls else 0
    return flat
