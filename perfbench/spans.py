"""Layer spans and the Spark event-log fold for the traced run.

A span is one call into a layer (``pass`` → ``query`` → ``plans.build`` ⊃
``sources.read`` → ``exec.action`` ⊃ ``sources.write``). While a span is
open, every Spark job it launches carries the span's id as its job group,
so the event log attributes each job, stage and task to the innermost
span that launched it. ``fold_events`` turns the log into per-job
counters; ``layer_metrics`` sums spans and their jobs into per-layer
numbers.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-"

#: Spark's Python SQL metrics (task accumulables), by the name we report.
PYTHON_METRICS = {
    "time to run Python workers": "python_run_ms",
    # folded only to be checked: per task it often exceeds the task's wall
    "time to initialize Python workers": "python_init_ms",
    "data sent to Python workers": "python_bytes_in",
    "data returned from Python workers": "python_bytes_out",
}
#: Per-task times that cannot exceed the task's own wall time.
TIMED_TASK_FIELDS = ("run_ms", "cpu_ms", "gc_ms", "python_run_ms", "python_init_ms")
#: Slack for comparing millisecond counters with a millisecond wall clock.
WALL_SLACK_MS = 2.0


@dataclass
class Span:
    sid: int
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans; ``active`` switches recording on and off.

    ``set_group`` is called with the innermost open span's job group on
    every enter and exit (``None`` once no span is open).
    """

    def __init__(self, set_group=None):
        self.spans: list[Span] = []
        self.active = False
        self._stack: list[Span] = []
        self._set_group = set_group

    @contextmanager
    def span(self, layer: str, **attrs):
        if not self.active:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), layer, parent, time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        if self._set_group:
            self._set_group(f"{GROUP_PREFIX}{s.sid}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._set_group:
                top = self._stack[-1].sid if self._stack else None
                self._set_group(None if top is None else f"{GROUP_PREFIX}{top}")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's wall time minus the wall time of its direct children."""
    own = {s.sid: s.wall for s in spans}
    for s in spans:
        if s.parent is not None:
            own[s.parent] -= s.wall
    return own


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Job:
    group: int | None
    submitted_ms: float
    completed_ms: float = 0.0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    counters: dict = field(default_factory=dict)


def _acc_value(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def fold_events(lines) -> tuple[dict[int, Job], dict[str, int]]:
    """Fold Spark event-log JSON lines into jobs keyed by job id.

    Per task it keeps run, CPU and GC time, shuffle and spill bytes, and
    the Python SQL metrics. Every per-task time is first checked against
    the task's wall time (finish minus launch); a value above it is
    dropped and counted in the returned ``rejected`` map, by metric.
    """
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    rejected: dict[str, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            group = int(gid[len(GROUP_PREFIX):]) if gid.startswith(GROUP_PREFIX) else None
            jobs[ev["Job ID"]] = Job(group, float(ev.get("Submission Time", 0)))
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]].completed_ms = float(ev.get("Completion Time", 0))
        elif kind == "SparkListenerStageCompleted":
            job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
            if job is not None:
                job.stages += 1
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID")))
            if job is None:
                continue
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            job.tasks += 1
            job.tasks_failed += int(bool(info.get("Failed")))
            sr = m.get("Shuffle Read Metrics", {})
            task = {
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                ),
                "spill_bytes": m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
            }
            for acc in info.get("Accumulables", []):
                key = PYTHON_METRICS.get(acc.get("Name"))
                if key:
                    task[key] = task.get(key, 0.0) + _acc_value(acc.get("Update"))
            wall = float(info.get("Finish Time", 0)) - float(info.get("Launch Time", 0))
            for key in TIMED_TASK_FIELDS:
                if task.get(key, 0) > wall + WALL_SLACK_MS:
                    rejected[key] = rejected.get(key, 0) + 1
                    task[key] = 0.0
            for key, v in task.items():
                job.counters[key] = job.counters.get(key, 0.0) + v
    return jobs, rejected


def layer_metrics(spans: list[Span], jobs: dict[int, Job], n_passes: int) -> dict[str, float]:
    """Per-layer numbers, averaged per traced pass.

    Times are span self times, except ``sources.*`` spans, which have no
    children other than the Spark work they launch. Jobs count toward the
    layer of the span that launched them (``sources.read_jobs``,
    ``plans.build_jobs``); the ``exec.*`` and ``operators.*`` task
    counters cover the same jobs, every job launched under an
    ``exec.action`` span, sink writes included.
    """
    own = self_times(spans)
    by_sid = {s.sid: s for s in spans}

    def enclosing_action(sid: int | None) -> int | None:
        while sid is not None and by_sid[sid].layer != "exec.action":
            sid = by_sid[sid].parent
        return sid

    out: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        out[key] = out.get(key, 0.0) + v

    for s in spans:
        if s.layer == "sources.read":
            add("sources.read_calls", 1)
            add("sources.read_s", s.wall)
        elif s.layer == "sources.csv_read":
            add("sources.csv_read_s", s.wall)
        elif s.layer == "sources.write":
            add("sources.write_s", s.wall)
            add("sources.write_bytes", s.attrs.get("bytes", 0))
            add("sources.write_files", s.attrs.get("files", 0))
        elif s.layer == "plans.build":
            add("plans.build_s", own[s.sid])
        elif s.layer == "exec.action":
            add("exec.action_s", own[s.sid])
    action_jobs: dict[int, list[Job]] = {}
    for job in jobs.values():
        if job.group not in by_sid:
            continue
        layer = by_sid[job.group].layer
        if layer == "sources.read":
            add("sources.read_jobs", 1)
        elif layer == "plans.build":
            add("plans.build_jobs", 1)
        action = enclosing_action(job.group)
        if action is None:
            continue
        action_jobs.setdefault(action, []).append(job)
        c = job.counters
        add("operators.python_run_s", c.get("python_run_ms", 0) / 1e3)
        add("operators.python_bytes_in", c.get("python_bytes_in", 0))
        add("operators.python_bytes_out", c.get("python_bytes_out", 0))
        add("exec.jobs", 1)
        add("exec.stages", job.stages)
        add("exec.tasks", job.tasks)
        add("exec.tasks_failed", job.tasks_failed)
        add("exec.task_cpu_s", c.get("cpu_ms", 0) / 1e3)
        add("exec.task_run_s", c.get("run_ms", 0) / 1e3)
        add("exec.gc_s", c.get("gc_ms", 0) / 1e3)
        add("exec.shuffle_read_bytes", c.get("shuffle_read_bytes", 0))
        add("exec.shuffle_write_bytes", c.get("shuffle_write_bytes", 0))
        add("exec.spill_bytes", c.get("spill_bytes", 0))
    for s in spans:
        if s.layer == "exec.action":
            busy = union_length(
                [(j.submitted_ms, j.completed_ms) for j in action_jobs.get(s.sid, [])]
            ) / 1e3
            add("exec.driver_residual_s", max(0.0, s.wall - busy))
    return {k: v / max(1, n_passes) for k, v in out.items()}
