"""Spans around the program's entry points, and the Spark event log
that gives each span its jobs, tasks and executor counters.

A span is opened by wrapping a public function or method from this
file (``Tracer.install``); the program itself is not changed. Each span
instance sets its own Spark job group, so every job the event log
records carries the innermost open span's group id. After the
session stops, ``parse_event_log`` groups the log by job group and
``span_rows`` turns spans plus groups into the per-span quantities.

Counters are inclusive: a span's jobs, tasks and bytes include those
of the spans nested in it, like its wall time. ``self_s`` is the
wall time not covered by child spans. ``driver_gap_s`` is the wall
time not covered by any of the span's jobs: Python, py4j and planning.
Lazy DataFrames run where an action is issued, so a function that
returns an unevaluated frame shows only its eager jobs; the action
that later runs the rest is billed to the span that issues it
(``bench.sink`` for the benchmark's own writes and collects).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0
    files: int = 0
    bytes: int = 0


def _tree_size(path: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


class Tracer:
    """Records spans and tags Spark jobs with the innermost span."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op = -1
        self._undo: list[tuple[object, str, object]] = []

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{span.sid}", span.name)

    @contextlib.contextmanager
    def span(self, name: str, path: str | None = None):
        """Open a span; with ``path``, also count the files and bytes
        that appear under that directory while it is open (measured
        outside the span's own interval)."""
        before = _tree_size(path) if path else (0, 0)
        parent = self.stack[-1].sid if self.stack else None
        s = Span(len(self.spans), name, parent, self.op, time.time())
        self.spans.append(s)
        self.stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self.stack.pop()
            self._set_group(self.stack[-1] if self.stack else None)
            if path:
                after = _tree_size(path)
                s.files, s.bytes = after[0] - before[0], after[1] - before[1]

    def install(self, owner, attr: str, name: str, path_arg: int | None = None) -> None:
        """Replace ``owner.attr`` with a wrapper that runs it inside a
        span; ``path_arg`` is the positional index of a directory
        argument whose new files the span counts."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            path = None
            if path_arg is not None:
                path = args[path_arg] if len(args) > path_arg else kwargs.get("path")
            with tracer.span(name, path):
                return orig(*args, **kwargs)

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()


@dataclass
class Group:
    jobs: list[tuple[float, float]] = field(default_factory=list)
    tasks: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def parse_event_log(lines) -> dict[str, Group]:
    """Job group id -> its jobs' (start, end) epoch seconds and the
    summed task metrics of the stages those jobs ran. Jobs without a
    group are filed under ''."""
    groups: dict[str, Group] = {}
    job_start: dict[int, tuple[str, float]] = {}
    stage_group: dict[int, str] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_start[ev["Job ID"]] = (g, ev["Submission Time"] / 1000.0)
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd":
            g, t0 = job_start.pop(ev["Job ID"], ("", None))
            if t0 is not None:
                groups.setdefault(g, Group()).jobs.append((t0, ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageSubmitted":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            grp = groups.setdefault(stage_group.get(ev["Stage ID"], ""), Group())
            grp.tasks += 1
            grp.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            grp.run_s += m.get("Executor Run Time", 0) / 1e3
            grp.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            grp.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return groups


def read_event_logs(log_dir: str) -> dict[str, Group]:
    """Parse every event log file under ``log_dir`` (one application per
    file or per directory of files, rolling off)."""
    lines = []
    for d, _, files in sorted(os.walk(log_dir)):
        for name in sorted(files):
            with open(os.path.join(d, name)) as f:
                lines.extend(f)
    return parse_event_log(lines)


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def span_rows(spans: list[Span], groups: dict[str, Group]) -> list[dict]:
    """One row per span instance: its op, name and SPAN_QUANTITIES,
    counters inclusive of nested spans."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def subtree(s: Span):
        yield s
        for c in children.get(s.sid, []):
            yield from subtree(c)

    rows = []
    for s in spans:
        own = [groups.get(f"{GROUP_PREFIX}{d.sid}", Group()) for d in subtree(s)]
        jobs = [iv for g in own for iv in g.jobs]
        wall = s.end - s.start
        kids = [(c.start, c.end) for c in children.get(s.sid, [])]
        row = {
            "op": s.op, "name": s.name,
            "wall_s": wall,
            "self_s": wall - _union_length(kids, s.start, s.end),
            "jobs": len(jobs),
            "tasks": sum(g.tasks for g in own),
            "driver_gap_s": wall - _union_length(jobs, s.start, s.end),
            "executor_cpu_s": sum(g.cpu_s for g in own),
            "executor_run_s": sum(g.run_s for g in own),
            "shuffle_write_bytes": sum(g.shuffle_write_bytes for g in own),
            "spill_bytes": sum(g.spill_bytes for g in own),
            "files": s.files, "bytes": s.bytes,
        }
        rows.append(row)
    return rows
