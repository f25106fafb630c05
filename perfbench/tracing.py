"""Spans recorded around the benchmark's calls into the program, and the
Spark event-log parser that attributes Spark work to those calls.

Spans live in memory while the workload runs and are written once at the
end. Jobs map to ops by the job group the benchmark sets before each call;
a job whose group the program replaced (a streaming query runs its batches
under its own group) falls back to the op whose time window holds its
submission, which is unambiguous with one client. Jobs outside every op
(setup, checks) are ignored.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

JOB_GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, comparable with the event log's clock
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """In-memory span recorder. ``span`` nests: a span opened inside
    another records it as its parent."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            len(self.spans),
            name,
            time.time(),
            0.0,
            parent.id if parent else None,
            op,
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of it that its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_length(
                [(c.start, c.end) for c in children.get(s.id, [])], s.start, s.end
            )
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def write(self, path: str, spark_by_op: dict) -> None:
        """Write the spans, each span name's self time and the Spark work
        attributed to each op."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [asdict(s) for s in self.spans],
                    "self_s": self.self_times(),
                    "spark_by_op": spark_by_op,
                },
                f,
                indent=1,
            )


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class Job:
    id: int
    group: str | None
    submit: float  # epoch seconds
    end: float
    stages: list[int]


@dataclass
class StageWork:
    tasks: int = 0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    spill_b: int = 0
    input_b: int = 0
    output_b: int = 0


def parse_event_log(log_dir: str) -> tuple[dict[int, Job], dict[int, StageWork]]:
    """Jobs and per-stage task totals from the (uncompressed) event log
    Spark wrote under ``log_dir``."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageWork] = {}
    # Spark 4 writes a rolling log: a directory of ``events_*`` files
    paths = [
        p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    ]
    if not paths:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"],
                        props.get(JOB_GROUP_PROP),
                        ev["Submission Time"] / 1000,
                        ev["Submission Time"] / 1000,
                        list(ev.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    w = stages.setdefault(ev["Stage ID"], StageWork())
                    w.tasks += 1
                    if not m:
                        continue
                    sr = m.get("Shuffle Read Metrics", {})
                    w.executor_run_s += m.get("Executor Run Time", 0) / 1000
                    w.gc_s += m.get("JVM GC Time", 0) / 1000
                    w.shuffle_write_b += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    w.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    w.spill_b += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    w.input_b += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    w.output_b += m.get("Output Metrics", {}).get("Bytes Written", 0)
    return jobs, stages


def spark_work_by_op(
    jobs: dict[int, Job],
    stages: dict[int, StageWork],
    op_windows: dict[str, tuple[float, float]],
) -> dict[str, dict[str, float]]:
    """Spark work per op id: jobs, executed stages, tasks, task metrics,
    time covered by the op's jobs and the remaining driver-only time."""
    owner: dict[int, str] = {}
    for j in sorted(jobs.values(), key=lambda j: j.id):
        op = j.group if j.group in op_windows else None
        if op is None:
            op = next(
                (o for o, (a, b) in op_windows.items() if a <= j.submit <= b), None
            )
        if op is not None:
            owner[j.id] = op
    stage_owner: dict[int, str] = {}
    for jid in sorted(owner):
        for sid in jobs[jid].stages:
            stage_owner.setdefault(sid, owner[jid])
    out = {
        op: {
            "jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
            "gc_s": 0.0, "shuffle_write_b": 0, "shuffle_read_b": 0,
            "spill_b": 0, "input_b": 0, "output_b": 0,
        }
        for op in op_windows
    }
    for jid, op in owner.items():
        out[op]["jobs"] += 1
    for sid, w in stages.items():
        op = stage_owner.get(sid)
        if op is None:
            continue
        o = out[op]
        o["stages"] += 1
        o["tasks"] += w.tasks
        for k in ("executor_run_s", "gc_s", "shuffle_write_b", "shuffle_read_b",
                  "spill_b", "input_b", "output_b"):
            o[k] += getattr(w, k)
    for op, (a, b) in op_windows.items():
        busy = union_length(
            [(jobs[j].submit, jobs[j].end) for j, o in owner.items() if o == op], a, b
        )
        out[op]["job_s"] = busy
        out[op]["driver_only_s"] = (b - a) - busy
    return out
