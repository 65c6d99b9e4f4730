"""Stdlib-only reader for Spark's JSON event log, rolled up per span.

A span is a timed interval recorded by the benchmark around one call into
the engine (see ``tracing.py``). Each Spark job is attributed to exactly one
span, in this order:

1. its ``spark.jobGroup.id`` names a span and the job was submitted inside
   that span's interval (a group inherited by a long-lived side thread from
   an older span fails the interval test and falls through);
2. another job of the same SQL root execution was attributed by rule 1
   (adaptive-execution and broadcast jobs run on Spark's own threads and
   carry no group);
3. the innermost span whose interval contains the submission time (the
   pipeline's side-thread sha/QAQC jobs).

Jobs left over are counted as unattributed. The event log must be
uncompressed and unrolled (``spark.eventLog.compress=false``,
``spark.eventLog.rolling.enabled=false``).
"""

from __future__ import annotations

import dataclasses
import json
import math
import pathlib
import statistics

GROUP_PREFIX = "perfbench-span-"
PYTHON_RUN = "time to run Python workers"
PYTHON_START = "time to start Python workers"
MB = 1e6


@dataclasses.dataclass
class Span:
    idx: int
    module: str
    kind: str  # "call": driver time inside a public function; "action": a forcing write
    name: str
    start: float  # epoch seconds
    end: float = math.nan
    parent: int | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclasses.dataclass
class Job:
    job_id: int
    submitted_ms: int
    group: str | None
    root_execution: str | None
    stage_ids: list[int]
    name: str  # name of the job's result stage, e.g. "localCheckpoint at ..."
    completed_ms: int = 0
    span: int | None = None
    by_group: bool = False  # placed by rule 1


@dataclasses.dataclass
class Task:
    stage_id: int
    run_ms: int
    gc_ms: int
    shuffle_write_bytes: int
    spill_bytes: int
    python_run_ms: int
    python_start_ms: int


def read(path: pathlib.Path) -> tuple[list[Job], list[Task]]:
    """Jobs and finished tasks of the one application logged under ``path``
    (a log file, or a directory holding exactly one)."""
    if path.is_dir():
        logs = [p for p in path.iterdir() if p.is_file()]
        if len(logs) != 1:
            raise ValueError(f"expected one event log in {path}, found {len(logs)}")
        path = logs[0]
    jobs: dict[int, Job] = {}
    tasks: list[Task] = []
    with path.open(encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"],
                    ev["Submission Time"],
                    props.get("spark.jobGroup.id"),
                    props.get("spark.sql.execution.root.id"),
                    list(ev["Stage IDs"]),
                    max(ev["Stage Infos"], key=lambda st: st["Stage ID"])["Stage Name"],
                )
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].completed_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                acc = {
                    a["Name"]: int(a.get("Update") or 0)
                    for a in ev["Task Info"].get("Accumulables", [])
                    if a.get("Name") in (PYTHON_RUN, PYTHON_START)
                }
                tasks.append(Task(
                    ev["Stage ID"],
                    m.get("Executor Run Time", 0),
                    m.get("JVM GC Time", 0),
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    m.get("Disk Bytes Spilled", 0),
                    acc.get(PYTHON_RUN, 0),
                    acc.get(PYTHON_START, 0),
                ))
    return sorted(jobs.values(), key=lambda j: j.job_id), tasks


def attribute(jobs: list[Job], spans: list[Span]) -> int:
    """Set ``job.span`` by the rules in the module docstring; returns the
    number of jobs no rule could place."""
    by_group = {f"{GROUP_PREFIX}{s.idx}": s for s in spans}

    def inside(s: Span, ms: int) -> bool:
        return s.start * 1000 - 1 <= ms <= s.end * 1000 + 1

    by_root: dict[str, int] = {}
    for j in jobs:
        s = by_group.get(j.group or "")
        if s is not None and inside(s, j.submitted_ms):
            j.span = s.idx
            j.by_group = True
            if j.root_execution is not None:
                by_root.setdefault(j.root_execution, s.idx)
    missing = 0
    for j in jobs:
        if j.span is not None:
            continue
        if j.root_execution in by_root:
            j.span = by_root[j.root_execution]
            continue
        open_spans = [s for s in spans if inside(s, j.submitted_ms)]
        if open_spans:
            j.span = max(open_spans, key=lambda s: (s.start, s.idx)).idx
        else:
            missing += 1
    return missing


def _self_seconds(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the time its direct children cover."""
    own = {s.idx: s.seconds for s in spans}
    for s in spans:
        if s.parent is not None:
            own[s.parent] -= s.seconds
    return own


def rollup(jobs: list[Job], tasks: list[Task], spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per-module totals over attributed jobs and their tasks.

    ``call_s`` sums the self time of a module's call spans and ``action_s``
    the self time of its action spans, so a nested call is counted once, in
    its own module."""
    span_of = {s.idx: s for s in spans}
    own = _self_seconds(spans)
    out: dict[str, dict[str, float]] = {}

    def bucket(module: str) -> dict[str, float]:
        return out.setdefault(module, {
            "call_s": 0.0, "action_s": 0.0, "jobs": 0, "tasks": 0, "task_s": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0, "gc_s": 0.0,
            "task_skew": 0.0, "python_s": 0.0, "python_start_s": 0.0,
        })

    for s in spans:
        bucket(s.module)[f"{s.kind}_s"] += own[s.idx]
    stage_job: dict[int, Job] = {}
    for j in jobs:
        if j.span is None:
            continue
        bucket(span_of[j.span].module)["jobs"] += 1
        for sid in j.stage_ids:
            stage_job.setdefault(sid, j)
    per_stage: dict[int, list[int]] = {}
    for t in tasks:
        j = stage_job.get(t.stage_id)
        if j is None:
            continue
        b = bucket(span_of[j.span].module)
        b["tasks"] += 1
        b["task_s"] += t.run_ms / 1000
        b["gc_s"] += t.gc_ms / 1000
        b["shuffle_write_mb"] += t.shuffle_write_bytes / MB
        b["spill_mb"] += t.spill_bytes / MB
        b["python_s"] += t.python_run_ms / 1000
        b["python_start_s"] += t.python_start_ms / 1000
        per_stage.setdefault(t.stage_id, []).append(t.run_ms)
    for sid, runs in per_stage.items():
        med = statistics.median(runs)
        if len(runs) > 1 and med > 0:
            b = bucket(span_of[stage_job[sid].span].module)
            b["task_skew"] = max(b["task_skew"], max(runs) / med)
    return out


def commit_seconds(jobs: list[Job], spans: list[Span]) -> float:
    """Sum over action spans of the time between the last job the span (or
    a span nested in it) submitted finishing and the span ending: the
    driver-side commit after a write's last task. Side-thread jobs, placed
    by time, are not the span's own and are left out."""
    parent = {s.idx: s.parent for s in spans}
    last: dict[int, int] = {}
    for j in jobs:
        i = j.span if j.by_group else None
        while i is not None:
            last[i] = max(last.get(i, 0), j.completed_ms)
            i = parent[i]
    return sum(
        max(0.0, s.end - last[s.idx] / 1000)
        for s in spans
        if s.kind == "action" and s.idx in last
    )


def checkpoint_rounds(jobs: list[Job], spans: list[Span]) -> int:
    """Connected-components rounds: the eager checkpoint jobs each
    ``clustering`` call span ran beyond its first (the input checkpoint)."""
    per_span: dict[int, int] = {}
    for j in jobs:
        if j.span is not None and j.name.startswith(("localCheckpoint ", "checkpoint ")):
            per_span[j.span] = per_span.get(j.span, 0) + 1
    kind = {s.idx: (s.module, s.kind) for s in spans}
    return sum(n - 1 for i, n in per_span.items() if kind[i] == ("clustering", "call"))
