"""Spans around the benchmark's calls into each layer, and Spark counts per span.

A span records name, start, end, parent and request id.  Spans stay in
memory and are written out once, at the end of the run.  The layer of a
span is its name up to the first dot (``service.search.build`` belongs to
``service``); a span's self time is its duration minus the part of it that
its children cover.

Spark work is attributed through the job group: entering a span sets the
thread's ``spark.jobGroup.id`` to the span id, leaving restores the
parent's.  After the session stops, the event log is read and every job,
its stages and their tasks are charged to the span whose id the job
carries.  Jobs started from threads the engine spawns (the hybrid path
collects its two legs concurrently) carry no group; such a job is charged
to the one innermost span open at its submission, or left unattributed
when several are open.  Each span's stage-active
intervals are added as ``spark.stages`` child spans, so the ``spark``
layer's self time is time the executors were running stages for it.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: str
    name: str
    rid: str
    parent: str | None
    start: float  # seconds, time.time() clock (the event log's clock)
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
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


def self_times(spans: list[Span]) -> dict[str, float]:
    """span id -> self time in ms: duration minus the union of its
    children's intervals, each clipped to the parent."""
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            [
                (max(c.start, s.start), min(c.end, s.end))
                for c in children.get(s.id, [])
                if c.end > s.start and c.start < s.end
            ]
        )
        out[s.id] = max(0.0, (s.end - s.start) - covered) * 1000.0
    return out


def layer_table(spans: list[Span]) -> dict[str, dict[str, float]]:
    """layer -> {self_ms, spans}: where the traced wall time went."""
    selfs = self_times(spans)
    table: dict[str, dict[str, float]] = {}
    for s in spans:
        row = table.setdefault(s.layer, {"self_ms": 0.0, "spans": 0})
        row["self_ms"] += selfs[s.id]
        row["spans"] += 1
    return table


class Tracer:
    """Records spans when enabled; when disabled every call is a no-op, so
    the timed runs carry no tracing work."""

    def __init__(self, enabled: bool, spark=None) -> None:
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span_id: str | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", span_id)

    @contextmanager
    def span(self, name: str, rid: str = "", **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = f"s{next(self._ids)}"
        sp = Span(sid, name, rid or (parent.rid if parent else ""),
                  parent.id if parent else None, time.time(), attrs=attrs)
        stack.append(sp)
        self._set_group(sid)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            self._set_group(stack[-1].id if stack else None)
            with self._lock:
                self.spans.append(sp)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


# -- Spark event log -------------------------------------------------------


@dataclass
class JobStats:
    group: str | None
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


def read_event_log(paths: list[str]):
    """(jobs, stages, tasks) from an uncompressed Spark event log.
    jobs: id -> JobStats; stages: id -> (submit_s, end_s);
    tasks: stage id -> [tasks, executor_run_ms, shuffle_bytes]."""
    jobs: dict[int, JobStats] = {}
    stages: dict[int, tuple[float, float]] = {}
    tasks: dict[int, list[float]] = {}
    for path in paths:
        with open(path) as f:
            events = [json.loads(line) for line in f]
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = JobStats(
                    props.get("spark.jobGroup.id"),
                    ev["Submission Time"] / 1000.0,
                    stages=list(ev.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" in info and "Completion Time" in info:
                    stages[info["Stage ID"]] = (
                        info["Submission Time"] / 1000.0,
                        info["Completion Time"] / 1000.0,
                    )
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                row = tasks.setdefault(ev["Stage ID"], [0, 0.0, 0.0])
                row[0] += 1
                row[1] += m.get("Executor Run Time", 0)
                row[2] += (
                    rd.get("Remote Bytes Read", 0)
                    + rd.get("Local Bytes Read", 0)
                    + wr.get("Shuffle Bytes Written", 0)
                )
    return jobs, stages, tasks


def attribute_jobs(spans: list[Span], jobs: dict[int, JobStats]) -> tuple[dict[str, list[int]], list[int]]:
    """span id -> job ids it launched, plus the job ids no span claims.
    A job without a group (started from a thread the engine spawned) goes
    to the innermost layer span open at its submission, when exactly one
    such span is open."""
    by_id = {s.id: s for s in spans}
    layer_spans = [s for s in spans if s.layer not in ("bench", "spark")]
    owned: dict[str, list[int]] = {}
    orphans: list[int] = []
    for jid in sorted(jobs):
        job = jobs[jid]
        if job.group in by_id:
            owned.setdefault(job.group, []).append(jid)
            continue
        open_ = [s for s in layer_spans if s.start <= job.submit <= s.end]
        parents = {s.parent for s in open_}
        innermost = [s for s in open_ if s.id not in parents]
        if len(innermost) == 1:
            owned.setdefault(innermost[0].id, []).append(jid)
        else:
            orphans.append(jid)
    return owned, orphans


def attach_spark(tracer: Tracer, event_log: list[str]) -> dict:
    """Charge Spark work to spans: sets ``attrs['spark']`` on every span
    that launched jobs and adds its stage intervals as ``spark.stages``
    children.  Returns a summary with the unattributed job count."""
    jobs, stages, tasks = read_event_log(event_log)
    owned, orphans = attribute_jobs(tracer.spans, jobs)
    stages_of: dict[int, list[int]] = {}
    seen: set[int] = set()
    for jid in sorted(jobs):
        for st in jobs[jid].stages:
            if st not in seen and st in stages:  # a reused stage ran in its first job
                seen.add(st)
                stages_of.setdefault(jid, []).append(st)
    by_id = {s.id: s for s in tracer.spans}
    no_tasks = [0, 0.0, 0.0]
    extra = []
    for sid, jids in owned.items():
        sp = by_id[sid]
        run = [st for j in jids for st in stages_of.get(j, [])]
        intervals = [
            (max(stages[st][0], sp.start), min(stages[st][1], sp.end)) for st in run
        ]
        intervals = [(a, b) for a, b in intervals if b > a]
        active_ms = union_length(intervals) * 1000.0
        sp.attrs["spark"] = {
            "jobs": len(jids),
            "tasks": sum(tasks.get(st, no_tasks)[0] for st in run),
            "executor_run_ms": sum(tasks.get(st, no_tasks)[1] for st in run),
            "shuffle_bytes": sum(tasks.get(st, no_tasks)[2] for st in run),
            "stage_active_ms": active_ms,
            "sched_gap_ms": max(0.0, sp.ms - active_ms),
        }
        for a, b in intervals:
            extra.append(Span(f"{sid}.st{len(extra)}", "spark.stages", sp.rid, sid, a, b))
    tracer.spans.extend(extra)
    return {"jobs": len(jobs), "unattributed_jobs": len(orphans)}


def subtree_spark(spans: list[Span], root_id: str) -> dict[str, float]:
    """Spark counts of a span and all its descendants, summed; stage-active
    time is the union of their stage intervals, so concurrent stages count
    once, and the scheduling gap is the root's wall time minus it."""
    kids: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    root = next(s for s in spans if s.id == root_id)
    total = {"jobs": 0.0, "tasks": 0.0, "executor_run_ms": 0.0, "shuffle_bytes": 0.0}
    intervals = []
    todo = [root]
    while todo:
        s = todo.pop()
        if s.name == "spark.stages":
            intervals.append((max(s.start, root.start), min(s.end, root.end)))
        for key in total:
            total[key] += s.attrs.get("spark", {}).get(key, 0)
        todo.extend(kids.get(s.id, []))
    active = union_length([(a, b) for a, b in intervals if b > a]) * 1000.0
    total["stage_active_ms"] = active
    total["sched_gap_ms"] = max(0.0, root.ms - active)
    return total


def find_event_log(directory: str) -> list[str]:
    """The event log files of the one application logged in ``directory``,
    in order: a single file, or the ``events_<n>_*`` parts of a rolling
    (v2) log directory."""
    entries = [os.path.join(directory, f) for f in os.listdir(directory)]
    if len(entries) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {len(entries)}")
    if not os.path.isdir(entries[0]):
        return entries
    parts = [f for f in os.listdir(entries[0]) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(entries[0], f) for f in parts]
