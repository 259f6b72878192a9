"""Spans recorded in memory around calls into each layer, and Spark's own
job/stage/task counters read back from the uncompressed event log.

A span is one call at a layer boundary: its name, its layer (``kind``),
its start and end (epoch seconds) and the span that caused it. Jobs are
attached to the op whose ``spark.jobGroup.id`` they carry; jobs launched
from threads that do not inherit the group (the package's thread pools)
are attached to the innermost span open at their submission time, which
is exact with a single client.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Event-log clocks are whole milliseconds, truncated: a job submitted just
# after a span opened can read up to 1 ms earlier than the span's start.
_EDGE_S = 0.0011


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    kind: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer records nothing and
    ``span`` yields None, so the timed code path is the same in both modes."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._kids: dict[int, list[Span]] = {}

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, name, kind, time.time(), attrs=attrs)
        self.spans.append(s)
        if parent is not None:
            self._kids.setdefault(parent, []).append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def children(self, span_id: int) -> list[Span]:
        return self._kids.get(span_id, [])

    def subtree(self, span_id: int) -> list[Span]:
        out, todo = [], [span_id]
        while todo:
            sid = todo.pop()
            kids = self.children(sid)
            out.extend(kids)
            todo.extend(k.id for k in kids)
        return out

    def to_json(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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


def self_time(tracer: Tracer, span: Span) -> float:
    """Wall time of ``span`` not covered by any of its child spans."""
    kids = [(k.start, k.end) for k in tracer.children(span.id)]
    return span.dur - union_length(kids, span.start, span.end)


# --- event log ----------------------------------------------------------------

@dataclass
class Job:
    id: int
    group: str | None
    start: float  # epoch seconds
    end: float
    succeeded: bool
    name: str = ""  # call site of the job's last stage
    stages: int = 0
    retried_stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    sched_delay_s: float = 0.0
    scan_bytes: int = 0
    csv_scan_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    span: int | None = None  # innermost span at submission
    op: int | None = None    # enclosing op span
    tagged: bool = True


def read_event_log(path: str) -> list[Job]:
    """Jobs with their stage and task counters, from one application's
    uncompressed, non-rolling event log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    csv_stages: set[tuple[int, int]] = set()
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                infos = e.get("Stage Infos") or [{}]
                j = Job(e["Job ID"], props.get("spark.jobGroup.id"),
                        e["Submission Time"] / 1000.0, 0.0, False,
                        name=max(infos, key=lambda i: i.get("Stage ID", -1)).get("Stage Name", ""))
                jobs[j.id] = j
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, j.id)
            elif kind == "SparkListenerJobEnd":
                j = jobs[e["Job ID"]]
                j.end = e["Completion Time"] / 1000.0
                j.succeeded = e["Job Result"]["Result"] == "JobSucceeded"
            elif kind == "SparkListenerStageSubmitted":
                si = e["Stage Info"]
                if any("csv" in (r.get("Scope") or "").lower() for r in si.get("RDD Info", [])):
                    csv_stages.add((si["Stage ID"], si["Stage Attempt ID"]))
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                j = jobs.get(stage_job.get(si["Stage ID"], -1))
                if j is not None:
                    j.stages += 1
                    j.retried_stages += si["Stage Attempt ID"] > 0
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(e["Stage ID"], -1))
                if j is None:
                    continue
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                j.tasks += 1
                j.failed_tasks += bool(info.get("Failed"))
                if not m:
                    continue
                run_ms = m["Executor Run Time"]
                j.run_s += run_ms / 1000.0
                j.cpu_s += m["Executor CPU Time"] / 1e9
                j.gc_s += m["JVM GC Time"] / 1000.0
                wall_ms = info["Finish Time"] - info["Launch Time"]
                j.sched_delay_s += max(0, wall_ms - run_ms - m["Executor Deserialize Time"]
                                       - m["Result Serialization Time"]
                                       - info.get("Getting Result Time", 0)) / 1000.0
                read = m["Input Metrics"]["Bytes Read"]
                j.scan_bytes += read
                if (e["Stage ID"], e["Stage Attempt ID"]) in csv_stages:
                    j.csv_scan_bytes += read
                sr = m["Shuffle Read Metrics"]
                j.shuffle_read_bytes += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                j.fetch_wait_s += sr["Fetch Wait Time"] / 1000.0
                j.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                j.spill_bytes += m["Disk Bytes Spilled"]
    return sorted(jobs.values(), key=lambda j: j.id)


def attribute(tracer: Tracer, jobs: list[Job]) -> list[Job]:
    """Attach each job to its op (by job group, else by time) and to the
    innermost span of that op open at its submission. Returns the jobs
    that fall inside some op; jobs outside every op are dropped."""
    ops = {s.attrs["group"]: s for s in tracer.spans if s.kind == "op"}
    by_id = {s.id: s for s in tracer.spans}
    out = []
    for j in jobs:
        op = ops.get(j.group) if j.group else None
        j.tagged = op is not None
        candidates = tracer.subtree(op.id) + [op] if op else tracer.spans
        inside = [s for s in candidates
                  if s.start - _EDGE_S <= j.start <= s.end]
        if not inside:
            continue
        # innermost = latest-starting open span (spans nest strictly)
        inner = max(inside, key=lambda s: (s.start, s.id))
        j.span = inner.id
        anc = inner
        while anc is not None and anc.kind != "op":
            anc = by_id.get(anc.parent) if anc.parent is not None else None
        if anc is None:
            continue
        j.op = anc.id
        out.append(j)
    return out


def within(tracer: Tracer, jobs: list[Job], span_ids: set[int]) -> list[Job]:
    """Jobs whose innermost span is one of ``span_ids`` or below one."""
    below: set[int] = set(span_ids)
    for sid in span_ids:
        below.update(s.id for s in tracer.subtree(sid))
    return [j for j in jobs if j.span in below]
