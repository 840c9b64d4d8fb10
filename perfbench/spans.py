"""Spans and counters for the traced run.

Spans stay in memory (a list on the Tracer) and are written as JSON
lines when the run ends. A span has a name, start and end (epoch
seconds), its parent span and a trace id that groups the spans of one
unit of work: a chunk for the streaming workloads, a probe otherwise.

A layer's self time is its span's duration minus the part of that
interval its child spans cover (overlapping children are merged first,
and children are clipped to the parent).
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None = None
    trace: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → self time (seconds)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - covered(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    """Span name → summed self time (seconds) over all spans of that name."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.id]
    return out


class Tracer:
    """In-memory span recorder."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            trace: str = "", **attrs) -> int:
        sid = next(self._ids)
        self.spans.append(Span(sid, name, start, end, parent, trace, attrs))
        return sid

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, trace: str = "", **attrs):
        """Time the body; yields the new span's id (recorded on exit)."""
        sid = next(self._ids)
        start = time.time()
        try:
            yield sid
        finally:
            self.spans.append(Span(sid, name, start, time.time(), parent, trace, attrs))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: (s.start, s.id)):
                f.write(json.dumps(asdict(s)) + "\n")


# Phases of one micro-batch in the order MicroBatchExecution runs them;
# Spark reports only their durations, so the child spans are laid out
# back to back from the trigger start.
BATCH_PHASES = (
    "latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
    "commitOffsets",
)


def batch_spans(tracer: Tracer, query: str, progress: dict, chunks: list[str]) -> int:
    """Record one progress event as a batch span with a child span per
    Spark phase. ``progress`` is the event's JSON (StreamingQueryProgress
    .json); ``chunks`` are the input files the batch read, so the trace
    id is the first chunk (every span of one chunk shares it)."""
    dur = progress.get("durationMs", {})
    start = _ts(progress["timestamp"])
    trigger = dur.get("triggerExecution", 0) / 1000.0
    ops = progress.get("stateOperators", [])
    attrs = {
        "query": query,
        "batch": progress["batchId"],
        "input_rows": progress.get("numInputRows", 0),
        "chunks": chunks,
        "state_rows_total": sum(o.get("numRowsTotal", 0) for o in ops),
        "state_rows_updated": sum(o.get("numRowsUpdated", 0) for o in ops),
        "state_dropped_late": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
        "sink_rows": (progress.get("sink") or {}).get("numOutputRows", -1),
    }
    trace = chunks[0] if chunks else f"{query}:{progress['batchId']}"
    sid = tracer.add("app.batch", start, start + trigger, trace=trace, **attrs)
    t = start
    for phase in BATCH_PHASES:
        d = dur.get(phase, 0) / 1000.0
        if d > 0:
            tracer.add(f"spark.{phase}", t, t + d, parent=sid, trace=trace, query=query)
            t += d
    return sid


def _ts(iso: str) -> float:
    """Spark progress timestamps look like 2026-01-01T00:00:00.123Z."""
    from datetime import datetime, timezone

    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc
    ).timestamp()


def job_ids(sc, groups: list[str | None]) -> set[int]:
    """Every job id the status tracker still holds for ``groups``
    (None = jobs run without a job group)."""
    st = sc.statusTracker()
    out: set[int] = set()
    for g in groups:
        out.update(st.getJobIdsForGroup(g))
    return out


def job_task_counts(sc, ids: set[int]) -> tuple[int, int]:
    """(jobs, tasks run) over ``ids``. A stage shared by several jobs is
    counted once; a skipped stage adds no completed tasks."""
    st = sc.statusTracker()
    stages: set[int] = set()
    for j in ids:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numCompletedTasks
    return len(ids), tasks
