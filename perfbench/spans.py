"""Spans recorded from outside the engine, and Spark jobs attributed to them.

A span is opened around a call into one of the engine's modules. While it
is open, the calling thread's Spark job description and the local property
``perfbench.span`` name it, so every job the call submits carries the span
id into the event log. Spans live in memory and are written out as JSON
lines when the run ends.

The event-log parsing follows ``tools/profile_query.py``: plain JSON
lines, ``SparkListenerJobStart``/``JobEnd`` for job intervals, plus
``SparkListenerTaskEnd`` for executor CPU time and shuffle/output bytes.
Spark 4 records ``call at py4j/clientserver.py`` as the call site of every
job submitted from Python, so the call site cannot attribute jobs to
package modules; the span property set by the wrappers does.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    batch: int | None
    start: float
    end: float | None = None
    phase: str = "timed"
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Per-thread span stacks; spans of one batch share its batch id.
    ``phase`` tags every span opened while it is set: the timed phase, or
    one of the traced run's side measurements."""

    def __init__(self, spark, trace_id: str, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.trace_id = trace_id
        self.enabled = enabled
        self.phase = "timed"
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _label(self, span: Span | None) -> tuple[str | None, str | None]:
        if span is None:
            return None, None
        return f"{self.trace_id}|{span.phase}|batch={span.batch}|{span.layer}.{span.name}", str(span.id)

    def call(self, layer: str, name: str, fn, *args, batch: int | None = None, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        stack = self._stack()
        parent = stack[-1] if stack else None
        if batch is None and parent is not None:
            batch = parent.batch
        span = Span(next(self._ids), parent.id if parent else None, name, layer, batch, time.time(), phase=self.phase)
        self.spans.append(span)
        stack.append(span)
        desc, sid = self._label(span)
        self.sc.setJobDescription(desc)
        self.sc.setLocalProperty(SPAN_PROP, sid)
        try:
            return fn(*args, **kwargs)
        finally:
            span.end = time.time()
            stack.pop()
            desc, sid = self._label(parent)
            self.sc.setJobDescription(desc)
            self.sc.setLocalProperty(SPAN_PROP, sid)

    def wrap(self, obj, attr: str, layer: str, batch_arg: int | None = None) -> None:
        """Replace ``obj.attr`` (a bound method) by a span-recording proxy."""
        fn = getattr(obj, attr)

        @functools.wraps(fn)
        def proxy(*args, **kwargs):
            batch = args[batch_arg] if batch_arg is not None and len(args) > batch_arg else None
            return self.call(layer, attr, fn, *args, batch=batch, **kwargs)

        setattr(obj, attr, proxy)

    def add_closed(self, layer: str, name: str, batch: int | None, start: float, end: float, **attrs) -> None:
        """Record a span measured elsewhere (e.g. from streaming progress)."""
        self.spans.append(Span(next(self._ids), None, name, layer, batch, start, end, self.phase, attrs))

    def find(self, layer: str, name: str, phase: str = "timed") -> list[Span]:
        return [s for s in self.spans if s.layer == layer and s.name == name and s.phase == phase and s.end]

    def durations_ms(self, layer: str, name: str, phase: str = "timed") -> list[float]:
        return [(s.end - s.start) * 1000 for s in self.find(layer, name, phase)]


def parse_event_log(path: str) -> dict[int, dict]:
    """Job id -> {span, start, end (epoch s), cpu_ms, shuffle_bytes,
    output_bytes, output_records}."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "span": int(props[SPAN_PROP]) if props.get(SPAN_PROP) else None,
                    "start": ev["Submission Time"] / 1000,
                    "end": None,
                    "cpu_ms": 0.0,
                    "shuffle_bytes": 0,
                    "output_bytes": 0,
                    "output_records": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                m = ev.get("Task Metrics") or {}
                if job is None or not m:
                    continue
                job["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                job["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                job["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                job["output_records"] += (m.get("Output Metrics") or {}).get("Records Written", 0)
    return jobs


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def attribute(spans: list[Span], jobs: dict[int, dict]) -> None:
    """Fold each job into its own span (``attrs.self_*``) and into every
    ancestor (``attrs.jobs``, ``cpu_ms``, bytes and ``driver_gap_ms``: the
    span's time that no job of its subtree covers)."""
    by_id = {s.id: s for s in spans}
    subtree: dict[int, list[dict]] = {s.id: [] for s in spans}
    for job in jobs.values():
        sid = job["span"]
        if sid in by_id:
            by_id[sid].attrs["self_jobs"] = by_id[sid].attrs.get("self_jobs", 0) + 1
        while sid in by_id:
            subtree[sid].append(job)
            sid = by_id[sid].parent
    for s in spans:
        mine = [j for j in subtree[s.id] if j["end"] is not None]
        s.attrs.update(
            jobs=len(mine),
            cpu_ms=round(sum(j["cpu_ms"] for j in mine), 3),
            shuffle_bytes=sum(j["shuffle_bytes"] for j in mine),
            output_bytes=sum(j["output_bytes"] for j in mine),
            output_records=sum(j["output_records"] for j in mine),
        )
        if s.end is not None:
            covered = _covered([(j["start"], j["end"]) for j in mine], s.start, s.end)
            s.attrs["driver_gap_ms"] = round((s.end - s.start - covered) * 1000, 3)


def write_spans(path: str, trace_id: str, spans: list[Span]) -> None:
    with open(path, "w") as fh:
        for s in spans:
            rec = {"trace": trace_id, "span": s.id, "parent": s.parent, "phase": s.phase, "layer": s.layer,
                   "name": s.name, "batch": s.batch, "start": s.start, "end": s.end, **s.attrs}
            fh.write(json.dumps(rec) + "\n")
