"""Spans around the benchmark's calls into the program, and the Spark
task metrics attributed to them.

A span records its name, start, end, parent span and op id, plus the
counts noted while it was open. Spark jobs launched inside a span carry
its id as the ``perfbench.span`` local property, which the event log
stores with each job, so task metrics land on the innermost span that
launched them. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

SPAN_PROPERTY = "perfbench.span"


class Span:
    __slots__ = ("id", "name", "op", "parent", "start", "end", "counts")

    def __init__(self, sid: int, name: str, op, parent, start: float):
        self.id, self.name, self.op, self.parent = sid, name, op, parent
        self.start, self.end = start, start
        self.counts: dict[str, float] = {}

    @property
    def duration(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "op": self.op,
                "parent": self.parent, "start": self.start, "end": self.end,
                "counts": self.counts}


class Tracer:
    """Records spans; ``sc`` (a SparkContext) tags jobs with the span."""

    enabled = True

    def __init__(self, sc=None):
        self._sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op = None

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, self.op, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        if self._sc is not None:
            self._sc.setLocalProperty(SPAN_PROPERTY, str(s.id))
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                self._sc.setLocalProperty(
                    SPAN_PROPERTY,
                    str(self._stack[-1].id) if self._stack else None)

    def count(self, name: str, value: float = 1) -> None:
        """Add ``value`` to a count on the innermost open span."""
        if self._stack:
            c = self._stack[-1].counts
            c[name] = c.get(name, 0) + value


class NullTracer:
    """Tracing off: spans cost one ``nullcontext`` and record nothing."""

    enabled = False
    spans: list = []
    op = None

    def span(self, name: str):
        return nullcontext()

    def count(self, name: str, value: float = 1) -> None:
        pass


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover
    (children's intervals are merged, then clipped to the parent)."""
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted(children.get(s.id, ())):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.duration - covered
    return out


def write_spans(path: str, spans: list[Span]) -> None:
    selfs = self_times(spans)
    with open(path, "w") as f:
        json.dump([{**s.as_dict(), "self": selfs[s.id]} for s in spans], f)


# ----------------------------------------------------------------------
# Spark event log
# ----------------------------------------------------------------------

MB = 1024 * 1024


def read_event_log(log_dir: str) -> dict[str | None, dict[str, float]]:
    """Span id (as tagged, or None) -> summed task metrics plus
    ``jobs`` and ``stages`` counts, from the one log in ``log_dir``."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    stage_span: dict[int, str | None] = {}
    per_span: dict[str | None, dict[str, float]] = defaultdict(
        lambda: defaultdict(float))
    with open(os.path.join(log_dir, files[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                span = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                per_span[span]["jobs"] += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_span.setdefault(sid, span)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                per_span[stage_span.get(sid)]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                m = per_span[stage_span.get(ev["Stage ID"])]
                m["tasks"] += 1
                if ev.get("Task Info", {}).get("Failed"):
                    m["tasks_failed"] += 1
                tm = ev.get("Task Metrics") or {}
                m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                sw = tm.get("Shuffle Write Metrics") or {}
                m["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                sr = tm.get("Shuffle Read Metrics") or {}
                m["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                         + sr.get("Local Bytes Read", 0)) / MB
                m["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
                m["input_mb"] += (tm.get("Input Metrics") or {}).get(
                    "Bytes Read", 0) / MB
                m["records_written"] += (tm.get("Output Metrics") or {}).get(
                    "Records Written", 0)
    return {k: dict(v) for k, v in per_span.items()}
