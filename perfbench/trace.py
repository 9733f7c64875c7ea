"""Spans recorded around the engine's layer boundaries, and Spark
execution metrics read back from the event log.

The benchmark never edits the package: a traced run replaces a layer's
public function with a timing wrapper under the attribute name its
caller resolves (``gas_data_pipeline_spark.engine.bronze_append`` is the
name ``GasDataEngine.ingest_batch`` looks up), and restores the original
when the run ends. Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import json
import os
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    trace_id: str
    parent: int | None
    start: float
    end: float | None = None

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    """In-memory span recorder.

    One trace id is open at a time (cycles, requests and queries run one
    after another). A span opened on a thread with no open span of its
    own - a pool thread running one of the concurrent ingest sinks -
    takes as parent the innermost open span of the thread that opened
    the trace, which is blocked waiting for it."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._trace_id: str | None = None
        self._owner: list[int] | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def trace(self, trace_id: str, name: str):
        """Open a trace whose root span is ``name``."""
        self._trace_id = trace_id
        self._owner = self._stack()
        try:
            with self.span(name) as root:
                yield root
        finally:
            self._trace_id, self._owner = None, None

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent_stack = stack if stack else (self._owner or [])
        parent = parent_stack[-1] if parent_stack else None
        s = Span(next(self._ids), name, self._trace_id or "", parent, time.time())
        with self._lock:
            self.spans.append(s)
        stack.append(s.span_id)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def patched(self, targets: dict[str, str]):
        """Wrap ``module.attr`` (or ``module.Class.attr``) for each
        ``{dotted_target: span_name}`` and restore every original on
        exit."""
        saved = []
        try:
            for target, span_name in targets.items():
                owner, attr = _resolve_owner(target)
                orig = owner.__dict__[attr]
                saved.append((owner, attr, orig))
                setattr(owner, attr, self.wrap(span_name, orig))
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def by_trace(self) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.trace_id, []).append(s)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _resolve_owner(target: str):
    """``a.b.c.attr`` -> (object holding ``attr``, ``attr``): the longest
    importable module prefix, then attribute hops (for classes)."""
    parts = target.split(".")
    for i in range(len(parts) - 1, 0, -1):
        try:
            obj = importlib.import_module(".".join(parts[:i]))
        except ImportError:
            continue
        for p in parts[i:-1]:
            obj = getattr(obj, p)
        return obj, parts[-1]
    raise ImportError(f"cannot resolve {target}")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
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


def self_time(span: Span, spans: list[Span]) -> float:
    """A span's duration minus the union of its children's intervals
    (clipped to the span): concurrent children are not double-counted."""
    kids = [
        (max(c.start, span.start), min(c.end or c.start, span.end or span.start))
        for c in spans
        if c.parent == span.span_id
    ]
    return span.duration - union_length([k for k in kids if k[1] > k[0]])


# ----------------------------------------------------------------------
# Spark event log
# ----------------------------------------------------------------------

EXEC_METRICS = (
    "jobs",
    "tasks",
    "task_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_s",
    "job_wall_s",
)


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every application log under ``log_dir``."""
    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                line = line.strip()
                if line:
                    try:
                        events.append(json.loads(line))
                    except ValueError:
                        pass  # a partially flushed last line
    return events


def attribute_execution(
    events: list[dict], windows: dict[str, tuple[float, float]]
) -> dict[str, dict[str, float]]:
    """Spark execution totals per window ``{trace_id: (start, end)}``
    (epoch seconds). A job belongs to the window containing its
    submission time and a task to its job's window; windows run one
    after another, so each job lands in at most one. ``job_wall_s`` is
    the part of the window during which at least one of its jobs ran
    (the union of their intervals, clipped to the window)."""
    out = {k: dict.fromkeys(EXEC_METRICS, 0.0) for k in windows}
    ordered = sorted(windows.items(), key=lambda kv: kv[1][0])
    stage_owner: dict[int, str] = {}
    job_owner: dict[int, tuple[str, float]] = {}
    job_spans: dict[str, list[tuple[float, float]]] = {k: [] for k in windows}

    def owner(ts: float) -> str | None:
        for key, (s, e) in ordered:
            if s <= ts <= e:
                return key
        return None

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            submitted = ev.get("Submission Time", 0) / 1000.0
            key = owner(submitted)
            if key is None:
                continue
            out[key]["jobs"] += 1
            job_owner[ev.get("Job ID")] = (key, submitted)
            for sid in ev.get("Stage IDs", []):
                stage_owner[sid] = key
        elif kind == "SparkListenerJobEnd":
            if ev.get("Job ID") in job_owner:
                key, submitted = job_owner.pop(ev.get("Job ID"))
                job_spans[key].append((submitted, ev.get("Completion Time", 0) / 1000.0))
        elif kind == "SparkListenerTaskEnd":
            key = stage_owner.get(ev.get("Stage ID"))
            if key is None:
                continue
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            o = out[key]
            o["tasks"] += 1
            o["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            o["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            o["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            o["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    for key, (s, e) in windows.items():
        clipped = [(max(a, s), min(b, e)) for a, b in job_spans[key]]
        out[key]["job_wall_s"] = union_length([c for c in clipped if c[1] > c[0]])
    return out
