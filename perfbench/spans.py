"""Spans recorded from outside the program, and Spark's event log.

The benchmark measures each layer at its public boundary: in traced
mode :func:`instrument` replaces the layer functions named in
``LAYER_FUNCTIONS`` with wrappers that record a span per call (the
program's own calls between modules resolve module attributes at call
time, so nested calls — a DML verb's inner ``commit`` — become child
spans). Spark jobs, stages and task counters come from the uncompressed
event log, parsed offline after the session stops, and are mapped to
the innermost span whose time window holds the job's submission.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass, field

# (module, function) pairs wrapped in traced mode. ``pipeline`` imports
# the io functions by name, so they are wrapped in both namespaces.
LAYER_FUNCTIONS = [
    ("parquet_combiner_spark.sources.io", "read_data_a"),
    ("parquet_combiner_spark.sources.io", "read_data_b"),
    ("parquet_combiner_spark.sources.io", "write_parquet"),
    ("parquet_combiner_spark.pipeline", "read_data_a"),
    ("parquet_combiner_spark.pipeline", "read_data_b"),
    ("parquet_combiner_spark.pipeline", "write_parquet"),
    ("parquet_combiner_spark.pipeline", "top_items"),
    ("parquet_combiner_spark.pipeline", "all_aggregations"),
    ("parquet_combiner_spark.tools.txlog", "commit"),
    ("parquet_combiner_spark.tools.txlog", "delete_where_expr"),
    ("parquet_combiner_spark.tools.txlog", "update_where_expr"),
    ("parquet_combiner_spark.tools.txlog", "merge_into"),
    ("parquet_combiner_spark.tools.txlog", "compact_small_files"),
    ("parquet_combiner_spark.tools.txlog", "read_table_where"),
    ("parquet_combiner_spark.tools.txlog", "read_table"),
    ("parquet_combiner_spark.tools.txlog", "table_changes_cdf"),
    ("parquet_combiner_spark.streaming.txlog_sink", "stream_to_txlog_available_now"),
]

# Span names drop the package prefix: "sources.io.write_parquet".
_PREFIX = "parquet_combiner_spark."


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    t0: float  # epoch seconds, the clock Spark's event log uses
    t1: float = 0.0
    error: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """In-memory span recorder. Spans nest per thread; a span opened on
    a thread with no open span (a streaming micro-batch thread) is
    parented to the innermost span open on the main thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, **attrs):
        return _SpanContext(self, name, attrs)

    def _open(self, name: str, attrs: dict) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        s = Span(next(self._ids), parent.id if parent else None, name,
                 time.time(), attrs=dict(attrs))
        stack.append(s)
        with self._lock:
            self.spans.append(s)
        return s

    def _close(self, s: Span, exc: BaseException | None) -> None:
        s.t1 = time.time()
        if exc is not None:
            s.error = type(exc).__name__
        stack = self._stack()
        if stack and stack[-1] is s:
            stack.pop()

    def instrument(self) -> None:
        """Wrap every function in ``LAYER_FUNCTIONS`` (traced mode)."""
        for mod_name, fn_name in LAYER_FUNCTIONS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, fn_name)
            span_name = orig.__module__.removeprefix(_PREFIX) + "." + fn_name
            setattr(mod, fn_name, self._wrap(orig, span_name))
            self._patched.append((mod, fn_name, orig))

    def restore(self) -> None:
        for mod, fn_name, orig in reversed(self._patched):
            setattr(mod, fn_name, orig)
        self._patched.clear()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.span: Span | None = None

    def __enter__(self) -> Span:
        self.span = self.tracer._open(self.name, self.attrs)
        return self.span

    def __exit__(self, exc_type, exc, tb) -> None:
        self.tracer._close(self.span, exc)


# ---------------------------------------------------------------------------
# interval arithmetic


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping ``(start, end)``."""
    total, end = 0.0, None
    start = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            if end is not None:
                total += end - start
            start, end = a, b
        else:
            end = max(end, b)
    if end is not None:
        total += end - start
    return total


def _clip(intervals, lo: float, hi: float):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> wall time minus the part its child spans cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {
        s.id: s.wall - union_length(
            _clip([(c.t0, c.t1) for c in kids.get(s.id, [])], s.t0, s.t1)
        )
        for s in spans
    }


# ---------------------------------------------------------------------------
# event log

COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_rows", "output_bytes",
)


@dataclass
class Job:
    id: int
    t0: float
    t1: float
    stages: list[int]


def parse_event_log(path: str) -> tuple[list[Job], dict[int, dict]]:
    """Jobs (epoch-second windows) and per-stage summed task counters
    from one uncompressed Spark event log file."""
    jobs: dict[int, Job] = {}
    stages: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], ev["Submission Time"] / 1000.0,
                    ev["Submission Time"] / 1000.0, list(ev["Stage IDs"]),
                )
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].t1 = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                stages.setdefault(ev["Stage Info"]["Stage ID"], _zero())[
                    "stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                c = stages.setdefault(ev["Stage ID"], _zero())
                c["tasks"] += 1
                c["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                sr = m.get("Shuffle Read Metrics") or {}
                c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                c["input_rows"] += (m.get("Input Metrics") or {}).get(
                    "Records Read", 0)
                c["output_bytes"] += (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j.t0), stages


def _zero() -> dict:
    return {k: 0 for k in COUNTERS if k != "jobs"}


def attribute_jobs(spans: list[Span], jobs: list[Job]) -> dict[int, list[Job]]:
    """Span id -> jobs submitted inside it and inside none of its
    descendants (the innermost span containing the submission)."""
    depth: dict[int, int] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        d, p = 0, s.parent
        while p is not None:
            d, p = d + 1, by_id[p].parent
        depth[s.id] = d
    out: dict[int, list[Job]] = {}
    for j in jobs:
        holders = [s for s in spans if s.t0 <= j.t0 <= s.t1]
        if holders:
            best = max(holders, key=lambda s: (depth[s.id], s.t0))
            out.setdefault(best.id, []).append(j)
    return out


def span_counters(
    spans: list[Span], jobs: list[Job], stages: dict[int, dict]
) -> dict[int, dict]:
    """Span id -> counters over the span and its descendants, plus
    ``driver_gap_s``: span wall minus the union of its jobs' intervals."""
    own = attribute_jobs(spans, jobs)
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)

    def all_jobs(sid: int) -> list[Job]:
        out = list(own.get(sid, []))
        for k in kids.get(sid, []):
            out.extend(all_jobs(k))
        return out

    result = {}
    for s in spans:
        js = all_jobs(s.id)
        c = {k: 0 for k in COUNTERS}
        c["jobs"] = len(js)
        seen: set[int] = set()
        for j in js:
            for st in j.stages:
                if st in seen or st not in stages:
                    continue
                seen.add(st)
                for k, v in stages[st].items():
                    c[k] += v
        c["driver_gap_s"] = s.wall - union_length(
            _clip([(j.t0, j.t1) for j in js], s.t0, s.t1)
        )
        result[s.id] = c
    return result


def find_event_log(directory: str) -> str | None:
    if not os.path.isdir(directory):
        return None
    files = [os.path.join(directory, f) for f in os.listdir(directory)
             if not f.endswith(".inprogress")]
    return max(files, key=os.path.getmtime) if files else None
