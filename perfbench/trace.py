"""Outside-in tracing: wrap the engine's public functions and methods,
record spans in memory, and read Spark's event log after the run.

Nothing under ``healthcare_etl_pipeline_spark/`` is edited: ``Tracer.wrap``
replaces an attribute on a module or class with a timing wrapper and
``Tracer.restore`` puts the original back. A function that another module
imported by name (``from x import f``) is wrapped where it is looked up —
the caller's module — which is why targets are listed per call site.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    request: str | None
    name: str
    start: float
    end: float = 0.0
    result: object = None  # kept only for the few wrappers that ask


class Tracer:
    """In-memory span store. Spans of one request share ``request``; a
    span's parent is the innermost span open on the same thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- recording ----------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, request: str | None = None) -> Span | None:
        if not self.enabled:
            return None
        st = self._stack()
        parent = st[-1] if st else None
        span = Span(
            next(self._ids),
            parent.id if parent else None,
            request or (parent.request if parent else None),
            name,
            time.perf_counter(),
        )
        st.append(span)
        return span

    def end(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is span:
            st.pop()
        with self._lock:
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        """``with tracer.span(...) as s:`` — ``s`` is None when disabled."""
        s = self.begin(name, request)
        try:
            yield s
        finally:
            self.end(s)

    # -- wrapping -----------------------------------------------------------

    def wrap(self, owner: object, attr: str, name: str, *, keep_result=False,
             request_of=None, on_enter=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.

        ``request_of(args, kwargs)`` names a new request (top-level spans);
        ``on_enter(span, args, kwargs)`` runs inside the span first (used
        to set a Spark job group per request)."""
        func = getattr(owner, attr)
        tracer = self

        @functools.wraps(func)
        def wrapper(*args, **kwargs):
            span = tracer.begin(
                name, request_of(args, kwargs) if request_of else None
            )
            try:
                if span is not None and on_enter is not None:
                    on_enter(span, args, kwargs)
                out = func(*args, **kwargs)
                if span is not None and keep_result:
                    span.result = out
                return out
            finally:
                tracer.end(span)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, func))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- reporting ----------------------------------------------------------

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per span name: count, total and self seconds. Self time is the
        span's duration minus the union of its children's intervals."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            agg = out.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += s.end - s.start
            agg["self_s"] += (s.end - s.start) - covered
        return out

    def total(self, name: str, requests: set[str] | None = None) -> float:
        return sum(
            s.end - s.start
            for s in self.spans
            if s.name == name and (requests is None or s.request in requests)
        )

    def of(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(
                {
                    "spans": [
                        {
                            "id": s.id,
                            "parent": s.parent,
                            "request": s.request,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                        }
                        for s in self.spans
                    ],
                    "self_times": self.self_times(),
                },
                fh,
            )


def set_job_group(spark, group: str) -> None:
    """Tag the Spark jobs this thread submits next with ``group``."""
    spark.sparkContext.setJobGroup(group, group)


# -- Spark event log ----------------------------------------------------------

EVENT_LOG_METRICS = (
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.scheduler_delay_s",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.input_bytes",
)


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    records_read: int = 0


def read_event_log(events_dir: str, groups: set[str]):
    """Totals over the tasks of jobs whose job group is in ``groups``.

    Returns (totals by EVENT_LOG_METRICS name, GroupStats by group). Read
    after the window's jobs have ended: Spark flushes the log at every job
    end, so their task events are all in it."""
    stage_group: dict[int, str] = {}
    per_group = {g: GroupStats() for g in groups}
    totals = dict.fromkeys(EVENT_LOG_METRICS, 0.0)
    # Spark 4 writes rolling logs: <dir>/eventlog_v2_<app>/events_<n>_<app>
    paths = sorted(glob.glob(os.path.join(events_dir, "*", "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g in per_group:
                        per_group[g].jobs += 1
                        per_group[g].stages += len(ev.get("Stage IDs", ()))
                        for sid in ev.get("Stage IDs", ()):
                            stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    if g is None:
                        continue
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    per_group[g].tasks += 1
                    per_group[g].records_read += (
                        m.get("Input Metrics", {}).get("Records Read", 0)
                    )
                    run_ms = m.get("Executor Run Time", 0)
                    totals["spark.executor_run_s"] += run_ms / 1e3
                    totals["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    totals["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    finish = info.get("Finish Time", 0)
                    fetch_start = info.get("Getting Result Time", 0)
                    totals["spark.scheduler_delay_s"] += max(
                        0,
                        finish
                        - info.get("Launch Time", 0)
                        - run_ms
                        - m.get("Executor Deserialize Time", 0)
                        - m.get("Result Serialization Time", 0)
                        - (finish - fetch_start if fetch_start else 0),
                    ) / 1e3
                    totals["spark.shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    totals["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    totals["spark.input_bytes"] += (
                        m.get("Input Metrics", {}).get("Bytes Read", 0)
                    )
    return totals, per_group


def dir_files(root: str) -> dict[str, int]:
    """Every parquet data file under ``root`` with its size."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
    return out
