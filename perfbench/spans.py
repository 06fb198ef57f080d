"""Spans and Spark counters recorded around the benchmark's calls into
``profiler`` layers.

A span is (id, name, layer, start, end, parent, run id, thread). Spans are
kept in memory and written out once, when the run ends. Nothing here
touches code under ``profiler/``: the harness wraps its own calls, a
checkpoint-store subclass and a suite subclass.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

from profiler.checkpoint import ParquetCheckpointStore
from profiler.constraints import ConstraintSuite, ValidationResult


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def start(self, name: str, layer: str, parent: int | None = None) -> dict | None:
        """Open a span. ``parent`` defaults to the innermost open span of
        the calling thread; pass it to attach work done on another thread."""
        if not self.enabled:
            return None
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            span = {
                "id": next(self._ids),
                "name": name,
                "layer": layer,
                "parent": parent,
                "run_id": self.run_id,
                "thread": threading.current_thread().name,
                "start": time.perf_counter(),
                "end": None,
            }
            self.spans.append(span)
        stack.append(span["id"])
        return span

    def end(self, span: dict | None) -> None:
        if span is None:
            return
        span["end"] = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == span["id"]:
            stack.pop()

    @contextmanager
    def span(self, name: str, layer: str, parent: int | None = None):
        s = self.start(name, layer, parent)
        try:
            yield s
        finally:
            self.end(s)

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def self_seconds(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus the part of its
        interval that its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, reach = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


class SparkCounter:
    """Jobs, stages and tasks that Spark ran between ``mark`` and ``since``.

    Job ids are diffed from the status tracker around sequential calls (a
    job group set by the caller would miss the jobs that ``profile_table``
    submits from its own thread pool)."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()

    def _drain(self) -> None:
        # job/stage end events reach the status store through the listener
        # bus; wait for it so task counts are final
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 - private API; fall back to polling
            time.sleep(0.2)

    def mark(self) -> set[int]:
        self._drain()
        return set(self.tracker.getJobIdsForGroup(None))

    def since(self, before: set[int]) -> dict[str, int]:
        self._drain()
        jobs = set(self.tracker.getJobIdsForGroup(None)) - before
        stages, tasks = 0, 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


class TracedStore(ParquetCheckpointStore):
    """Parquet checkpoint store whose calls record ``checkpoint`` spans and
    count record writes."""

    def __init__(self, path: str, tracer: Tracer):
        super().__init__(path)
        self.tracer = tracer
        self.writes = 0

    def completed(self, *args, **kwargs):
        with self.tracer.span("checkpoint.completed", "checkpoint"):
            return super().completed(*args, **kwargs)

    def latest_digests(self, *args, **kwargs):
        with self.tracer.span("checkpoint.latest_digests", "checkpoint"):
            return super().latest_digests(*args, **kwargs)

    def commit(self, *args, **kwargs):
        with self.tracer.span("checkpoint.commit", "checkpoint"):
            return super().commit(*args, **kwargs)

    def carry_forward(self, *args, **kwargs):
        with self.tracer.span("checkpoint.carry_forward", "checkpoint"):
            return super().carry_forward(*args, **kwargs)

    def _write(self, rec: dict) -> None:
        self.writes += 1
        super()._write(rec)


@dataclass
class _TracedResult(ValidationResult):
    span: Any = None
    tracer: Any = None

    def unpersist(self) -> None:
        super().unpersist()
        self.tracer.end(self.span)


@dataclass
class TracedSuite(ConstraintSuite):
    """Suite whose ``validate`` opens a ``run.validate`` span that closes
    when the caller unpersists the result. ``validate`` only plans; the
    violations write and the summary collect that ``run_validation`` does
    next are what execute the suite, so they belong inside the span."""

    tracer: Any = field(default=None, repr=False)

    def validate(self, df):
        span = self.tracer.start("run.validate", "run")
        res = super().validate(df)
        return _TracedResult(
            res.violations, res.summary, res.partition_rows, res._base, span, self.tracer
        )
