"""Span recorder and Spark event-log reader for the traced run.

Spans are recorded by the benchmark around its own calls into the
engine's modules; nothing inside the package is instrumented. A span
holds its name, start, end, parent span and the id of the measured
operation it ran under (``None`` during set-up and warm-up). Spans stay
in memory and are written out as JSON lines when the run ends.

With tracing off, ``span`` returns a shared no-op context manager, so
the untraced run pays one attribute lookup per call site.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """In-memory span recorder.

    ``op`` is the id of the measured operation in progress; the harness
    sets it around each timed call so spans and Spark jobs can be
    attributed to operations."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    op: int | None = None
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        s = Span(len(self.spans), name,
                 self._stack[-1] if self._stack else None, self.op,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Self seconds per span name over measured operations: each
        span's duration minus the time its direct children cover (one
        client thread, so children never overlap)."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.op is not None:
                out[s.name] += (s.end - s.start) - child[s.sid]
        return dict(out)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def _pct(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else 0.0


def read_event_log(log_dir: str, ops: set[int]) -> dict[str, float]:
    """Sum job, task, shuffle, spill and GC figures over the Spark jobs
    whose ``perfbench.op`` local property names a measured operation.

    Reads the uncompressed JSON-lines event log files Spark writes under
    ``log_dir`` (``spark.eventLog.enabled``; rolling logs are a
    directory of parts); call after the session stopped so the log is
    complete."""
    stage_op: dict[int, int] = {}
    jobs = 0
    tasks: list[dict] = []
    for path in glob.glob(os.path.join(log_dir, "**"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    op = (ev.get("Properties") or {}).get("perfbench.op")
                    if op is not None and int(op) in ops:
                        jobs += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_op[sid] = int(op)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    run_ms, gc_ms, sw, sr, spill = [], 0.0, 0.0, 0.0, 0.0
    for ev in tasks:
        if ev.get("Stage ID") not in stage_op:
            continue
        m = ev.get("Task Metrics") or {}
        run_ms.append(float(m.get("Executor Run Time", 0)))
        gc_ms += float(m.get("JVM GC Time", 0))
        sw += float((m.get("Shuffle Write Metrics") or {})
                    .get("Shuffle Bytes Written", 0))
        rd = m.get("Shuffle Read Metrics") or {}
        sr += float(rd.get("Remote Bytes Read", 0)
                    + rd.get("Local Bytes Read", 0))
        spill += float(m.get("Memory Bytes Spilled", 0)
                       + m.get("Disk Bytes Spilled", 0))
    n_ops = max(1, len(ops))
    return {
        "spark.jobs_per_op": jobs / n_ops,
        "spark.tasks_per_op": len(run_ms) / n_ops,
        "spark.shuffle_write_bytes": sw / n_ops,
        "spark.shuffle_read_bytes": sr / n_ops,
        "spark.spill_bytes": spill / n_ops,
        "spark.task_ms_p50": _pct(run_ms, 0.5),
        "spark.task_ms_max": max(run_ms, default=0.0),
        "spark.gc_s": gc_ms / 1000.0 / n_ops,
        "_task_run_s": sum(run_ms) / 1000.0,
    }
