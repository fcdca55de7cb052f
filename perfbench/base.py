"""What every workload shares: the operation record, the sample and
counter sinks, and file-size helpers for the space metrics."""

from __future__ import annotations

import os
import time
from collections import defaultdict
from dataclasses import dataclass
from typing import Any, Callable


@dataclass
class Op:
    """One closed-loop operation. ``fn`` is the timed call; ``check``
    runs untimed on its result and returns the problems it found;
    ``rows`` is the user rows the operation consumes."""

    kind: str
    fn: Callable[[], Any]
    rows: int = 0
    check: Callable[[Any], list[str]] | None = None


class Workload:
    """Base class. A subclass builds its lake in ``setup``,
    runs the operations whose first run is slow in ``warm``, yields
    ``Op`` records from ``operations`` and verifies the final lake in
    ``final_check``."""

    # operations per scheduling cycle; a run ends on a cycle boundary so
    # every run sees the same mix of operation kinds
    cycle = 1
    # kinds that run in traced runs only; the end-to-end figures leave
    # them out, so traced and untraced figures compare
    traced_only: set[str] = set()

    def __init__(self, spark, tracer, seed: int) -> None:
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.measuring = False
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.op_seconds: dict[str, list[float]] = {}
        self.op_rows: dict[str, int] = {}
        self.counts: dict[str, float] = defaultdict(float)
        self.warm_seconds: dict[str, list[float]] = {}

    def span(self, name: str):
        return self.tracer.span(name)

    def sample(self, name: str, seconds: float) -> None:
        """A named latency inside an operation (commit, read after
        commit, ...); kept only for measured operations."""
        if self.measuring:
            self.samples[name].append(seconds)

    def count(self, name: str, n: float = 1) -> None:
        if self.measuring:
            self.counts[name] += n

    def run_untimed(self, op: Op) -> None:
        """Set-up and warm-up path: run and check, failing loudly."""
        t = time.perf_counter()
        res = op.fn()
        self.warm_seconds.setdefault(op.kind, []).append(time.perf_counter() - t)
        errs = op.check(res) if op.check else []
        if errs:
            raise RuntimeError(f"{op.kind} failed its check: {errs}")

    # subclass interface -------------------------------------------------
    def setup(self, root: str) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        """Untimed first runs of the operations that need one."""

    def operations(self):
        raise NotImplementedError

    def final_check(self) -> list[str]:
        raise NotImplementedError

    def corrupt(self) -> None:
        raise NotImplementedError

    def lake_bytes_per_user_byte(self) -> float:
        raise NotImplementedError

    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        raise NotImplementedError


def tree_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``path``, counting names ending in
    ``suffix`` and skipping hidden and Spark-marker files."""
    files = size = 0
    for d, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")) or not n.endswith(suffix):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size
