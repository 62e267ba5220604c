"""Spans recorded by the benchmark around its calls into each layer.

A span is (name, start, end, parent, run id); spans stay in memory and
are written out once, when the run ends.  Self time of a layer is the
duration of its spans minus the part covered by their child spans.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """Collects spans; ``enabled=False`` makes every span a no-op."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, name: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = Span(sid, name or layer, layer, time.perf_counter(), 0.0, parent, self.run_id)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec.end = time.perf_counter()

    def self_seconds(self) -> dict[str, float]:
        """Self time summed per layer."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - child[s.id]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class TracingCheckpointer:
    """Wraps a ``plans.checkpoint.Checkpointer``: times every
    ``snapshot`` in a span and counts snapshots and bytes written."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer
        self.snapshots = 0
        self.snapshot_s = 0.0
        self.written_bytes = 0

    def snapshot(self, df, iteration, metrics=None):
        t0 = time.perf_counter()
        with self._tracer.span("plans.checkpoint", "snapshot"):
            out = self._inner.snapshot(df, iteration, metrics)
        self.snapshot_s += time.perf_counter() - t0
        self.snapshots += 1
        self.written_bytes += dir_bytes(self._inner._iter_path(iteration))
        return out

    def __getattr__(self, name):
        return getattr(self._inner, name)


def dir_bytes(path: str) -> int:
    import os

    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
