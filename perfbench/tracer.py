"""In-memory spans recorded around the benchmark's own calls into the
engine's layers.

A span is ``{id, name, parent, op, start, end}`` plus optional
attributes; ``op`` is the id of the benchmark operation the span belongs
to (``None`` during set-up). Spans live in a list and are written out
once, when the run ends. A disabled tracer records nothing and its
``span`` costs one branch, so the untraced run measures the engine
alone.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans of all client threads; the current operation and the open
    spans are per thread."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @property
    def op(self) -> str | None:
        return getattr(self._local, "op", None)

    @op.setter
    def op(self, op_id: str | None) -> None:
        self._local.op = op_id

    @property
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": None,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def median_s(self, name: str) -> float:
        """Median duration of the spans called ``name``; 0 if none."""
        xs = self.durations(name)
        return statistics.median(xs) if xs else 0.0

    def layer_metrics(self, *names: str) -> dict:
        """``{"<name>_s": (median duration, "s")}`` for each span name."""
        return {f"{n}_s": (self.median_s(n), "s") for n in names}

    def write(self, path: str, header: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run": header, "spans": self.spans}, f)
