"""In-memory span recorder for the traced run.

A span has a name, start and end (seconds on the run's monotonic clock), a
parent span id and the run id. Spans are only kept in memory while the run
goes and are written out once, when it ends. With tracing off every call is
a no-op, so the untraced run does the same work minus the bookkeeping.
"""

from __future__ import annotations

import contextlib
import json
import os
import time


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "start": time.perf_counter(), "end": None,
            "parent": self._stack[-1] if self._stack else None, "run": self.run_id,
        }
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        """A span whose times were measured elsewhere (a micro-batch's
        progress event)."""
        if self.enabled:
            self.spans.append(
                {"id": len(self.spans), "name": name, "start": start, "end": end,
                 "parent": parent, "run": self.run_id, **attrs}
            )

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans}, fh)
