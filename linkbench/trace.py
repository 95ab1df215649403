"""Spans around the benchmark's calls into the engine, kept in memory.

A span records (id, name, parent, run id, start, end) in epoch seconds, the
clock Spark's event log uses. While a span is open, the Spark job group is
the span's id, so :mod:`linkbench.eventlog` can attribute every job, stage and
task to the innermost span that submitted it. A disabled tracer only keeps
the span stack; it sets no job group.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.sc = None  # set once the SparkContext exists
        self.spans: list[dict] = []
        self.group_s = 0.0  # time spent setting job groups
        self._stack: list[str] = []

    def _set_group(self, span_id: str | None, name: str = "") -> None:
        if not (self.enabled and self.sc is not None):
            return
        t = time.monotonic()
        if span_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span_id, name)
        self.group_s += time.monotonic() - t

    @contextmanager
    def span(self, name: str):
        span_id = f"{self.run_id}:{len(self.spans)}"
        rec = {
            "id": span_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(span_id)
        self._set_group(span_id, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            self._set_group(parent, self._name(parent))

    def _name(self, span_id: str | None) -> str:
        if span_id is None:
            return ""
        return self.spans[int(span_id.rsplit(":", 1)[1])]["name"]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
