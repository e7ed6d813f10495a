"""In-memory span recorder for traced benchmark runs.

A span is one timed call from the benchmark into a layer of the engine:
name, start, end, parent span and run id. Counts taken at the same
boundary ride on the span. Nothing is written until ``dump`` is called
at the end of the run. ``overhead_s`` is the wall time the recorder's own
bookkeeping has taken, measured around it.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        """Record ``name`` around the body; yields the span's count dict
        (or a throwaway dict when tracing is off)."""
        if not self.enabled:
            yield {}
            return
        t0 = time.perf_counter()
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.monotonic(), "end": None, "counts": {}}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.overhead_s += time.perf_counter() - t0
        try:
            yield rec["counts"]
        finally:
            t0 = time.perf_counter()
            rec["end"] = time.monotonic()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - t0

    @contextmanager
    def paused(self):
        """No spans inside the block (e.g. the warm-up's engine calls)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def total(self, name: str) -> float:
        """Summed wall seconds of every finished span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its direct
        children cover (children never overlap: calls are sequential)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            own = (s["end"] - s["start"]) - child[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f, indent=1)
