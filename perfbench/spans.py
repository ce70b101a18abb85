"""Spans recorded around the benchmark's calls into the engine.

A span has a name, start, end, parent span and run id, plus free-form
attributes (the status-store counters of a gate go there).  Spans stay in
memory and are written out once, when the run ends.  The untraced run uses
``NullTracer``, whose spans cost one context-manager entry each.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` as a child of the innermost open span; yields the
        span dict so the caller can attach attributes while it is open."""
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh)


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {"attrs": attrs}


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its direct
    children cover (overlapping children count once)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], reach), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name, the per-layer view of a trace."""
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + own[s["id"]]
    return out
