"""In-memory spans for the traced run.

A span has a name, start, end, the span that caused it, a trace id (one
per query call) and free-form attributes (counter deltas). Spans are kept
in a list and written to one JSON file when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._trace_ids = itertools.count(1)
        self.trace_id = 0

    def new_trace(self) -> int:
        self.trace_id = next(self._trace_ids)
        return self.trace_id

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "trace": self.trace_id, "start": time.perf_counter(),
               "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec["attrs"]
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans,
                       "self_time_s": self_times(self.spans),
                       "self_time_s_by_name": self_time_by_name(self.spans)},
                      f)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float
             ) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - _covered(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name."""
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + own[s["id"]]
    return out
