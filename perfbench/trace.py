"""In-memory spans around the benchmark's own calls into each layer.

A span has a name, a start and an end (perf_counter seconds, plus the
same instants as epoch seconds to line spans up with Spark's own
timestamps), and the span that was open when it started. All spans of
one run share the tracer's run id. Spans are written out once, when the
run ends. A disabled tracer records nothing and costs one branch per
call. An enabled one adds up the time its own bookkeeping takes in
``cost_s``: the tracing overhead, measured directly.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._open: list[int] = []
        self.cost_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "parent": self._open[-1] if self._open else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "epoch_start": time.time(),
            "epoch_end": None,
            "run": self.run_id,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        self.cost_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            rec["end"] = t1 = time.perf_counter()
            rec["epoch_end"] = time.time()
            self._open.pop()
            self.cost_s += time.perf_counter() - t1

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def self_times(spans: list[dict], root: dict) -> dict[str, float]:
    """Self time per span name within ``root``'s subtree: each span's
    duration minus the union of its direct children's intervals."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    todo = [root]
    while todo:
        s = todo.pop()
        covered, last = 0.0, s["start"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], last), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                last = hi
            todo.append(c)
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
    return out
