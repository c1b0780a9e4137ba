"""In-memory spans and counters, recorded from the benchmark side only.

A span has a name, start, end, parent span and op id. Spans stay in
memory until the run ends; ``summary`` folds the spans of timed ops
(those with an op id; set-up spans have none) into per-name totals and
self times (a span's duration minus the time its children cover).
The untraced run uses ``NullTracer``, whose calls do nothing.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, n: float = 1) -> None:
        self.counters[name] += n

    def durations(self, name: str) -> list[float]:
        """Durations of the timed ops' spans called ``name``."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["op"] is not None]

    def summary(self) -> dict[str, dict]:
        """Per span name, over the timed ops: count, total seconds and
        self seconds."""
        child_time = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            if s["op"] is None:
                continue
            d = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"n": 0, "total_s": 0.0, "self_s": 0.0})
            agg["n"] += 1
            agg["total_s"] += d
            agg["self_s"] += d - child_time[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counters": self.counters}, fh)


class NullTracer:
    enabled = False
    op_id = None

    def span(self, name: str):
        return contextlib.nullcontext()

    def count(self, name: str, n: float = 1) -> None:
        pass


def rebind(modules, attr: str, wrapper) -> None:
    """Point ``attr`` at ``wrapper`` in every module that imported the
    wrapped original by name."""
    for mod in modules:
        if getattr(mod, attr, None) is getattr(wrapper, "__wrapped__", None):
            setattr(mod, attr, wrapper)
