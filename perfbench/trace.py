"""Spans for the traced run.

A span records a name, the layer it belongs to, start and end (epoch
seconds, so they line up with the JVM's job and Catalyst timestamps),
its parent span and the trace id of the operation it belongs to. Spans
are kept in memory and written out once, at the end of the run.

Layer self time is a span's duration minus the part of it that its
children cover; summed over an operation's spans it gives back the
operation's wall time, which :func:`analyse` checks.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def current(self) -> dict | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, layer: str, trace: str | None = None,
             parent: int | None = None, **attrs):
        """Open a span on this thread. Without ``trace``/``parent`` it
        nests under the thread's current span; outside any operation it
        records nothing and yields None."""
        cur = self.current()
        if parent is None and cur is not None:
            parent, trace = cur["id"], cur["trace"]
        if trace is None:
            yield None
            return
        sp = {"id": next(self._ids), "name": name, "layer": layer,
              "trace": trace, "parent": parent, "start": time.time(),
              "end": None, **attrs}
        stack = self._stack()
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def add(self, name: str, layer: str, start: float, end: float,
            parent: dict, **attrs) -> dict | None:
        """Record a span measured elsewhere (a Spark job, a Catalyst
        phase), clipped to its parent's interval."""
        start, end = max(start, parent["start"]), min(end, parent["end"])
        if end <= start:
            return None
        sp = {"id": next(self._ids), "name": name, "layer": layer,
              "trace": parent["trace"], "parent": parent["id"],
              "start": start, "end": end, **attrs}
        with self._lock:
            self.spans.append(sp)
        return sp

    def wrap(self, owner, attr: str, name: str, layer: str):
        """Replace ``owner.attr`` with a version that runs in a span when
        called inside an operation. Returns the undo function."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name, layer):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        return lambda: setattr(owner, attr, orig)

    def trace_spans(self, trace: str) -> list[dict]:
        with self._lock:
            return [s for s in self.spans if s["trace"] == trace]

    def attach_jobs(self, trace: str, jobs: list[dict]) -> dict[str, int]:
        """Add the operation's Spark jobs as ``spark`` spans, merged
        where they overlap, each under the deepest span containing its
        start. Returns how many jobs started inside each layer."""
        spans = [s for s in self.trace_spans(trace) if s["end"] is not None]

        def holder(t: float) -> dict | None:
            inside = [s for s in spans if s["start"] <= t < s["end"]]
            return max(inside, key=lambda s: (depth(s, spans), -s["id"])) if inside else None

        intervals = [(j["start"], j["end"]) for j in jobs
                     if j["start"] is not None and j["end"] is not None]
        started_in: dict[str, int] = defaultdict(int)
        for start, _ in intervals:
            h = holder(start)
            started_in[h["layer"] if h else "none"] += 1
        for start, end in union(intervals):
            h = holder(start)
            if h is not None:
                self.add("spark.jobs", "spark", start, end, h)
        return dict(started_in)

    def attach_phases(self, parent: dict, tracker) -> dict[str, float]:
        """Add Catalyst's planning phases (from a QueryPlanningTracker) as
        ``catalyst`` spans; returns their durations in ms."""
        phases = tracker.phases()
        out = {}
        for name in phases.keys().mkString("\x1f").split("\x1f"):
            if not name:
                continue
            ph = phases.apply(name)
            out[name] = float(ph.durationMs())
            self.add(f"catalyst.{name}", "catalyst",
                     ph.startTimeMs() / 1e3, ph.endTimeMs() / 1e3, parent)
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)


def depth(span: dict, spans: list[dict]) -> int:
    by_id = {s["id"]: s for s in spans}
    d, cur = 0, span
    while cur.get("parent") in by_id:
        d, cur = d + 1, by_id[cur["parent"]]
    return d


def union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def covered(intervals: list[tuple[float, float]]) -> float:
    return sum(b - a for a, b in union(intervals))


def analyse(spans: list[dict]) -> dict:
    """Self time per layer, summed over all operations, and the largest
    relative gap between an operation's summed self times and its wall
    time."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    by_layer: dict[str, float] = defaultdict(float)
    per_trace: dict[str, float] = defaultdict(float)
    walls: dict[str, float] = {}
    for s in spans:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children[s["id"]]]
        own = (s["end"] - s["start"]) - covered([k for k in kids if k[1] > k[0]])
        by_layer[s["layer"]] += own
        per_trace[s["trace"]] += own
        if s["parent"] is None:
            walls[s["trace"]] = s["end"] - s["start"]
    worst = max((abs(per_trace[t] - w) / w for t, w in walls.items() if w > 0),
                default=0.0)
    return {"self_s": dict(by_layer), "ops": len(walls), "max_self_sum_error": worst}
