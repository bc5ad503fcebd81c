"""Spans around calls into the engine's layers, recorded from outside.

A span is (trace, id, name, start, end, parent, tasks, failed_tasks).
Each layer span runs under its own Spark job group, and the tasks of the
group's jobs are read back through the status tracker when the span
closes. Spans stay in memory until :meth:`Tracer.write`.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._trace = 0
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def op(self, name: str):
        """A root span; every layer span opened inside it is its child."""
        if not self.enabled:
            yield
            return
        self._trace += 1
        with self._span(name, None):
            yield

    @contextlib.contextmanager
    def layer(self, spark, layer: str, call: str):
        """Span ``<layer>.<call>`` with the Spark tasks its jobs ran."""
        if not self.enabled:
            yield
            return
        sc = spark.sparkContext
        group = f"valbench-{len(self.spans)}"
        sc.setJobGroup(group, f"{layer}.{call}")
        try:
            with self._span(f"{layer}.{call}", layer) as span:
                yield
        finally:
            sc._jsc.clearJobGroup()
        tracker = sc.statusTracker()
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                st = tracker.getStageInfo(stage)
                if st is not None:
                    span["tasks"] += st.numCompletedTasks
                    span["failed_tasks"] += st.numFailedTasks

    @contextlib.contextmanager
    def _span(self, name: str, layer: str | None):
        span = {
            "trace": self._trace,
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "tasks": 0,
            "failed_tasks": 0,
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        try:
            yield span
        finally:
            self._stack.pop()
            span["end"] = time.perf_counter() - self._t0

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the part its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def per_trace(self, value: str, field: str = "name") -> list[tuple]:
        """(self seconds, tasks, failed tasks) of the spans whose ``field``
        equals ``value``, summed per trace; one entry per trace."""
        selfs = self.self_times()
        acc: dict[int, list] = {}
        for s in self.spans:
            if s[field] == value:
                a = acc.setdefault(s["trace"], [0.0, 0, 0])
                a[0] += selfs[s["id"]]
                a[1] += s["tasks"]
                a[2] += s["failed_tasks"]
        return [tuple(v) for _, v in sorted(acc.items())]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
