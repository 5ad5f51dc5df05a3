"""Spans and Spark job counts taken from outside the engine.

Spans are recorded by the benchmark around each call into a layer. A span
holds its name, layer, start, end, parent span and request id; spans stay
in memory and are written out once, at the end of a run. With tracing off,
`span()` only yields, so the untraced run pays no bookkeeping.

Job, stage and task counts come from the scheduler's job and stage id
counters plus the status tracker. With one client, every job id handed out
during a call belongs to that call. This does not depend on job groups or
descriptions, so the counts stay right when the engine starts setting them.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from typing import Dict, List, Optional, Set


class SparkCounter:
    """Jobs, stages that ran, tasks and failed tasks between two marks."""

    def __init__(self, sc):
        self._sc = sc
        self._scala_sc = sc._jsc.sc()
        self._dag = self._scala_sc.dagScheduler()

    def mark(self) -> tuple:
        return (int(self._dag.nextJobId()), int(self._dag.nextStageId()))

    def since(self, mark: tuple) -> Dict[str, int]:
        j0, s0 = mark
        j1, s1 = self.mark()
        # the status store is fed by the listener bus: drain it so every
        # task end of this call is counted
        self._scala_sc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        stages = tasks = failed = 0
        for sid in range(s0, s1):
            info = tracker.getStageInfo(sid)
            if info is None:
                continue
            ran = info.numCompletedTasks + info.numFailedTasks
            if ran:  # a stage whose shuffle output was reused runs no task
                stages += 1
                tasks += info.numCompletedTasks
                failed += info.numFailedTasks
        return {"jobs": j1 - j0, "stages": stages, "tasks": tasks, "failed_tasks": failed}


class Tracer:
    def __init__(self, enabled: bool, counter: Optional[SparkCounter]):
        self.enabled = enabled
        self.counter = counter
        self.spans: List[dict] = []
        self._stack: List[dict] = []

    @contextmanager
    def span(self, name: str, layer: str, request: Optional[str] = None):
        """Yield the span's record (None when tracing is off); the caller
        may add attributes to it."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "request": request or (parent["request"] if parent else None),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        mark = self.counter.mark() if self.counter else None
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if mark is not None:
                rec.update(self.counter.since(mark))

    @contextmanager
    def off(self):
        """Record nothing inside (warm-up calls)."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def self_times(self, ids: Optional[Set[int]] = None) -> Dict[str, float]:
        """Seconds per layer over the spans in `ids` (all by default): each
        span's duration minus the part its children cover (one client, so
        children never overlap)."""
        spans = [s for s in self.spans if ids is None or s["id"] in ids]
        child_s: Dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: Dict[str, float] = {}
        for s in spans:
            own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def find(self, name: str) -> List[dict]:
        return [s for s in self.spans if s["name"] == name]
