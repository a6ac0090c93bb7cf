"""In-memory span recorder and Spark job counting for the traced run.

A span is (name, start, end, parent, op): `op` ties the spans of one
operation (a query call, a micro-batch) together.  Spans are kept in a
list and written out once, when the run ends.  With tracing off every
call here is a no-op, so the untraced run measures the program alone.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, op=None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {"id": sid, "name": name,
               "parent": parent["id"] if parent else None,
               "op": op if op is not None else (parent["op"] if parent else None),
               "start": time.perf_counter()}
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def durations(self, name: str, since: float = 0.0) -> list[float]:
        """Seconds of every finished span called `name` that started at or
        after `since` (a perf_counter reading)."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["start"] >= since]

    def _child_seconds(self) -> dict[int, float]:
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return child

    def child_share(self, name: str) -> list[float]:
        """For each span called `name`: the share of it its children cover."""
        child = self._child_seconds()
        return [child[s["id"]] / (s["end"] - s["start"])
                for s in self.spans if s["name"] == name and s["end"] > s["start"]]

    def self_seconds(self) -> dict[str, float]:
        """Self time per layer: a span's duration minus its children's,
        summed by layer (the span name up to the first dot)."""
        child = self._child_seconds()
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"].split(".")[0]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


class JobCounter:
    """Spark job/stage/task counts per named phase, through job groups and
    the status tracker (works with the UI off)."""

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.counts: dict[str, dict] = {}

    @contextlib.contextmanager
    def group(self, name: str):
        """Run the body under job group `name`, then record its counts.
        Nested groups restore the outer one on exit."""
        if not self.enabled:
            yield
            return
        outer = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", outer)
            self.counts[name] = self._count(name)

    def _count(self, name: str) -> dict:
        # the status store is fed by the listener bus; let it catch up so
        # the counts are final and repeat exactly run to run
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(name)
        stages = tasks = failed = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage is None or stage.numCompletedTasks + stage.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += stage.numCompletedTasks
                failed += stage.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}
