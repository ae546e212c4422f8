"""Timing and tracing shared by the workloads.

Every timed operation goes through `Recorder.op`, which times it with
`time.perf_counter` and files the duration under an operation name.
With tracing on, the same call also opens a span: the span gets its own
Spark job group, and on exit the status tracker is asked which jobs ran
in that group, how many tasks they ran and how many failed. Jobs that
ran with no group while the span was open (writes that operators submit
from `ThreadPoolExecutor` threads, which do not inherit the group) are
counted as `escaped_jobs` of the innermost open span. Spans stay in
memory and are written to one JSON file when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


def median(values):
    return statistics.median(values) if values else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


class Span:
    __slots__ = (
        "id", "parent", "layer", "name", "t0", "t1", "attrs",
        "jobs", "tasks", "failed_tasks", "escaped_jobs", "escaped",
    )

    def __init__(self, sid, parent, layer, name, attrs):
        self.id = sid
        self.parent = parent
        self.layer = layer
        self.name = name
        self.attrs = dict(attrs)
        self.t0 = self.t1 = 0.0
        self.jobs = self.tasks = self.failed_tasks = self.escaped_jobs = 0
        self.escaped: set[int] = set()

    def as_dict(self) -> dict:
        return {
            "id": self.id, "parent": self.parent, "layer": self.layer,
            "name": self.name, "t0": self.t0, "t1": self.t1,
            "jobs": self.jobs, "tasks": self.tasks,
            "failed_tasks": self.failed_tasks,
            "escaped_jobs": self.escaped_jobs, "attrs": self.attrs,
        }


class Recorder:
    """Operation timings for the end-to-end metrics plus, when `trace`
    is set, spans for the per-layer metrics."""

    def __init__(self, sc, trace: bool):
        self.sc = sc
        self.trace = trace
        self.ops: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.timed_s = 0.0  # summed duration of outermost operations
        self.trace_overhead_s = 0.0  # time spent in span bookkeeping
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op_depth = 0
        self._next_id = 0  # span ids stay unique across reset(): they name job groups
        self._seen_ungrouped: set[int] = set()
        self._unattributed_escaped = 0
        if trace:
            self._seen_ungrouped = set(self._ungrouped())

    def reset(self) -> None:
        """End of set-up: forget the operation timings and the spans
        nested in `session` (warm-up) spans; keep the checks and the
        other set-up spans, such as the dataset build."""
        self.ops.clear()
        self.timed_s = 0.0
        self.trace_overhead_s = 0.0
        by_id = {sp.id: sp for sp in self.spans}

        def in_warmup(sp):
            while sp.parent is not None:
                sp = by_id[sp.parent]
                if sp.layer == "session":
                    return True
            return False

        self.spans = [sp for sp in self.spans if not in_warmup(sp)]
        if self.trace:
            self._flush_escaped()
            self._unattributed_escaped = 0

    # --- correctness accounting ------------------------------------------
    def check(self, ok: bool, what: str) -> None:
        """Count one attempted operation and whether its output was right."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    # --- timing ----------------------------------------------------------
    @contextmanager
    def op(self, name: str, layer: str | None = None, label: str = "", **attrs):
        """Time one operation; its duration is filed under `name`. With
        tracing on it is also a span of `layer` (default: `name`) named
        `label` (default: `name`)."""
        with self.span(layer or name, label or name, **attrs) as sp:
            self._op_depth += 1
            t0 = time.perf_counter()
            try:
                yield sp
            finally:
                dt = time.perf_counter() - t0
                self._op_depth -= 1
            self.ops.setdefault(name, []).append(dt)
            if self._op_depth == 0:
                self.timed_s += dt

    @contextmanager
    def span(self, layer: str, name: str = "", **attrs):
        if not self.trace:
            yield None
            return
        b0 = time.perf_counter()
        self._flush_escaped()
        parent = self._stack[-1].id if self._stack else None
        sp = Span(self._next_id, parent, layer, name or layer, attrs)
        self._next_id += 1
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(f"pb{sp.id}", f"{layer}:{sp.name}")
        sp.t0 = time.perf_counter()
        self.trace_overhead_s += sp.t0 - b0
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            self._flush_escaped()
            self._stack.pop()
            if self._stack:
                outer = self._stack[-1]
                self.sc.setJobGroup(f"pb{outer.id}", f"{outer.layer}:{outer.name}")
            else:
                self.sc._jsc.clearJobGroup()
            tracker = self.sc.statusTracker()
            own = tracker.getJobIdsForGroup(f"pb{sp.id}")
            sp.jobs = len(own) + len(sp.escaped)
            sp.escaped_jobs = len(sp.escaped)
            for jid in list(own) + sorted(sp.escaped):
                tasks, failed = self._job_tasks(tracker, jid)
                sp.tasks += tasks
                sp.failed_tasks += failed
            self.trace_overhead_s += time.perf_counter() - sp.t1

    def _ungrouped(self) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(None))

    def _flush_escaped(self) -> None:
        """Give jobs that ran with no group since the last look to the
        innermost open span."""
        now = set(self._ungrouped())
        new = now - self._seen_ungrouped
        self._seen_ungrouped |= now
        if not new:
            return
        if self._stack:
            self._stack[-1].escaped |= new
        else:
            self._unattributed_escaped += len(new)

    @staticmethod
    def _job_tasks(tracker, jid: int) -> tuple[int, int]:
        info = tracker.getJobInfo(jid)
        if info is None:
            return 0, 0
        tasks = failed = 0
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return tasks, failed

    # --- per-layer aggregation -------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it that child spans cover."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out = {}
        for sp in self.spans:
            covered = 0.0
            end = sp.t0
            for ch in sorted(children.get(sp.id, []), key=lambda c: c.t0):
                lo, hi = max(ch.t0, end), min(ch.t1, sp.t1)
                if hi > lo:
                    covered += hi - lo
                    end = hi
            out[sp.id] = max(0.0, (sp.t1 - sp.t0) - covered)
        return out

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Per layer: self seconds, jobs, tasks, failed tasks, escaped jobs."""
        self_t = self.self_times()
        out: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            t = out.setdefault(
                sp.layer,
                {"s": 0.0, "jobs": 0, "tasks": 0, "failed_tasks": 0,
                 "escaped_jobs": 0},
            )
            t["s"] += self_t[sp.id]
            t["jobs"] += sp.jobs
            t["tasks"] += sp.tasks
            t["failed_tasks"] += sp.failed_tasks
            t["escaped_jobs"] += sp.escaped_jobs
        return out

    def named(self, layer: str, name: str) -> list[Span]:
        return [sp for sp in self.spans if sp.layer == layer and sp.name == name]

    def write_trace(self, path: str, extra: dict) -> None:
        self_t = self.self_times()
        spans = []
        for sp in self.spans:
            d = sp.as_dict()
            d["self_s"] = self_t[sp.id]
            spans.append(d)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {**extra, "unattributed_escaped_jobs": self._unattributed_escaped,
                 "spans": spans},
                f,
            )


def jvm_stats(spark) -> dict[str, float]:
    """Garbage-collection seconds and peak heap MB of the driver JVM
    (local mode: the executors run in it too), read over JMX."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())
    peak = 0
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType().toString()) == "Heap memory":
            peak += pool.getPeakUsage().getUsed()
    return {"jvm.gc_s": gc_ms / 1000.0, "jvm.heap_peak_mb": peak / 2**20}
