"""Spans around calls into the engine's public functions, attributed to
Spark jobs.

A span records name, start, end, parent span and request id. Each span
sets its own Spark job group (``setJobGroup`` is per thread), so every job
a call submits is charged to the innermost open span; job and task counts
are read back from the status tracker when the run ends. Spans stay in
memory and are written as JSON lines at exit.

With tracing off, ``span`` and ``wrap`` cost one attribute check: the
end-to-end figures come from untraced runs, and the traced run's own
figures minus those are the tracing overhead.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        span = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request if request is not None else (parent or {}).get("request"),
        }
        span["group"] = f"perfbench-{span['id']}"
        self.sc.setJobGroup(span["group"], name)
        stack.append(span)
        span["start"] = time.perf_counter()
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(span)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a version that runs inside a span
        (traced runs only); ``unwrap_all`` restores the originals."""
        if not self.enabled:
            return
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        self._patches.append((module, attr, original))

    def unwrap_all(self) -> None:
        for module, attr, original in reversed(self._patches):
            setattr(module, attr, original)
        self._patches.clear()

    def resolve_jobs(self) -> None:
        """Fill each span's own jobs, tasks and failed tasks from the
        status tracker (its jobs only, not its children's). Spans already
        resolved are skipped."""
        tracker = self.sc.statusTracker()
        for span in self.spans:
            if "jobs" in span:
                continue
            jobs = tracker.getJobIdsForGroup(span["group"])
            tasks = failed = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    stage = tracker.getStageInfo(sid)
                    if stage is not None:
                        tasks += stage.numTasks
                        failed += stage.numFailedTasks
            span.update(jobs=len(jobs), tasks=tasks, failed_tasks=failed)

    def subtree(self, root: dict) -> list[dict]:
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s["id"], []))
        return out

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals
        (children of one span run on its thread, one after another)."""
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, last_end = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], last_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last_end = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, t0: float) -> None:
        """Spans as JSON lines, times in seconds since ``t0``."""
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                rec = {k: v for k, v in s.items() if k not in ("start", "end")}
                rec["start"] = round(s["start"] - t0, 6)
                rec["end"] = round(s["end"] - t0, 6)
                f.write(json.dumps(rec) + "\n")


class RuntimeProbe:
    """JVM and executor counters over a window (traced runs only).

    ``jvm.gc_s`` is the JMX collection-time delta; ``jvm.heap_peak_mb`` the
    sum of the heap pools' peak usage since the window opened; slot
    utilisation samples the status tracker's active task count every 20 ms
    and divides the mean by the number of task slots."""

    def __init__(self, spark, slots: int) -> None:
        self.sc = spark.sparkContext
        self.slots = slots
        jvm = spark._jvm
        self._mgmt = jvm.java.lang.management.ManagementFactory
        self._samples: list[int] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _gc_ms(self) -> int:
        return sum(max(0, b.getCollectionTime()) for b in self._mgmt.getGarbageCollectorMXBeans())

    def _heap_pools(self):
        return [p for p in self._mgmt.getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory"]

    def _sample(self) -> None:
        tracker = self.sc.statusTracker()
        while not self._stop.wait(0.02):
            active = 0
            for sid in tracker.getActiveStageIds():
                info = tracker.getStageInfo(sid)
                if info is not None:
                    active += info.numActiveTasks
            self._samples.append(active)

    def start(self) -> None:
        self._gc0 = self._gc_ms()
        for p in self._heap_pools():
            p.resetPeakUsage()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join(timeout=5)
        heap = sum(p.getPeakUsage().getUsed() for p in self._heap_pools())
        n = max(len(self._samples), 1)
        return {
            "jvm.gc_s": (self._gc_ms() - self._gc0) / 1000,
            "jvm.heap_peak_mb": heap / 1048576,
            "executor.slot_util": sum(self._samples) / n / self.slots,
        }
