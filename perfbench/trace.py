"""Spans and Spark counters recorded by the benchmark around each call
into the engine.

A traced op gets its own job group per phase (``build`` inside the
engine call, ``plan`` while the returned frame is planned, ``exec`` for
the action), so the jobs, stages and tasks of each phase come from
``SparkContext.statusTracker()`` and the per-stage CPU, shuffle, spill
and GC figures from the application status store, which Spark keeps
with the UI off.  Counters are read by ``settle``, which a workload
calls once it has timed an op, so those reads stay outside op latency.
Spans stay in memory until ``dump``.  With tracing off every method is
a no-op and no job group is set.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

COUNTERS = (
    "jobs", "stages", "tasks", "cpu_ms", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "gc_ms",
)


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float = 0.0
    parent: int | None = None
    id: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # seconds the tracer spent inside timed ops (job-group
        # bookkeeping), i.e. what a traced op pays on top of an
        # untraced one besides the separate planning span
        self.self_s = 0.0

    # ------------------------------------------------------------ spans
    def new_op(self) -> int:
        return next(self._ops)

    @contextmanager
    def span(self, name: str, op: int, group: str | None = None, **attrs):
        """Record ``name`` as a child of this thread's open span.  With
        ``group``, Spark jobs launched inside run under job group
        ``pb-<op>-<group>`` and the span's attrs get their counters."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        s = Span(name, op, time.perf_counter(), parent=stack[-1].id if stack else None,
                 id=next(self._ids), attrs=dict(attrs))
        gid = f"pb-{op}-{group}" if group else None
        if gid:
            t = time.perf_counter()
            self.spark.sparkContext.setJobGroup(gid, name)
            self._charge(t)
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.perf_counter()
            if gid:
                t = time.perf_counter()
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                self._pending().append((s, gid))
                self._charge(t)
            with self._lock:
                self.spans.append(s)

    def settle(self) -> None:
        """Fill in the counters of this thread's finished grouped spans."""
        if not self.enabled:
            return
        pending = self._pending()
        if pending:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        while pending:
            s, gid = pending.pop()
            s.attrs.update(self.counters(gid))

    def _pending(self) -> list:
        if not hasattr(self._local, "pending"):
            self._local.pending = []
        return self._local.pending

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _charge(self, t0: float) -> None:
        dt = time.perf_counter() - t0
        with self._lock:
            self.self_s += dt

    # --------------------------------------------------------- counters
    def counters(self, group: str) -> dict:
        """Jobs, stages that ran, their tasks, and status-store
        figures for every job of ``group``."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        tracker = sc.statusTracker()
        out = dict.fromkeys(COUNTERS, 0)
        jobs = tracker.getJobIdsForGroup(group)
        out["jobs"] = len(jobs)
        if not jobs:
            return out
        jvm = sc._gateway.jvm
        store = jsc.statusStore()
        no_status = jvm.java.util.ArrayList()
        no_q = sc._gateway.new_array(jvm.double, 0)
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                attempts = store.stageData(int(sid), False, no_status, False, no_q)
                for k in range(attempts.size()):
                    sd = attempts.apply(k)
                    if sd.status().toString() == "SKIPPED" or sd.numCompleteTasks() == 0:
                        continue
                    out["stages"] += 1
                    out["tasks"] += sd.numCompleteTasks()
                    out["cpu_ms"] += sd.executorCpuTime() / 1e6
                    out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    out["gc_ms"] += sd.jvmGcTime()
        return out

    # ------------------------------------------------------------- out
    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]
