"""Shared machinery: timed ops, read execution with spans, results."""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

from perfbench import stats
from perfbench.oracle import same_rows
from perfbench.trace import Tracer


@dataclass
class Recorder:
    """Latency samples per op class plus attempted/failed counts.
    A failure is an op that raised or returned rows other than the
    oracle's; nothing is retried."""

    samples: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def add(self, cls: str, ms: float | None, ok: bool, why: str = "") -> None:
        with self._lock:
            self.attempted += 1
            if ms is not None:
                self.samples.setdefault(cls, []).append(ms)
            if not ok:
                self.failed += 1
                if len(self.errors) < 20:
                    self.errors.append(f"{cls}: {why}"[:500])

    def all(self, *classes: str) -> list[float]:
        """Every sample of the given classes."""
        return [x for c in classes for x in self.samples.get(c, [])]


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    sf: float | None
    work: str  # scratch directory of this run, inside the checkout
    cores: int
    session_s: float
    jvm_pid: int
    detail: dict = field(default_factory=dict)


def run_query(ctx: Ctx, query, text: str, params: dict, op: int, kind: str,
              write: bool = False):
    """One statement through a Cypher entry point ``query(text,
    params)``, then ``collect`` -> (df, rows, ms).  Traced, a read's
    ``executedPlan`` is forced before the action so planning shows as
    its own span, and the parse a cache miss would cost is timed
    outside the op; untraced, the action plans as usual."""
    tr = ctx.tracer
    if tr.enabled:
        from samyama_graph_spark.cypher.parser import parse

        with tr.span("cypher.parse", op):
            parse(text)
    layer = "writes" if write else "cypher"
    t0 = time.perf_counter()
    with tr.span("op", op, kind=kind):
        with tr.span(f"{layer}.query", op, group="build"):
            df = query(text, params)
        if tr.enabled and not write:
            with tr.span("catalyst.plan", op, group="plan") as s:
                plan = df._jdf.queryExecution().executedPlan()
                s.attrs["plan_nodes"] = len(plan.treeString().splitlines())
        name = "writes.apply" if write else "exec.collect"
        with tr.span(name, op, group="exec", phase="exec") as s:
            rows = df.collect()
            if s is not None:
                s.attrs["rows"] = len(rows)
    return df, rows, (time.perf_counter() - t0) * 1000.0


def program_cpu_s(ctx: Ctx) -> float:
    """CPU seconds so far of the Python driver, the JVM and its workers,
    less the JVM's JIT compiler threads: compiling is a one-off cost of
    a fresh JVM whose amount swings with host load, not a cost per op."""
    return stats.tree_cpu_s(os.getpid()) - stats.jit_cpu_s(ctx.jvm_pid)


def check(rec: Recorder, cls: str, ms: float, got, want) -> None:
    ok = same_rows(got, want)
    rec.add(cls, ms, ok, "" if ok else f"got {got[:3]!r} want {want[:3]!r}")


def end_to_end(res: dict, session_s: float, peak_mb: float) -> dict:
    """The metrics every workload prints with tracing off."""
    return {
        "setup_s": (session_s + stats.median(res["loads"]) + res["warmup_s"], "s"),
        "cpu_ms_per_op": (res["cpu_ms_per_op"], "ms"),
        "peak_rss_mb": (peak_mb, "MB"),
    }


def latency_detail(rec: Recorder) -> dict:
    """Per-class sample counts, medians and the highest percentile with
    at least ten samples beyond it."""
    out = {}
    for cls, v in sorted(rec.samples.items()):
        p = stats.highest_supported(len(v))
        out[cls] = {
            "n": len(v),
            "p50_ms": round(stats.percentile(v, 50), 3),
            "tail_pct": p,
            "tail_ms": round(stats.percentile(v, p), 3) if p else None,
        }
    return out
