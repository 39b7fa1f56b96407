"""Per-layer metrics: the catalog and their computation from spans.

Layers are named after the package modules.  Each catalog row gives
the metric's unit, its better direction, the module it reads, and the
end-to-end metric and workload it should move (see ``moves``).
Counts (jobs, stages, tasks, rows, bytes, CPU) are totals over a fixed
prefix of each workload's op stream, so two traced runs of one seed
count the same ops; times are medians over every measured op.
"""

from __future__ import annotations

from perfbench import stats

SV, BA = "serving", "batch_analytics"

# (name, unit, better, module, moves: [(end-to-end metric, workload)])
CATALOG = [
    ("cypher.parse_ms", "ms", "lower", "cypher.lexer/parser", [("cpu_ms_per_op", SV)]),
    ("cypher.build_ms", "ms", "lower", "cypher.compiler/engine", [("cpu_ms_per_op", SV)]),
    ("cypher.build_jobs", "count", "lower", "cypher.engine", [("cpu_ms_per_op", SV)]),
    ("cypher.plan_reuse_frac", "frac", "higher", "cypher.engine", [("cpu_ms_per_op", SV)]),
    ("writes.build_ms", "ms", "lower", "cypher.writes", [("cpu_ms_per_op", SV)]),
    ("writes.apply_ms", "ms", "lower", "cypher.writes", [("cpu_ms_per_op", SV)]),
    ("writes.jobs", "count", "lower", "cypher.writes", [("cpu_ms_per_op", SV)]),
    ("catalyst.plan_ms", "ms", "lower", "catalyst", [("cpu_ms_per_op", SV)]),
    ("catalyst.plan_nodes", "count", "lower", "catalyst", [("cpu_ms_per_op", SV)]),
    ("exec.ms", "ms", "lower", "exec", [("cpu_ms_per_op", SV), ("cpu_ms_per_op", BA)]),
    ("exec.jobs", "count", "lower", "exec", [("cpu_ms_per_op", SV), ("cpu_ms_per_op", BA)]),
    ("exec.stages", "count", "lower", "exec", [("cpu_ms_per_op", SV), ("cpu_ms_per_op", BA)]),
    ("exec.tasks", "count", "lower", "exec", [("cpu_ms_per_op", SV), ("cpu_ms_per_op", BA)]),
    ("exec.cpu_ms", "ms", "lower", "exec", [("cpu_ms_per_op", BA)]),
    ("exec.cpu_busy_frac", "frac", "higher", "exec", [("cpu_ms_per_op", BA)]),
    ("exec.shuffle_read_bytes", "bytes", "lower", "exec", [("cpu_ms_per_op", BA)]),
    ("exec.shuffle_write_bytes", "bytes", "lower", "exec", [("cpu_ms_per_op", BA)]),
    ("exec.spill_bytes", "bytes", "lower", "exec", [("cpu_ms_per_op", BA)]),
    ("exec.gc_ms", "ms", "lower", "exec", [("cpu_ms_per_op", BA), ("peak_rss_mb", BA)]),
    ("transfer.rows", "count", "lower", "exec", [("cpu_ms_per_op", SV)]),
    ("reads.point_p50_ms", "ms", "lower", "operators", [("cpu_ms_per_op", SV)]),
    ("reads.expand_p50_ms", "ms", "lower", "operators", [("cpu_ms_per_op", SV)]),
    ("reads.two_hop_p50_ms", "ms", "lower", "operators", [("cpu_ms_per_op", SV)]),
    ("reads.var_length_p50_ms", "ms", "lower", "operators.traversal", [("cpu_ms_per_op", SV)]),
    ("reads.shortest_path_p50_ms", "ms", "lower", "operators.traversal", [("cpu_ms_per_op", SV)]),
    ("reads.knn_p50_ms", "ms", "lower", "cypher.procedures", [("cpu_ms_per_op", SV)]),
    ("algorithms.pagerank_s", "s", "lower", "algorithms.pagerank", [("cpu_ms_per_op", BA)]),
    ("algorithms.wcc_s", "s", "lower", "algorithms.components", [("cpu_ms_per_op", BA)]),
    ("algorithms.cdlp_s", "s", "lower", "algorithms.components", [("cpu_ms_per_op", BA)]),
    ("algorithms.bfs_s", "s", "lower", "algorithms.paths", [("cpu_ms_per_op", BA)]),
    ("algorithms.sssp_s", "s", "lower", "algorithms.paths", [("cpu_ms_per_op", BA)]),
    ("datapipe.exact_dedup_s", "s", "lower", "datapipe.dedup", [("cpu_ms_per_op", BA)]),
    ("datapipe.minhash_s", "s", "lower", "datapipe.dedup", [("cpu_ms_per_op", BA)]),
    ("datapipe.simhash_s", "s", "lower", "datapipe.dedup", [("cpu_ms_per_op", BA)]),
    ("datapipe.kmeans_s", "s", "lower", "datapipe.dedup", [("cpu_ms_per_op", BA)]),
    ("datapipe.knn_ivf_s", "s", "lower", "datapipe.similarity", [("cpu_ms_per_op", BA)]),
    ("tenancy.save_s", "s", "lower", "tenancy", [("cpu_ms_per_op", SV), ("setup_s", SV)]),
    ("tenancy.reload_s", "s", "lower", "tenancy", [("cpu_ms_per_op", SV), ("setup_s", SV)]),
    ("tenancy.bytes_per_row", "bytes", "lower", "tenancy", [("cpu_ms_per_op", SV)]),
    ("session.persisted_rdds", "count", "lower", "session", [("peak_rss_mb", SV)]),
    ("session.conf_drift", "count", "lower", "session", [("cpu_ms_per_op", SV)]),
    ("session.heap_mb", "MB", "lower", "session", [("peak_rss_mb", SV)]),
    ("session.threads", "count", "lower", "session", [("peak_rss_mb", SV)]),
    ("tenant.read_p50_ms", "ms", "lower", "cypher", [("cpu_ms_per_op", SV)]),
    ("tenant.write_p50_ms", "ms", "lower", "cypher.writes", [("cpu_ms_per_op", SV)]),
    ("batch.algo_s", "s", "lower", "algorithms", [("cpu_ms_per_op", BA)]),
    ("batch.curation_s", "s", "lower", "datapipe", [("cpu_ms_per_op", BA)]),
    ("run.failed_frac", "frac", "lower", "benchmark", []),
    ("trace.op_p50_ms", "ms", "lower", "benchmark", []),
    ("trace.overhead_ms", "ms", "lower", "benchmark", []),
]
UNITS = {name: unit for name, unit, *_ in CATALOG}


def _med(values: list[float]) -> float:
    return stats.median(values) if values else 0.0


def from_spans(ctx, measured: list[int], window: list[int]) -> dict:
    """Layer metrics common to every workload: times from the spans of
    the ``measured`` ops, counters from the ops in ``window``."""
    ops = set(measured)
    window = set(window)
    spans = [s for s in ctx.tracer.spans if s.op in ops]
    win = [s for s in spans if s.op in window]

    def ms(name: str) -> list[float]:
        return [s.ms for s in spans if s.name == name]

    def total(key: str, pred=lambda s: True) -> float:
        return sum(s.attrs.get(key, 0) for s in win if pred(s))

    grouped = lambda s: "jobs" in s.attrs  # noqa: E731
    phase = lambda s: s.attrs.get("phase") == "exec"  # noqa: E731
    exec_wall_ms = sum(s.ms for s in win if phase(s))
    m = {
        "cypher.parse_ms": _med(ms("cypher.parse")),
        "cypher.build_ms": _med(ms("cypher.query")),
        "cypher.build_jobs": total("jobs", lambda s: s.name == "cypher.query"),
        "writes.build_ms": _med(ms("writes.query")),
        "writes.apply_ms": _med(ms("writes.apply")),
        "writes.jobs": total("jobs", lambda s: s.name.startswith("writes.")),
        "catalyst.plan_ms": _med(ms("catalyst.plan")),
        "catalyst.plan_nodes": _med(
            [s.attrs["plan_nodes"] for s in spans if "plan_nodes" in s.attrs]
        ),
        "exec.ms": _med([s.ms for s in spans if phase(s)]),
        "transfer.rows": total("rows"),
    }
    for key in ("jobs", "stages", "tasks", "cpu_ms", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "gc_ms"):
        m[f"exec.{key}"] = total(key, grouped)
    m["exec.cpu_busy_frac"] = (
        m["exec.cpu_ms"] / (exec_wall_ms * ctx.cores) if exec_wall_ms else 0.0
    )
    n = max(len(measured), 1)
    m["trace.overhead_ms"] = ctx.tracer.self_s * 1000.0 / n
    return m


def session(spark, conf0: dict) -> dict:
    """Shared-session state at the end of a run."""
    jvm = spark.sparkContext._gateway.jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    conf1 = sql_conf(spark)
    keys = set(conf0) | set(conf1)
    return {
        "session.persisted_rdds": len(spark.sparkContext._jsc.getPersistentRDDs()),
        "session.conf_drift": sum(conf0.get(k) != conf1.get(k) for k in keys),
        "session.heap_mb": (rt.totalMemory() - rt.freeMemory()) / 2**20,
        "session.threads": jvm.java.lang.management.ManagementFactory
        .getThreadMXBean().getThreadCount(),
    }


def sql_conf(spark) -> dict:
    return {k: v for k, v in spark.conf.getAll.items() if k.startswith("spark.sql.")}


def reads(ctx, measured: list[int], window: list[int], reuse: list[bool]) -> dict:
    m = from_spans(ctx, measured, window)
    m["cypher.plan_reuse_frac"] = sum(reuse) / len(reuse) if reuse else 0.0
    ops = set(measured)
    by_kind: dict[str, list[float]] = {}
    for s in ctx.tracer.spans:
        if s.name == "op" and s.op in ops:
            by_kind.setdefault(s.attrs["kind"], []).append(s.ms)
    for kind, v in by_kind.items():
        if f"reads.{kind}_p50_ms" in UNITS:
            m[f"reads.{kind}_p50_ms"] = _med(v)
    return m
