#!/usr/bin/env python3
"""Layered serving benchmark for samyama_graph_spark.

    python3 perfbench/run.py --workload serving --seed 1 \\
        --seconds 20 --trace 0

Run from the root of a source checkout (the directory holding
``samyama_graph_spark/``).  Workloads: ``serving`` and
``batch_analytics`` (see BENCHMARK.json for why each exists).  All inputs are generated from ``--seed`` under a scratch
directory inside the checkout, removed at exit.  The last stdout line
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``.  Run details (environment, per-class sample counts and
percentiles, set-up repeats, failures) go to stderr; a traced run also
writes them with its spans to ``.perfbench_out/<workload>-<seed>/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import layers, stats  # noqa: E402
from perfbench.harness import Ctx, end_to_end, latency_detail  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import batch, serving  # noqa: E402

WORKLOADS = {"serving": serving, "batch_analytics": batch}
DEFAULT_SF = 0.01  # scale of the generated TPC-H tables


def _args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="scale of the generated TPC-H tables")
    return ap.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``
    and fix the engine's CPU and memory settings explicitly."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(stats.nproc()))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # fixed compiler threads, so harness.program_cpu_s can subtract them
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = tmp


def _start_spark(work: str):
    from samyama_graph_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 — a call cut short by SIGTERM leaves py4j broken
        pass
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    a = _args(argv)
    # a terminated run still stops Spark and the JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "samyama_graph_spark")):
        print("perfbench: no samyama_graph_spark/ beside perfbench/", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)
    try:
        return _run(a, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _run(a: argparse.Namespace, work: str) -> int:
    jif0 = stats.cpu_jiffies()
    t0 = time.perf_counter()
    spark = _start_spark(work)
    session_s = time.perf_counter() - t0
    try:
        conf0 = layers.sql_conf(spark)
        env = stats.environment(spark)
        cores = spark.sparkContext.defaultParallelism
        ctx = Ctx(
            spark=spark, tracer=Tracer(spark, bool(a.trace)), seed=a.seed,
            seconds=a.seconds, work=work, cores=cores, session_s=session_s,
            jvm_pid=_jvm_pid(),
            sf=a.sf if a.sf is not None else DEFAULT_SF,
        )
        res = WORKLOADS[a.workload].run(ctx)
        rss = {"python": stats.rss_hwm_mb(os.getpid()), "jvm": stats.rss_hwm_mb(ctx.jvm_pid)}
        peak = sum(rss.values())
        rec = res["rec"]
        if a.trace:
            m = {name: 0.0 for name in layers.UNITS}
            m.update(res.get("layers", {}))
            m.update(layers.session(spark, conf0))
            m["run.failed_frac"] = rec.failed / max(rec.attempted, 1)
            m["trace.op_p50_ms"] = stats.percentile(res["lat_ms"], 50)
            metrics = {k: {"value": float(v), "unit": layers.UNITS[k]} for k, v in m.items()}
        else:
            e2e = end_to_end(res, session_s, peak)
            metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in e2e.items()}
        env["steal_pct"] = stats.steal_pct(jif0, stats.cpu_jiffies())
        env["loadavg_end"] = os.getloadavg()[0]
        detail = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "sf": ctx.sf, "environment": env,
            "session_s": session_s, "load_repeats_s": res["loads"],
            "warmup_s": res["warmup_s"], "op_p50_ms": stats.percentile(res["lat_ms"], 50),
            "peak_rss_mb": rss, "jit_cpu_s": stats.jit_cpu_s(ctx.jvm_pid),
            "latency": latency_detail(rec),
            "errors": rec.errors, **ctx.detail,
        }
        print(json.dumps(detail, default=str), file=sys.stderr)
        if a.trace:
            out_dir = os.path.join(ROOT, ".perfbench_out", f"{a.workload}-{a.seed}")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, "result.json"), "w") as f:
                json.dump({"detail": detail, "metrics": metrics}, f, indent=1, default=str)
            ctx.tracer.dump(os.path.join(out_dir, "spans.jsonl"))
    finally:
        _stop_spark(spark)
    result = {
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": metrics,
    }
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


if __name__ == "__main__":
    sys.exit(main())
