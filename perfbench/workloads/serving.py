"""serving: one closed-loop client alternates Cypher reads on the TPC-H
graph with reads, writes and saves on the tenants of one
``TenantCatalog``, all in one session.

A round is one 12-read block on ``CypherEngine(tpch_graph(...))``
(``interactive.Reads``) followed by one block of each tenant in turn
(``tenant.Tenants``: four reads, four writes, a save).  The run
repeats whole rounds until ``--seconds`` have passed, at least one.
Reads are checked against DuckDB after the window, tenant ops against
the benchmark's write model as they complete, and a fresh catalog must
reproduce each tenant as of its last save.
"""

from __future__ import annotations

import time

from perfbench import gen, layers, stats
from perfbench.harness import Ctx, Recorder, program_cpu_s
from perfbench.workloads.interactive import Reads
from perfbench.workloads.tenant import TENANTS, Tenants

LOAD_REPEATS = 3
WARM_ROUNDS = 1
COUNT_ROUNDS = 1  # the counter window: the first round


def run(ctx: Ctx) -> dict:
    rec = Recorder()
    reads = Reads(ctx, rec, WARM_ROUNDS)
    tenants = Tenants(ctx, rec, WARM_ROUNDS)

    # set-up: three fresh loads of the graph and the tenants, each
    # probed; then the warm-up rounds, on anchors and a tenant disjoint
    # from the measured ones
    loads = []
    for r in range(LOAD_REPEATS):
        t0 = time.perf_counter()
        reads.load(r)
        tenants.load(r)
        loads.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    reads.warmup()
    tenants.warmup()
    warmup_s = time.perf_counter() - t0

    # measured window: whole rounds until --seconds, at least one
    rounds: list[tuple[int, float]] = []  # (ops, CPU seconds) per round
    window: list[int] = []
    t_start = time.perf_counter()
    while not rounds or time.perf_counter() - t_start < ctx.seconds:
        first = len(reads.measured), len(tenants.measured)
        cpu0 = program_cpu_s(ctx)
        n = reads.block() + sum(tenants.block(t) for t in TENANTS)
        rounds.append((n, program_cpu_s(ctx) - cpu0))
        if len(rounds) <= COUNT_ROUNDS:
            window += reads.measured[first[0]:] + tenants.measured[first[1]:]

    t0 = time.perf_counter()
    ctx.detail["window_s"] = t0 - t_start
    reuse = reads.check()
    reload_s, bytes_rows = tenants.durability()
    ctx.detail["check_s"] = time.perf_counter() - t0
    ctx.detail["rounds"] = len(rounds)
    out = {
        "rec": rec,
        "loads": loads,
        "warmup_s": warmup_s,
        "lat_ms": rec.all(*gen.READ_TEMPLATES, *gen.TENANT_READS, *gen.TENANT_WRITES),
        "cpu_ms_per_op": stats.median([c * 1000.0 / n for n, c in rounds]),
    }
    if ctx.tracer.enabled:
        m = layers.reads(ctx, reads.measured + tenants.measured, window, reuse)
        m.update(tenants.layers(reload_s, bytes_rows))
        out["layers"] = m
    return out
