"""The tenant side of the serving workload: reads, writes and saves on
the tenants of one ``TenantCatalog``.

Each tenant starts from a seeded Person/KNOWS graph laid out under the
run's warehouse root.  A tenant's stream is blocks of four reads
(lookup, friend count, friends-of-friends count, city aggregate) and
four writes (CREATE, MERGE edge, SET, DETACH DELETE or a second MERGE),
with a ``save`` every ``gen.SAVE_EVERY_BLOCKS`` blocks.  Every read is
checked against the benchmark's own model of the writes issued so far;
every write against the counters the model predicts.  After the run a
fresh catalog over the same root must reproduce each tenant's model as
of its last save.
"""

from __future__ import annotations

import os
import time

from perfbench import gen, stats
from perfbench.harness import Ctx, Recorder, check, run_query
from perfbench.oracle import same_rows

TENANTS = ("t0", "t1")
WARM = "warm"  # set-up tenant; its names are disjoint from the measured tenants'
PEOPLE = 300
MAX_BLOCKS = 100
SUMMARY = ("nodes_created", "edges_created", "properties_set", "nodes_deleted")


def _expected_summary(op: gen.TenantOp, m: gen.Model) -> list[tuple]:
    k = op.kind
    return [(
        int(k == "create"),
        int(k == "merge_edge" and (op.args["a"], op.args["b"]) not in m.knows),
        int(k == "set"),
        int(k == "delete"),
    )]


class Tenants:
    """Generated tenant graphs and streams, the benchmark's model of
    each tenant, and one catalog, replaced by each ``load``."""

    def __init__(self, ctx: Ctx, rec: Recorder, warm_blocks: int):
        self.ctx, self.rec = ctx, rec
        self.starts = {t: gen.tenant_graph(ctx.seed, t, PEOPLE) for t in TENANTS}
        self.streams = {t: gen.tenant_stream(ctx.seed, t, self.starts[t], MAX_BLOCKS)
                        for t in TENANTS}
        ctx.detail["stream_sha256"] = gen.fingerprint([self.streams[t] for t in TENANTS])
        self.warm_start = gen.tenant_graph(ctx.seed, WARM, 40)
        self.warm = gen.tenant_stream(ctx.seed, WARM, self.warm_start, warm_blocks)
        self.models = {t: self.starts[t].copy() for t in TENANTS}
        self.blocks = {t: 0 for t in TENANTS}
        self.measured: list[int] = []  # op ids of the measured ops
        self.root = ""
        self.cat = None

    def _one(self, tenant: str, op: gen.TenantOp, model: gen.Model, cls_prefix: str,
             measured: bool) -> None:
        """Run one op, check it, advance ``model`` for writes."""
        tr, rec = self.ctx.tracer, self.rec
        opid = tr.new_op()
        if measured:
            self.measured.append(opid)
        cls = f"{cls_prefix}{op.kind}"
        try:
            if op.kind == "save":
                t0 = time.perf_counter()
                with tr.span("op", opid, kind="save"), \
                        tr.span("tenancy.save", opid, group="save"):
                    self.cat.save(tenant)
                rec.add(cls, (time.perf_counter() - t0) * 1000.0, True)
                return
            is_write = op.kind in gen.TENANT_WRITES
            text = (gen.TENANT_WRITES if is_write else gen.TENANT_READS)[op.kind]
            want = _expected_summary(op, model) if is_write else model.read(
                op.kind, next(iter(op.args.values())))
            _, rows, ms = run_query(self.ctx, lambda q, p: self.cat.query(tenant, q, p),
                                    text, op.args, opid, cls, write=is_write)
            rows = [tuple(r[c] for c in SUMMARY) if is_write else tuple(r) for r in rows]
        except Exception as e:  # noqa: BLE001 — counted, never retried
            rec.add(cls, None, False, f"{tenant} {op.kind} {op.args}: {type(e).__name__}: {e}")
            if op.kind in gen.TENANT_WRITES:
                model.apply(op)  # the stream assumes it; later reads will say
            return
        finally:
            tr.settle()
        check(rec, cls, ms, sorted(rows, key=repr) if not is_write else rows, want)
        if is_write:
            model.apply(op)

    def load(self, r: int) -> None:
        """A fresh warehouse root opened by a new catalog that loads
        every tenant and probes it."""
        self.root = os.path.join(self.ctx.work, f"warehouse_r{r}")
        for t, m in [*self.starts.items(), (WARM, self.warm_start)]:
            gen.write_tenant(self.root, t, m)
        from samyama_graph_spark.tenancy import TenantCatalog

        self.cat = TenantCatalog(self.ctx.spark, self.root)
        for t in TENANTS:
            n = self.cat.query(t, "MATCH (p:Person) RETURN count(p) AS n").collect()[0][0]
            want = len(self.starts[t].people)
            self.rec.add("warmup:probe", None, n == want, f"{t}: {n} people")

    def warmup(self) -> None:
        """The warm-up blocks, saves included, on the set-up tenant."""
        m = self.warm_start.copy()
        for block in self.warm:
            for op in block:
                self._one(WARM, op, m, "warmup:", False)

    def block(self, tenant: str) -> int:
        """Run ``tenant``'s next block; returns its op count."""
        ops = self.streams[tenant][self.blocks[tenant]]
        for op in ops:
            self._one(tenant, op, self.models[tenant], "", True)
        self.blocks[tenant] += 1
        return len(ops)

    def durability(self) -> tuple[list[float], list[float]]:
        """A fresh catalog over the same root must hold each tenant's
        model as of its last save -> (reload seconds, on-disk bytes per
        live row), per tenant."""
        from samyama_graph_spark.tenancy import TenantCatalog

        reload_s, bytes_rows = [], []
        fresh = TenantCatalog(self.ctx.spark, self.root)
        for t in TENANTS:
            b = self.blocks[t]
            saved = b - b % gen.SAVE_EVERY_BLOCKS
            want = gen.replay(self.starts[t], self.streams[t][:saved])
            t0 = time.perf_counter()
            people = fresh.query(
                t, "MATCH (p:Person) RETURN p.name AS n, p.age AS a, p.city AS c").collect()
            knows = fresh.query(
                t, "MATCH (a:Person)-[:KNOWS]->(b:Person) RETURN a.name AS x, b.name AS y"
            ).collect()
            reload_s.append(time.perf_counter() - t0)
            got = sorted((r["n"], r["a"], r["c"]) for r in people)
            ok = same_rows(got, sorted((n, a, c) for n, (a, c) in want.people.items())) \
                and sorted((r["x"], r["y"]) for r in knows) == sorted(want.knows)
            self.rec.add("durability", None, ok, "" if ok else f"{t}: reload differs from model")
            size = sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(os.path.join(self.root, t)) for f in fs
            )
            bytes_rows.append(size / max(len(people) + len(knows), 1))
        self.ctx.detail["blocks_per_tenant"] = dict(self.blocks)
        return reload_s, bytes_rows

    def layers(self, reload_s: list[float], bytes_rows: list[float]) -> dict:
        """Tenant-side per-layer metrics other than the span totals;
        the lists are what ``durability`` returned."""
        rec = self.rec
        ops = set(self.measured)
        saves = [s.ms / 1000.0 for s in self.ctx.tracer.by_name("tenancy.save") if s.op in ops]
        return {
            "tenant.read_p50_ms": stats.percentile(rec.all(*gen.TENANT_READS), 50),
            "tenant.write_p50_ms": stats.percentile(rec.all(*gen.TENANT_WRITES), 50),
            "tenancy.save_s": stats.median(saves) if saves else 0.0,
            "tenancy.reload_s": stats.median(reload_s),
            "tenancy.bytes_per_row": stats.median(bytes_rows),
        }
