"""The read side of the serving workload: parameterized Cypher reads
sent to ``CypherEngine(tpch_graph(...))``.

The stream repeats a fixed 12-op block of templates with Zipf-skewed
customer anchors.  Each block repeats two reads (plan-cache hits); every
other read is a new (template, anchor) pair (misses), drawn from far
more pairs than the engine's 1024-entry plan cache holds.  Each distinct
pair is checked against a DuckDB oracle after the measured window, so
oracle time is outside op latency, set-up time and the window's CPU
reading.
"""

from __future__ import annotations

import os

from perfbench import gen
from perfbench.harness import Ctx, Recorder, check, run_query
from perfbench.oracle import Oracle

MAX_BLOCKS = 30


def _params(op: gen.ReadOp, vecs) -> dict:
    if op.template == "knn":
        return {"q": [float(x) for x in vecs[op.anchor]]}
    return {"id": gen.ID_BASE["Customer"] + op.anchor}


class Reads:
    """Generated TPC-H tables, their oracle and the read stream; one
    engine over the tables, replaced by each ``load``."""

    def __init__(self, ctx: Ctx, rec: Recorder, warm_blocks: int):
        self.ctx, self.rec = ctx, rec
        self.data = os.path.join(ctx.work, "tpch")
        self.sizes = gen.write_tpch(self.data, ctx.seed, ctx.sf)
        self.vecs, _ = gen.embeddings(ctx.seed, self.sizes.embeddings)
        self.oracle = Oracle(self.data)
        self.warm, self.ops = gen.read_stream(
            ctx.seed, self.sizes.customers, self.sizes.embeddings, MAX_BLOCKS, warm_blocks)
        self.engine = None
        self.measured: list[int] = []  # op ids of the measured reads
        self.done: list[tuple[gen.ReadOp, tuple | None]] = []
        self.warm_done: list[tuple[gen.ReadOp, tuple]] = []

    def _one(self, op: gen.ReadOp, cls: str, measured: bool):
        """Run one read -> (df, ms, rows), or None when it raised."""
        tr = self.ctx.tracer
        opid = tr.new_op()
        if measured:
            self.measured.append(opid)
        try:
            df, rows, ms = run_query(self.ctx, self.engine.query,
                                     gen.READ_TEMPLATES[op.template],
                                     _params(op, self.vecs), opid, op.template)
        except Exception as e:  # noqa: BLE001 — counted, never retried
            self.rec.add(cls, None, False, f"{op}: {type(e).__name__}: {e}")
            return None
        finally:
            tr.settle()
        if op.template == "knn":
            rows = [(r["nodeId"], r["score"]) for r in rows]
        else:
            rows = [tuple(r) for r in rows]
        return df, ms, rows

    def _warm(self, op: gen.ReadOp) -> None:
        """A set-up read, checked with the measured ones."""
        out = self._one(op, "warmup", False)
        if out:
            self.warm_done.append((op, out))

    def load(self, r: int) -> None:
        """A fresh graph load under a new path (so no loader or
        file-listing cache carries over), probed with one point read."""
        from samyama_graph_spark.cypher.engine import CypherEngine
        from samyama_graph_spark.loaders import tpch_graph

        alias = f"{self.data}_r{r}"
        os.symlink(self.data, alias)
        self.engine = CypherEngine(tpch_graph(self.ctx.spark, alias))
        self._warm(self.warm[0])

    def warmup(self) -> None:
        """The warm-up blocks, anchors disjoint from the measured ones."""
        for op in self.warm:
            self._warm(op)

    def block(self) -> int:
        """Run the next measured block; returns its op count."""
        n = len(gen.READ_BLOCK)
        for op in self.ops[len(self.done):len(self.done) + n]:
            self.done.append((op, self._one(op, op.template, True)))
        return n

    def check(self) -> list[bool]:
        """Check every measured read against the oracle; returns, per
        read, whether its frame is one an earlier read returned."""
        for op, (_, ms, rows) in self.warm_done:
            check(self.rec, "warmup", ms, rows, self.oracle.read(op.template, op.anchor))
        seen: dict[int, object] = {}  # frames held, so an id is never reused
        reuse: list[bool] = []
        for op, out in self.done:
            if out is None:
                continue
            df, ms, rows = out
            check(self.rec, op.template, ms, rows, self.oracle.read(op.template, op.anchor))
            reuse.append(id(df) in seen)
            seen[id(df)] = df
        d = self.ctx.detail
        d["distinct_pairs"] = len({(o.template, o.anchor) for o, _ in self.done})
        d["sizes"] = vars(self.sizes)
        d["sequence_ms"] = [(op.template, round(out[1], 1)) for op, out in self.done if out]
        return reuse
