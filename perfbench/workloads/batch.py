"""batch_analytics: one client runs a fixed pass of graph algorithms
over ``tpch_graph`` and curation operators over the document and
embedding tables, pass after pass, for the run's duration.  Its ops are
the steps of a pass.  A warm-up pass with another bfs/sssp source and
IVF query row comes first, so the window does not start with the JVM's
first, slowest pass over this code.

Each step calls one public entry point of ``samyama_graph_spark
.algorithms`` or ``samyama_graph_spark.datapipe`` and writes its output
as parquet (the action).  The output is compared in DuckDB against the
REGISTRY oracle SQL where the step is configured as that entry, and
against a parameterized oracle otherwise (bfs, sssp and IVF k-NN take
seeded sources and query vectors).  Oracle time is outside step time.
"""

from __future__ import annotations

import os
import time

from perfbench import gen, layers, stats
from perfbench.harness import Ctx, Recorder, program_cpu_s
from perfbench.oracle import Oracle, materialized

LOAD_REPEATS = 3
WARM_PASSES = 1
MIN_PASSES = 2
COUNT_PASSES = 1  # counters cover the first pass

C, O, P, S = (gen.ID_BASE[k] for k in ("Customer", "Order", "Part", "Supplier"))
# steps configured exactly as these REGISTRY entries, checked by their oracle SQL
REGISTRY_ORACLES = (
    "pagerank_top20", "wcc_placed_components", "cdlp_communities", "dedup_exact",
    "minhash_lsh_dedup", "simhash_dedup", "embedding_kmeans",
)
IVF_C, IVF_PROBE = 16, 4

BFS_SQL = """
WITH d1 AS (SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_custkey = $k),
d2 AS (SELECT DISTINCT l_partkey AS k FROM lineitem WHERE l_orderkey IN (SELECT k FROM d1)),
d3 AS (SELECT DISTINCT l_suppkey AS k FROM lineitem WHERE l_partkey IN (SELECT k FROM d2))
SELECT 0 AS depth, CAST(1 AS BIGINT) AS n
UNION ALL SELECT 1, count(*) FROM d1
UNION ALL SELECT 2, count(*) FROM d2
UNION ALL SELECT 3, count(*) FROM d3
"""
SSSP_SQL = f"""
WITH d1 AS (SELECT o_orderkey + {O} AS id, 1.0 AS dist FROM orders WHERE o_custkey = $k),
d2 AS (SELECT l_partkey + {P} AS id, min(d1.dist + l_quantity) AS dist
       FROM lineitem JOIN d1 ON l_orderkey + {O} = d1.id GROUP BY l_partkey),
d3 AS (SELECT l_suppkey + {S} AS id, min(d2.dist + l_quantity) AS dist
       FROM lineitem JOIN d2 ON l_partkey + {P} = d2.id GROUP BY l_suppkey),
u AS (SELECT {C} + $k AS id, 0.0 AS dist UNION ALL SELECT * FROM d1
      UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3)
SELECT id, min(dist) AS dist FROM u GROUP BY id
"""
IVF_SQL = f"""
WITH cents AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings WHERE vec_id < {IVF_C}),
ee AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
dots AS (SELECT vec_id, cid, list_cosine_similarity(v, cv) AS s FROM ee, cents),
assign AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, row_number() OVER
           (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM dots) WHERE rn = 1),
probe AS (SELECT cid FROM dots WHERE vec_id = $k ORDER BY s DESC, cid LIMIT {IVF_PROBE}),
q AS (SELECT v AS qv FROM ee WHERE vec_id = $k)
SELECT e.vec_id AS id, round(list_cosine_similarity(e.v, q.qv), 6) AS score
FROM ee e JOIN assign a USING (vec_id) JOIN probe p ON a.cid = p.cid, q
ORDER BY list_cosine_similarity(e.v, q.qv) DESC, id LIMIT 10
"""


def _steps(spark, data: str, cores: int, vecs):
    """Load the inputs; return the pass as (layer, name, builder,
    oracle) rows and a probe of the loaded tables.  Both a builder and
    an oracle take the pass's parameters (``gen.batch_params``); a
    builder returns the DataFrame its step writes, an oracle a REGISTRY
    entry name or (sql, params)."""
    from pyspark.sql import functions as F

    from samyama_graph_spark import algorithms as A
    from samyama_graph_spark import datapipe as D
    from samyama_graph_spark.loaders import load_tables, tpch_graph

    g = tpch_graph(spark, data)
    t = load_tables(spark, data, ["documents", "embeddings"])
    # the corpus tables are one row group each; fan the scan out the
    # way the REGISTRY entries' loader does
    docs, embs = (
        df.repartition(cores) if df.rdd.getNumPartitions() < cores else df
        for df in (t["documents"], t["embeddings"])
    )

    def edges(*typed):
        """Union of (src, dst[, weight]) over (edge type, weight) pairs;
        weight None leaves the column out."""
        out = None
        for t, w in typed:
            df = g.edge_df(t).select("src", "dst", *([w.alias("weight")] if w is not None else []))
            out = df if out is None else out.unionByName(df)
        return out

    def rank_edges():
        return edges(("PLACED", None), ("IN_NATION", None), ("IN_REGION", None))

    def path_edges(weighted: bool):
        q = F.col("quantity") if weighted else None
        return edges(("PLACED", F.lit(1.0) if weighted else None),
                     ("CONTAINS", q), ("SUPPLIED_BY", q))

    def pagerank(_):
        ranks = A.pagerank(rank_edges(), iterations=5, damping=0.85)
        n = ranks.count()
        return (ranks.select("id", F.round(F.col("rank") * F.lit(float(n)), 6)
                             .alias("rank_scaled"))
                .orderBy(F.desc("rank_scaled"), F.asc("id")).limit(20))

    def bfs(p):
        r = A.bfs(path_edges(False), C + p["source"], max_depth=3)
        return r.groupBy(F.col("depth").cast("int").alias("depth")).agg(
            F.count(F.lit(1)).cast("long").alias("n"))

    def ivf(p):
        cents = [[float(x) for x in v] for v in vecs[:IVF_C]]
        out = D.knn_ivf(embs, "embedding", "vec_id", [float(x) for x in vecs[p["query_row"]]],
                        cents, k=10, nprobe=IVF_PROBE)
        return out.select("id", F.round("score", 6).alias("score"))

    def probe():
        return g.count_nodes("Customer"), t["documents"].count()

    def entry(name: str):
        return lambda _: name

    def sql(text: str, key: str):
        return lambda p: (text, {"k": p[key]})

    return [
        ("algorithms", "pagerank", pagerank, entry("pagerank_top20")),
        ("algorithms", "wcc", lambda _: A.wcc(g.edge_df("PLACED").select("src", "dst"))
         .groupBy("component").agg(F.count(F.lit(1)).alias("n")),
         entry("wcc_placed_components")),
        ("algorithms", "cdlp", lambda _: A.cdlp(rank_edges(), iterations=3).select(
            F.col("id").alias("nodeId"), "label"), entry("cdlp_communities")),
        ("algorithms", "bfs", bfs, sql(BFS_SQL, "source")),
        ("algorithms", "sssp", lambda p: A.sssp(path_edges(True), C + p["source"],
                                                max_rounds=8), sql(SSSP_SQL, "source")),
        ("datapipe", "exact_dedup", lambda _: D.exact_dedup(docs, "text", "doc_id"),
         entry("dedup_exact")),
        ("datapipe", "minhash", lambda _: D.minhash_lsh_pairs(
            docs, "text", "doc_id", k=3, num_hashes=8, bands=4, threshold=0.5)
         .select("x", "y", F.round("jacc", 6).alias("jacc")), entry("minhash_lsh_dedup")),
        ("datapipe", "simhash", lambda _: D.simhash_dup_stats(
            docs, "text", "doc_id", max_hamming=6, chunks=4), entry("simhash_dedup")),
        ("datapipe", "kmeans", lambda _: D.kmeans(
            embs, "embedding", "vec_id", k=8, iters=1, centroid_mode="vectorized"),
         entry("embedding_kmeans")),
        ("datapipe", "knn_ivf", ivf, sql(IVF_SQL, "query_row")),
    ], probe


class _Checker:
    """Compares a step's parquet output with its oracle in DuckDB:
    same multiset of rows, columns matched by name, doubles to 6
    decimals.  Oracle results are computed once per step."""

    def __init__(self, oracle: Oracle):
        from samyama_graph_spark.workloads import load_all_workloads

        self.o = oracle
        self.registry = load_all_workloads()
        self.tables: dict[str, str] = {}

    def mismatches(self, name: str, spec, out_dir: str) -> int:
        """Rows in one side and not the other; -1 when columns differ."""
        con = self.o.con
        if name not in self.tables:
            sql, params = (
                (materialized(self.registry[spec].oracle), {}) if isinstance(spec, str) else spec
            )
            con.execute(f"CREATE TEMP TABLE want_{name} AS {sql}", params)
            self.tables[name] = f"want_{name}"
        got, want = f"read_parquet('{out_dir}/*.parquet')", self.tables[name]

        def types(src: str) -> dict[str, str]:
            return {r[0].lower(): r[1] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()}

        got_t, want_t = types(got), types(want)
        if sorted(got_t) != sorted(want_t):
            return -1

        def norm(src: str, t: dict[str, str]) -> str:
            def col(c: str) -> str:
                if t[c] in ("DOUBLE", "FLOAT"):
                    return f"round(CAST({c} AS DOUBLE), 6) AS {c}"
                if t[c].endswith("INT"):
                    return f"CAST({c} AS BIGINT) AS {c}"
                return c

            return f"SELECT {', '.join(col(c) for c in sorted(t))} FROM {src}"

        a, b = norm(got, got_t), norm(want, want_t)
        return con.execute(
            f"SELECT (SELECT count(*) FROM ({a} EXCEPT ALL {b})) + "
            f"(SELECT count(*) FROM ({b} EXCEPT ALL {a}))"
        ).fetchone()[0]


def _pass(ctx: Ctx, steps, params: dict, rec: Recorder, out_root: str,
          measured: list[int] | None, cls_prefix: str = "") -> dict[str, tuple[float, str]]:
    """Run every step once with ``params`` -> {name: (seconds, output
    dir)}; a step that raises is recorded as failed and left out."""
    tr = ctx.tracer
    done: dict[str, tuple[float, str]] = {}
    for layer, name, build, _ in steps:
        opid = tr.new_op()
        if measured is not None:
            measured.append(opid)
        out_dir = os.path.join(out_root, name)
        t0 = time.perf_counter()
        try:
            with tr.span(f"{layer}.{name}", opid, kind=name):
                with tr.span(f"{layer}.call", opid, group="build"):
                    df = build(params)
                with tr.span("exec.write", opid, group="exec", phase="exec"):
                    df.write.mode("overwrite").parquet(out_dir)
        except Exception as e:  # noqa: BLE001 — counted, never retried
            rec.add(cls_prefix + name, None, False, f"{name}: {type(e).__name__}: {e}")
            continue
        finally:
            tr.settle()
        done[name] = (time.perf_counter() - t0, out_dir)
    return done


def run(ctx: Ctx) -> dict:
    data = os.path.join(ctx.work, "tpch")
    sizes = gen.write_tpch(data, ctx.seed, ctx.sf)
    vecs, _ = gen.embeddings(ctx.seed, sizes.embeddings)
    warm_params, params = gen.batch_params(ctx.seed, sizes)
    ctx.detail["batch_params"] = params
    rec = Recorder()
    checker = _Checker(Oracle(data))
    out_root = os.path.join(ctx.work, "out")

    # set-up: three fresh loads of the tables and graph (a new path
    # each time, so no loader or file-listing cache carries over), each
    # probed with two counts; then WARM_PASSES passes with the warm-up
    # source and query row (the first pass runs up to 40% slower while
    # the JVM compiles)
    loads = []
    for rep in range(LOAD_REPEATS):
        t0 = time.perf_counter()
        alias = f"{data}_r{rep}"
        os.symlink(data, alias)
        steps, probe = _steps(ctx.spark, alias, ctx.cores, vecs)
        ok = probe() == (sizes.customers, sizes.documents)
        rec.add("warmup:probe", None, ok, "" if ok else "load probe counts differ")
        loads.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    for w in range(WARM_PASSES):
        for name, (sec, _) in _pass(ctx, steps, warm_params, rec,
                                    os.path.join(out_root, f"warm{w}"), None, "warmup:").items():
            rec.add("warmup:" + name, sec * 1000.0, True)
    warmup_s = time.perf_counter() - t0

    # measured window: whole passes until --seconds, at least
    # MIN_PASSES; outputs are checked after it
    passes: list[dict[str, tuple[float, str]]] = []
    cpu: list[float] = []  # CPU seconds per pass
    measured: list[int] = []
    t_start = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_start < ctx.seconds:
        cpu0 = program_cpu_s(ctx)
        passes.append(_pass(ctx, steps, params, rec,
                            os.path.join(out_root, f"p{len(passes)}"), measured))
        cpu.append(program_cpu_s(ctx) - cpu0)
    for p in passes:
        for _, name, _, spec in steps:
            if name in p:
                sec, out_dir = p[name]
                bad = checker.mismatches(name, spec(params), out_dir)
                why = "columns differ" if bad < 0 else f"{bad} rows differ"
                rec.add(name, sec * 1000.0, bad == 0, f"{name}: {why} from the oracle")
    # the client's op is one step (one algorithm or curation call)
    names = [s[1] for s in steps]
    out = {
        "rec": rec,
        "loads": loads,
        "warmup_s": warmup_s,
        "lat_ms": rec.all(*names),
        "cpu_ms_per_op": stats.median([c * 1000.0 / len(steps) for c in cpu]),
    }
    ctx.detail["passes"] = len(passes)
    ctx.detail["sizes"] = vars(sizes)
    ctx.detail["pass_step_s"] = [{k: round(v[0], 3) for k, v in p.items()} for p in passes]
    ctx.detail["pass_cpu_s"] = cpu
    if ctx.tracer.enabled:
        m = layers.from_spans(ctx, measured, measured[: COUNT_PASSES * len(steps)])
        med = {}
        for layer, name, *_ in steps:
            v = [p[name][0] for p in passes if name in p]
            med[name] = m[f"{layer}.{name}_s"] = stats.median(v) if v else 0.0
        # the halves of a pass: every algorithm, then every curation step
        m["batch.algo_s"] = sum(med[s[1]] for s in steps if s[0] == "algorithms")
        m["batch.curation_s"] = sum(med[s[1]] for s in steps if s[0] == "datapipe")
        out["layers"] = m
    return out
