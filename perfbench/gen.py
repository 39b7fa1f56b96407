"""Seeded input generators for the benchmark.

Everything the engine receives is made here from ``--seed``: the
TPC-H-shaped tables behind ``tpch_graph`` (plus the document and
embedding tables the vector and curation paths read), the per-tenant
Person/KNOWS social graphs, and the op streams.  One seed gives
byte-identical parquet files and op streams; the engine never sees a
file this module did not write.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Reserved for validating later performance claims: never tune against it.
HELD_OUT_SEED = 7919

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PWORDS = ["small", "red", "ring", "widget", "steel", "blue", "bolt", "gear"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "fr", "es", "zh"]
VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark "
    "the line sort window data column join small customer query big "
    "stream group order filter a"
).split()
CITIES = ["Pune", "Oslo", "Lima", "Kyiv", "Cairo", "Quito", "Hanoi", "Perth"]
EMB_DIM = 64
EMB_LABELS = 10
# the global node-id offset of each label in tpch_graph (FIXTURES.md F5)
ID_BASE = {
    "Customer": 3_000_000_000, "Supplier": 4_000_000_000, "Part": 5_000_000_000,
    "Order": 6_000_000_000, "Document": 7_000_000_000,
}


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named stream, so adding a stream never
    shifts the values another stream draws."""
    h = hashlib.sha256(f"{seed}/{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path, compression="snappy")


def _dates(r: np.random.Generator, n: int) -> np.ndarray:
    start = np.datetime64("1992-01-01", "D")
    return (start + r.integers(0, 3650, n)).astype("datetime64[us]")


# ------------------------------------------------------------------ TPC-H


@dataclass
class TpchSizes:
    customers: int
    suppliers: int
    parts: int
    orders: int
    lineitems_per_order: int = 4
    documents: int = 0
    embeddings: int = 0

    @classmethod
    def at(cls, sf: float) -> "TpchSizes":
        return cls(
            customers=max(50, int(150_000 * sf)),
            suppliers=max(10, int(10_000 * sf)),
            parts=max(50, int(200_000 * sf)),
            orders=max(200, int(1_500_000 * sf)),
            documents=max(200, int(50_000 * sf)),
            embeddings=max(200, int(20_000 * sf)),
        )


def write_tpch(out_dir: str, seed: int, sf: float) -> TpchSizes:
    """Write the star schema ``tpch_graph`` projects, plus documents
    and embeddings.  Returns the sizes written."""
    os.makedirs(out_dir, exist_ok=True)
    z = TpchSizes.at(sf)
    r = _rng(seed, "tpch")
    p = lambda name: os.path.join(out_dir, f"{name}.parquet")  # noqa: E731

    _write(p("region"), {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(p("nation"), {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = np.arange(z.customers, dtype=np.int64)
    _write(p("customer"), {
        "c_custkey": c,
        "c_name": [f"Customer#{i:09d}" for i in c],
        "c_nationkey": r.integers(0, 25, z.customers).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999, 9999, z.customers), 2),
        "c_mktsegment": r.choice(SEGMENTS, z.customers),
    })
    s = np.arange(z.suppliers, dtype=np.int64)
    _write(p("supplier"), {
        "s_suppkey": s,
        "s_name": [f"Supplier#{i:09d}" for i in s],
        "s_nationkey": r.integers(0, 25, z.suppliers).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999, 9999, z.suppliers), 2),
    })
    pk = np.arange(z.parts, dtype=np.int64)
    w = r.choice(PWORDS, (z.parts, 2))
    _write(p("part"), {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in w],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, z.parts)],
        "p_type": r.choice(PTYPES, z.parts),
        "p_size": r.integers(1, 51, z.parts).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 2),
    })
    ok = np.arange(z.orders, dtype=np.int64)
    _write(p("orders"), {
        "o_orderkey": ok,
        "o_custkey": r.integers(0, z.customers, z.orders).astype(np.int64),
        "o_orderstatus": r.choice(["F", "O", "P"], z.orders),
        "o_totalprice": np.round(r.uniform(1000, 500_000, z.orders), 2),
        "o_orderdate": _dates(r, z.orders),
        "o_orderpriority": r.choice(PRIORITIES, z.orders),
    })
    n_li = r.integers(1, 2 * z.lineitems_per_order, z.orders)
    l_order = np.repeat(ok, n_li)
    lines = np.concatenate([np.arange(1, k + 1) for k in n_li]).astype(np.int32)
    n = len(l_order)
    qty = r.integers(1, 51, n).astype(np.float64)
    _write(p("lineitem"), {
        "l_orderkey": l_order,
        "l_partkey": r.integers(0, z.parts, n).astype(np.int64),
        "l_suppkey": r.integers(0, z.suppliers, n).astype(np.int64),
        "l_linenumber": lines,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2000, n), 2),
        "l_discount": np.round(r.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": r.choice(["A", "N", "R"], n),
        "l_linestatus": r.choice(["F", "O"], n),
        "l_shipdate": _dates(r, n),
    })
    texts = documents(seed, z.documents)
    _write(p("documents"), {
        "doc_id": np.arange(z.documents, dtype=np.int64),
        "text": texts,
        "lang": r.choice(LANGS, z.documents),
        "source": [f"src{i % 7}" for i in range(z.documents)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs, labels = embeddings(seed, z.embeddings)
    _write(p("embeddings"), {
        "vec_id": np.arange(z.embeddings, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return z


def batch_params(seed: int, sizes: TpchSizes) -> tuple[dict, dict]:
    """(warm-up, measured) bfs/sssp source customer and IVF query row;
    the warm-up pair differs from the measured one in both."""
    r = _rng(seed, "batch")
    measured = {
        "source": int(r.integers(0, sizes.customers)),
        "query_row": int(r.integers(0, sizes.embeddings)),
    }
    warm = {
        "source": (measured["source"] + 1 + int(r.integers(0, sizes.customers - 1)))
        % sizes.customers,
        "query_row": (measured["query_row"] + 1 + int(r.integers(0, sizes.embeddings - 1)))
        % sizes.embeddings,
    }
    return warm, measured


def documents(seed: int, n: int) -> list[str]:
    """Fresh texts plus exact copies (~6%) and near copies (~12%, a few
    words replaced) of earlier texts, so every dedup operator has
    duplicates to find."""
    r = _rng(seed, "documents")
    out: list[str] = []
    for i in range(n):
        u = r.random()
        if i > 10 and u < 0.06:
            out.append(out[int(r.integers(0, i))])
        elif i > 10 and u < 0.18:
            words = out[int(r.integers(0, i))].split()
            for j in r.integers(0, len(words), max(1, len(words) // 12)):
                words[j] = VOCAB[int(r.integers(0, len(VOCAB)))]
            out.append(" ".join(words))
        else:
            k = int(r.integers(20, 80))
            out.append(" ".join(VOCAB[j] for j in r.integers(0, len(VOCAB), k)))
    return out


def embeddings(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Clustered float32 vectors: EMB_LABELS centres plus noise."""
    r = _rng(seed, "embeddings")
    centres = r.normal(0, 1, (EMB_LABELS, EMB_DIM))
    labels = r.integers(0, EMB_LABELS, n)
    vecs = centres[labels] + r.normal(0, 0.6, (n, EMB_DIM))
    return vecs.astype(np.float32), labels


# ------------------------------------------------------- interactive reads

READ_TEMPLATES = {
    "point": (
        "MATCH (c:Customer) WHERE id(c) = $id "
        "RETURN c.name AS name, c.acctbal AS acctbal, c.mktsegment AS seg"
    ),
    "expand": (
        "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE id(c) = $id "
        "RETURN id(o) AS oid, o.totalprice AS price "
        "ORDER BY price DESC, oid LIMIT 5"
    ),
    "two_hop": (
        "MATCH (c:Customer)-[:PLACED]->(o:Order)-[r:CONTAINS]->(p:Part) "
        "WHERE id(c) = $id "
        "RETURN count(*) AS n, count(DISTINCT id(p)) AS parts, "
        "sum(r.quantity) AS qty"
    ),
    "var_length": (
        "MATCH (c:Customer)-[:PLACED|CONTAINS*1..2]->(x) WHERE id(c) = $id "
        "RETURN count(x) AS n"
    ),
    "shortest_path": (
        "MATCH p = shortestPath("
        "(c:Customer)-[:IN_NATION|IN_REGION*..3]->(r:Region)) "
        "WHERE id(c) = $id RETURN length(p) AS len, r.name AS region"
    ),
    "knn": "CALL db.index.vector.queryNodes('Document', 'embedding', $q, 5)",
}

# One block of the read stream: every template keeps the same share of
# every run whatever the seed, so seeds vary only the anchors.  Four
# cheap, four middle and four heavy reads put the median inside the
# middle class rather than on a class boundary.
READ_BLOCK = [
    "point", "expand", "two_hop", "point", "expand", "knn",
    "point", "expand", "var_length", "point", "expand", "shortest_path",
]
# The third point and the third expand of a block repeat the block's
# first anchor of that template: one plan-cache hit each per block.  No
# other (template, anchor) pair repeats in a stream, so the hit share,
# which the engine serves several times faster, does not swing with
# the seed.
REPEAT_OF = {6: 0, 7: 1}
ZIPF_S = 1.1
WARMUP_ANCHORS = 16


@dataclass
class ReadOp:
    template: str
    anchor: int  # customer key, or embedding row for knn


def read_stream(seed: int, customers: int, n_embeddings: int, n_blocks: int,
                warm_blocks: int = 1):
    """(warm-up ops, measured ops).  Anchors are drawn Zipf-skewed over
    a seeded permutation of the customers (embedding rows for knn),
    without replacement per template apart from REPEAT_OF; the warm-up,
    ``warm_blocks`` blocks of the same mix, takes its anchors from a
    reserved tail of each permutation, disjoint from them."""
    r = _rng(seed, "reads")

    def zipf(n: int):
        perm = r.permutation(n)
        ranks = np.arange(1, n - WARMUP_ANCHORS + 1, dtype=np.float64)
        cdf = np.cumsum(ranks ** -ZIPF_S)
        return perm[:-WARMUP_ANCHORS], cdf / cdf[-1], perm[-WARMUP_ANCHORS:]

    pools = {"cust": zipf(customers), "emb": zipf(n_embeddings)}
    used: set[tuple[str, int]] = set()
    ops: list[ReadOp] = []
    for _ in range(n_blocks):
        block: list[ReadOp] = []
        for i, t in enumerate(READ_BLOCK):
            if i in REPEAT_OF:
                block.append(ReadOp(t, block[REPEAT_OF[i]].anchor))
                continue
            hot, cdf, _ = pools["emb" if t == "knn" else "cust"]
            while True:
                a = int(hot[np.searchsorted(cdf, r.random())])
                if (t, a) not in used:
                    break
            used.add((t, a))
            block.append(ReadOp(t, a))
        ops.extend(block)
    warmup = [
        ReadOp(t, int(pools["emb" if t == "knn" else "cust"][2][
            (b * len(READ_BLOCK) + REPEAT_OF.get(i, i)) % WARMUP_ANCHORS]))
        for b in range(warm_blocks) for i, t in enumerate(READ_BLOCK)
    ]
    return warmup, ops


# ---------------------------------------------------------- tenant graphs


@dataclass
class Model:
    """The benchmark's own model of a tenant graph: what every read
    must return after the writes issued so far."""

    people: dict[str, tuple[int, str]] = field(default_factory=dict)
    knows: set[tuple[str, str]] = field(default_factory=set)

    def copy(self) -> "Model":
        return Model(dict(self.people), set(self.knows))

    def friends(self, name: str) -> set[str]:
        return {b for a, b in self.knows if a == name}

    def read(self, kind: str, arg: str):
        """The rows read ``kind`` of ``arg`` must return, sorted."""
        if kind == "lookup":
            return [self.people[arg]]
        if kind == "friends":
            return [(len(self.friends(arg)),)]
        if kind == "fof":
            fof = set()
            for m in self.friends(arg):
                fof |= self.friends(m)
            fof.discard(arg)
            return [(len(fof),)]
        if kind == "city":
            ages = [a for a, c in self.people.values() if c == arg]
            return [(len(ages), sum(ages) if ages else None)]
        raise ValueError(kind)

    def apply(self, op: "TenantOp") -> None:
        a = op.args
        if op.kind == "create":
            self.people[a["name"]] = (a["age"], a["city"])
        elif op.kind == "merge_edge":
            self.knows.add((a["a"], a["b"]))
        elif op.kind == "set":
            self.people[a["name"]] = (a["age"], self.people[a["name"]][1])
        elif op.kind == "delete":
            del self.people[a["name"]]
            self.knows = {e for e in self.knows if a["name"] not in e}


TENANT_READS = {
    "lookup": (
        "MATCH (p:Person {name: $name}) RETURN p.age AS age, p.city AS city"
    ),
    "friends": (
        "MATCH (p:Person {name: $name})-[:KNOWS]->(f:Person) "
        "RETURN count(f) AS n"
    ),
    "fof": (
        "MATCH (p:Person {name: $name})-[:KNOWS]->(m:Person)"
        "-[:KNOWS]->(f:Person) WHERE f.name <> $name "
        "RETURN count(DISTINCT f.name) AS n"
    ),
    "city": (
        "MATCH (p:Person) WHERE p.city = $city "
        "RETURN count(p) AS n, sum(p.age) AS total_age"
    ),
}
TENANT_WRITES = {
    "create": "CREATE (p:Person {name: $name, age: $age, city: $city})",
    "merge_edge": (
        "MATCH (a:Person {name: $a}), (b:Person {name: $b}) "
        "MERGE (a)-[:KNOWS]->(b)"
    ),
    "set": "MATCH (p:Person {name: $name}) SET p.age = $age",
    "delete": "MATCH (p:Person {name: $name}) DETACH DELETE p",
}
SAVE_EVERY_BLOCKS = 1


@dataclass
class TenantOp:
    kind: str  # a TENANT_READS / TENANT_WRITES key, or "save"
    args: dict
    expect: list | None = None  # expected rows for reads


def tenant_graph(seed: int, tenant: str, people: int, degree: int = 4) -> Model:
    r = _rng(seed, f"tenant/{tenant}")
    m = Model()
    names = [f"{tenant}_{i}" for i in range(people)]
    for nm in names:
        m.people[nm] = (int(r.integers(18, 80)), CITIES[int(r.integers(0, 8))])
    for i, nm in enumerate(names):
        for j in r.choice(people - 1, degree, replace=False):
            m.knows.add((nm, names[j if j < i else j + 1]))
    return m


def write_tenant(root: str, tenant: str, m: Model) -> None:
    """Lay the tenant out as a warehouse prefix ``TenantCatalog``
    discovers, in the layout ``TenantCatalog.save`` writes: parquet
    directories ``{root}/{tenant}/nodes_Person.parquet/`` and
    ``edges_KNOWS.parquet/``."""
    d = os.path.join(root, tenant)
    names = sorted(m.people)
    ids = {nm: i + 1 for i, nm in enumerate(names)}
    for t in ("nodes_Person.parquet", "edges_KNOWS.parquet"):
        os.makedirs(os.path.join(d, t), exist_ok=True)
    _write(os.path.join(d, "nodes_Person.parquet", "part-0.parquet"), {
        "id": pa.array([ids[n] for n in names], pa.int64()),
        "name": names,
        "age": pa.array([m.people[n][0] for n in names], pa.int64()),
        "city": [m.people[n][1] for n in names],
    })
    edges = sorted(m.knows)
    _write(os.path.join(d, "edges_KNOWS.parquet", "part-0.parquet"), {
        "src": pa.array([ids[a] for a, _ in edges], pa.int64()),
        "dst": pa.array([ids[b] for _, b in edges], pa.int64()),
    })


# One block of a tenant stream: four reads, four writes.  The last
# slot alternates DETACH DELETE with a second MERGE, so a tenant's
# population grows slowly instead of draining.
TENANT_BLOCK = ["lookup", "create", "friends", "merge_edge", "fof", "set", "city", None]


def tenant_stream(seed: int, tenant: str, start: Model, n_blocks: int) -> list[list[TenantOp]]:
    """``n_blocks`` blocks of TENANT_BLOCK with seeded arguments, and a
    ``save`` after every SAVE_EVERY_BLOCKS blocks.  The model is
    advanced while generating, so every op is valid when it runs and
    every read carries the rows it must return."""
    g = _OpGen(seed, tenant, start)
    blocks = []
    for b in range(n_blocks):
        ops = g.ops([k or ("delete" if b % 2 else "merge_edge") for k in TENANT_BLOCK])
        if b % SAVE_EVERY_BLOCKS == SAVE_EVERY_BLOCKS - 1:
            ops.append(TenantOp("save", {}))
        blocks.append(ops)
    return blocks


class _OpGen:
    def __init__(self, seed: int, tenant: str, start: Model):
        self.r = _rng(seed, f"stream/{tenant}")
        self.m = start.copy()
        self.tenant = tenant
        self.fresh = 0

    def ops(self, kinds: list[str]) -> list[TenantOp]:
        return [self.op(k) for k in kinds]

    def op(self, kind: str) -> TenantOp:
        r, m = self.r, self.m
        names = sorted(m.people)
        pick = lambda: names[int(r.integers(0, len(names)))]  # noqa: E731
        if kind in TENANT_READS:
            arg = CITIES[int(r.integers(0, 8))] if kind == "city" else pick()
            key = "city" if kind == "city" else "name"
            return TenantOp(kind, {key: arg}, m.read(kind, arg))
        if kind == "create":
            op = TenantOp(kind, {
                "name": f"{self.tenant}_new{self.fresh}",
                "age": int(r.integers(18, 80)),
                "city": CITIES[int(r.integers(0, 8))],
            })
            self.fresh += 1
        elif kind == "merge_edge":
            a, c = pick(), pick()
            while c == a:
                c = pick()
            op = TenantOp(kind, {"a": a, "b": c})
        elif kind == "set":
            op = TenantOp(kind, {"name": pick(), "age": int(r.integers(18, 80))})
        else:
            op = TenantOp(kind, {"name": pick()})
        m.apply(op)
        return op


def replay(start: Model, blocks: list[list[TenantOp]]) -> Model:
    """``start`` after every write of ``blocks``."""
    m = start.copy()
    for block in blocks:
        for op in block:
            if op.kind in TENANT_WRITES:
                m.apply(op)
    return m


# ------------------------------------------------------------ fingerprint


def fingerprint(obj) -> str:
    """Stable digest of generated inputs (op streams, models)."""

    def norm(x):
        if isinstance(x, Model):
            return {"people": sorted(x.people.items()), "knows": sorted(x.knows)}
        if hasattr(x, "__dataclass_fields__"):
            return {k: norm(getattr(x, k)) for k in x.__dataclass_fields__}
        if isinstance(x, (list, tuple)):
            return [norm(v) for v in x]
        if isinstance(x, dict):
            return {str(k): norm(v) for k, v in sorted(x.items())}
        if isinstance(x, (np.integer,)):
            return int(x)
        return x

    return hashlib.sha256(
        json.dumps(norm(obj), sort_keys=True, default=str).encode()
    ).hexdigest()
