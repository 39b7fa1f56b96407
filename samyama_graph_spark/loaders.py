"""Loaders: raw parquet tables and the TPC-H -> property-graph projection.

Mirrors the reference's bulk-load surface (CSV/JSON import,
reference: src/http/handler.rs:403-533; LDBC pipe-separated CSV
loaders, benches/ldbc_common/mod.rs:446-540) re-expressed as
``spark.read`` with explicit options, plus the F5 projection from
FIXTURES.md that turns the driver's TPC-H-ish star schema into node
and edge tables.

Node ids are made globally unique by offsetting each table's key into
a disjoint billion-wide range — the Spark analogue of the reference's
single NodeId(u64) arena.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from samyama_graph_spark.graph import EdgeMeta, PropertyGraph
from samyama_graph_spark.session import ensure_nanos_as_long

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Disjoint global node-id ranges per label.
BASE = 1_000_000_000
ID_BASE = {
    "Region": 1 * BASE,
    "Nation": 2 * BASE,
    "Customer": 3 * BASE,
    "Supplier": 4 * BASE,
    "Part": 5 * BASE,
    "Order": 6 * BASE,
    "Document": 7 * BASE,
    "Event": 8 * BASE,
}


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_tables(
    spark: SparkSession, sf_dir: str | None = None, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Read the driver's parquet tables; returns {name: DataFrame}.

    events.ts is TIMESTAMP(NANOS) in the parquet, which Spark rejects
    by default; read it as long nanos (legacy conf) and truncate to a
    microsecond TimestampType — the same value DuckDB produces.
    """
    sf_dir = sf_dir or default_sf_dir()
    wanted = names or TABLES
    per = _TABLE_CACHE.setdefault(spark, {})
    cached = per.setdefault(sf_dir, {})
    missing = [n for n in wanted if n not in cached]
    if missing:
        ensure_nanos_as_long(spark)
        for name in missing:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if os.path.exists(path):
                df = spark.read.parquet(path)
                if name == "events" and dict(df.dtypes).get("ts") == "bigint":
                    df = df.withColumn(
                        "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
                    )
                cached[name] = df
    return {n: cached[n] for n in wanted if n in cached}


# DataFrames are lazy plan handles: caching them per (session, sf_dir)
# skips repeated parquet footer/schema reads without pinning any data.
# Keyed WEAKLY on the live session object — id(spark) can be reused by
# a new session after the old one is collected, which would hand out
# plan handles bound to a dead context.
import weakref

_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[str, dict[str, DataFrame]]]" = (
    weakref.WeakKeyDictionary()
)
_GRAPH_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[str, PropertyGraph]]" = (
    weakref.WeakKeyDictionary()
)


def register_tables(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    """Load + register each table as a temp view (name = table name)."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables


def gid(label: str, key_col: str) -> F.Column:
    """Globalize a per-table key into the label's id range."""
    return (F.col(key_col).cast("long") + F.lit(ID_BASE[label])).alias("id")


def tpch_graph(spark: SparkSession, sf_dir: str | None = None) -> PropertyGraph:
    """FIXTURES.md F5: the TPC-H star schema as a property graph.

    Nodes: Region, Nation, Customer, Supplier, Part, Order, Document.
    Edges: IN_REGION (nation->region), IN_NATION (customer->nation,
    supplier->nation), PLACED (customer->order), CONTAINS
    (order->part, one edge per lineitem with its measures),
    SUPPLIED_BY (part->supplier per lineitem).
    """
    sf_dir = sf_dir or default_sf_dir()
    per = _GRAPH_CACHE.setdefault(spark, {})
    if sf_dir in per:
        return per[sf_dir]
    t = load_tables(spark, sf_dir)

    nodes = {
        "Region": t["region"].select(
            gid("Region", "r_regionkey"), F.col("r_name").alias("name")
        ),
        "Nation": t["nation"].select(
            gid("Nation", "n_nationkey"), F.col("n_name").alias("name")
        ),
        "Customer": t["customer"].select(
            gid("Customer", "c_custkey"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").alias("acctbal"),
            F.col("c_mktsegment").alias("mktsegment"),
        ),
        "Supplier": t["supplier"].select(
            gid("Supplier", "s_suppkey"),
            F.col("s_name").alias("name"),
            F.col("s_acctbal").alias("acctbal"),
        ),
        "Part": t["part"].select(
            gid("Part", "p_partkey"),
            F.col("p_name").alias("name"),
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").alias("size"),
            F.col("p_retailprice").alias("retailprice"),
        ),
        "Order": t["orders"].select(
            gid("Order", "o_orderkey"),
            F.col("o_orderstatus").alias("orderstatus"),
            F.col("o_totalprice").alias("totalprice"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_orderpriority").alias("orderpriority"),
        ),
    }
    if "documents" in t:
        doc = t["documents"].select(
            gid("Document", "doc_id"),
            F.col("text"),
            F.col("lang"),
            F.col("source"),
            F.col("n_chars"),
        )
        if "embeddings" in t:
            emb = t["embeddings"].select(
                gid("Document", "vec_id"), F.col("embedding")
            )
            doc = doc.join(emb, "id", "left")
        nodes["Document"] = doc

    li = t["lineitem"]
    edges = {
        "IN_REGION": t["nation"].select(
            gid("Nation", "n_nationkey").alias("src"),
            (F.col("n_regionkey").cast("long") + F.lit(ID_BASE["Region"])).alias("dst"),
        ),
        "IN_NATION": t["customer"]
        .select(
            gid("Customer", "c_custkey").alias("src"),
            (F.col("c_nationkey").cast("long") + F.lit(ID_BASE["Nation"])).alias("dst"),
        )
        .unionByName(
            t["supplier"].select(
                gid("Supplier", "s_suppkey").alias("src"),
                (F.col("s_nationkey").cast("long") + F.lit(ID_BASE["Nation"])).alias(
                    "dst"
                ),
            )
        ),
        "PLACED": t["orders"].select(
            (F.col("o_custkey").cast("long") + F.lit(ID_BASE["Customer"])).alias("src"),
            gid("Order", "o_orderkey").alias("dst"),
        ),
        "CONTAINS": li.select(
            (F.col("l_orderkey").cast("long") + F.lit(ID_BASE["Order"])).alias("src"),
            (F.col("l_partkey").cast("long") + F.lit(ID_BASE["Part"])).alias("dst"),
            F.col("l_linenumber").alias("linenumber"),
            F.col("l_quantity").alias("quantity"),
            F.col("l_extendedprice").alias("extendedprice"),
            F.col("l_discount").alias("discount"),
            F.col("l_tax").alias("tax"),
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_linestatus").alias("linestatus"),
            F.col("l_shipdate").alias("shipdate"),
        ),
        "SUPPLIED_BY": li.select(
            (F.col("l_partkey").cast("long") + F.lit(ID_BASE["Part"])).alias("src"),
            (F.col("l_suppkey").cast("long") + F.lit(ID_BASE["Supplier"])).alias("dst"),
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_quantity").alias("quantity"),
        ),
    }
    meta = {
        "IN_REGION": EdgeMeta("Nation", "Region"),
        "IN_NATION": EdgeMeta(
            None, "Nation", pairs=(("Customer", "Nation"), ("Supplier", "Nation"))
        ),
        "PLACED": EdgeMeta("Customer", "Order"),
        "CONTAINS": EdgeMeta("Order", "Part"),
        "SUPPLIED_BY": EdgeMeta("Part", "Supplier"),
    }
    g = PropertyGraph(spark, nodes, edges, meta)
    # base parquet-backed graph: cardinality stats may be computed
    # lazily at compile time (cheap columnless scans, no union chains)
    g.__dict__["_stats_safe"] = True
    per[sf_dir] = g
    return g


def read_csv_graph_table(
    spark: SparkSession, path: str, sep: str = ",", header: bool = True
) -> DataFrame:
    """CSV import with header typing (reference: http/handler.rs:403-533
    infers column types from headers; Spark's inferSchema does the same
    from data). LDBC files use ``sep='|'``."""
    return (
        spark.read.option("header", str(header).lower())
        .option("sep", sep)
        .option("inferSchema", "true")
        .csv(path)
    )


def read_snapshot(spark: SparkSession, path: str) -> DataFrame:
    """Snapshot restore: the reference's .sgsnap is gzip JSON-lines
    (src/snapshot/format.rs:1-40); spark.read.json handles .gz
    transparently."""
    return spark.read.json(path)


def write_snapshot(df: DataFrame, path: str) -> None:
    """Snapshot export as gzip JSON-lines."""
    df.write.mode("overwrite").option("compression", "gzip").json(path)
