"""Multi-tenant namespace routing (reference: per-tenant store router,
src/sharding/router.rs:20-62)."""

from __future__ import annotations

import pytest

from samyama_graph_spark.graph import PropertyGraph
from samyama_graph_spark.tenancy import TenantCatalog, TenantNotFound


def _graph(spark, names):
    nodes = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "id long, name string"
    )
    edges = spark.createDataFrame(
        [(i, (i + 1) % len(names)) for i in range(len(names))],
        "src long, dst long",
    )
    return PropertyGraph(spark, {"Person": nodes}, {"KNOWS": edges})


def test_route_admin_and_unknown(spark):
    cat = TenantCatalog(spark)
    cat.create_tenant("acme", _graph(spark, ["a", "b"]))
    cat.create_tenant("globex", _graph(spark, ["x", "y", "z"]))
    assert cat.list_tenants() == ["acme", "globex"]
    with pytest.raises(TenantNotFound):
        cat.engine("initech")
    with pytest.raises(ValueError):
        cat.create_tenant("acme")  # duplicate route
    with pytest.raises(ValueError):
        cat.create_tenant("../escape")
    cat.drop_tenant("globex")
    assert cat.list_tenants() == ["acme"]
    with pytest.raises(TenantNotFound):
        cat.query("globex", "MATCH (n:Person) RETURN count(*) AS c")


def test_write_isolation(spark):
    """Tenant A's Cypher writes must be invisible to tenant B — the
    property the reference enforces by routing to disjoint stores."""
    cat = TenantCatalog(spark)
    cat.create_tenant("a", _graph(spark, ["a1", "a2"]))
    cat.create_tenant("b", _graph(spark, ["b1", "b2"]))

    cat.query("a", "CREATE (n:Person {id: 100, name: 'new-in-a'})").collect()
    count = "MATCH (n:Person) RETURN count(*) AS c"
    assert cat.query("a", count).collect()[0]["c"] == 3
    assert cat.query("b", count).collect()[0]["c"] == 2
    # and the data itself differs
    names_b = {
        r["name"]
        for r in cat.query("b", "MATCH (n:Person) RETURN n.name AS name").collect()
    }
    assert "new-in-a" not in names_b
    # same label/table names on both sides never collide
    cat.query("b", "MATCH (n:Person) WHERE n.name = 'b1' DETACH DELETE n").collect()
    assert cat.query("a", count).collect()[0]["c"] == 3
    assert cat.query("b", count).collect()[0]["c"] == 1


def test_persistence_roundtrip(spark, tmp_path):
    """A fresh catalog over the same warehouse root re-discovers
    tenants (the durable shard map) and loads their saved state."""
    root = str(tmp_path / "warehouse")
    cat = TenantCatalog(spark, root=root)
    cat.create_tenant("acme", _graph(spark, ["a", "b"]), persist=True)
    cat.query("acme", "CREATE (n:Person {id: 7, name: 'late'})").collect()
    cat.save("acme")

    cat2 = TenantCatalog(spark, root=root)
    assert cat2.list_tenants() == ["acme"]
    got = cat2.query(
        "acme", "MATCH (n:Person) RETURN n.name AS name ORDER BY name"
    ).collect()
    assert [r["name"] for r in got] == ["a", "b", "late"]
    # edges survived too
    assert (
        cat2.query(
            "acme", "MATCH (:Person)-[r:KNOWS]->(:Person) RETURN count(*) AS c"
        ).collect()[0]["c"]
        == 2
    )
    cat2.drop_tenant("acme", delete_data=True)
    cat3 = TenantCatalog(spark, root=root)
    assert cat3.list_tenants() == []


def test_save_after_load_and_modify(spark, tmp_path):
    """save() on a tenant whose live graph was LOADED from its own
    prefix: the frames' lineage still scans those parquet files, so a
    naive in-place overwrite either raises Spark's write-read-cycle
    error or deletes source files mid-read.  The staged write + engine
    rebind must make load -> modify -> save -> query -> save safe."""
    root = str(tmp_path / "warehouse")
    TenantCatalog(spark, root=root).create_tenant(
        "acme", _graph(spark, ["a", "b"]), persist=True
    )

    # fresh catalog: the engine's frames come straight from parquet
    cat = TenantCatalog(spark, root=root)
    cat.query("acme", "CREATE (n:Person {id: 9, name: 'added'})").collect()
    cat.save("acme")

    # the live engine keeps working after its files were replaced
    # (rebound to the new scans, old plan-cache entries invalidated)
    names = [
        r["name"]
        for r in cat.query(
            "acme", "MATCH (n:Person) RETURN n.name AS name ORDER BY name"
        ).collect()
    ]
    assert names == ["a", "added", "b"]
    # and a second save over the reloaded frames is equally safe
    cat.query("acme", "CREATE (n:Person {id: 10, name: 'more'})").collect()
    cat.save("acme")

    got = TenantCatalog(spark, root=root).query(
        "acme", "MATCH (n:Person) RETURN n.name AS name ORDER BY name"
    ).collect()
    assert [r["name"] for r in got] == ["a", "added", "b", "more"]
    # no staging residue, and edges survived both swaps
    import os

    residue = [
        f for f in os.listdir(os.path.join(root, "acme"))
        if f.startswith(".staging")
    ]
    assert residue == []


def test_save_over_single_file_tables(spark, tmp_path):
    """save() over a prefix whose tables are single parquet FILES (as
    non-Spark writers produce) must replace them, and must remove a
    stale label's file so it does not resurrect on the next load."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "warehouse"
    base = root / "acme"
    base.mkdir(parents=True)
    pq.write_table(
        pa.table({"id": [0, 1], "name": ["old-a", "old-b"]}),
        base / "nodes_Person.parquet",
    )
    pq.write_table(
        pa.table({"id": [5], "name": ["stale"]}), base / "nodes_Stale.parquet"
    )
    cat = TenantCatalog(spark, root=str(root))
    assert sorted(cat.graph("acme").nodes) == ["Person", "Stale"]
    cat.engine("acme").graph = _graph(spark, ["a", "b", "c"])
    cat.save("acme")

    assert sorted(os.listdir(base)) == [
        "edges_KNOWS.parquet", "nodes_Person.parquet"
    ]
    fresh = TenantCatalog(spark, root=str(root))
    assert sorted(fresh.graph("acme").nodes) == ["Person"]
    got = fresh.query(
        "acme", "MATCH (n:Person) RETURN n.name AS name ORDER BY name"
    ).collect()
    assert [r["name"] for r in got] == ["a", "b", "c"]


def test_prefixed_views(spark):
    cat = TenantCatalog(spark)
    cat.create_tenant("t1", _graph(spark, ["a"]))
    cat.create_tenant("t2", _graph(spark, ["x", "y"]))
    cat.register_views("t1")
    cat.register_views("t2")
    assert spark.sql("SELECT count(*) c FROM t1_person_nodes").collect()[0]["c"] == 1
    assert spark.sql("SELECT count(*) c FROM t2_person_nodes").collect()[0]["c"] == 2
