"""DuckDB oracles over the same parquet files the engine reads."""

from __future__ import annotations

import math
import os
import re

import duckdb

from perfbench.gen import ID_BASE

ORDER_BASE, DOCUMENT_BASE = ID_BASE["Order"], ID_BASE["Document"]

READ_SQL = {
    "point": (
        "SELECT c_name, c_acctbal, c_mktsegment FROM customer "
        "WHERE c_custkey = $k"
    ),
    "expand": (
        f"SELECT o_orderkey + {ORDER_BASE} AS oid, o_totalprice FROM orders "
        "WHERE o_custkey = $k ORDER BY o_totalprice DESC, oid LIMIT 5"
    ),
    "two_hop": (
        "SELECT count(*), count(DISTINCT l_partkey), sum(l_quantity) "
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE o_custkey = $k"
    ),
    # var-length expansion is reachability (the engine's VarLengthExpand
    # keeps a visited set: one row per distinct node reached), so a
    # part on two lines of one order counts once
    "var_length": (
        "SELECT (SELECT count(*) FROM orders WHERE o_custkey = $k) + "
        "(SELECT count(DISTINCT l_partkey) FROM orders "
        " JOIN lineitem ON l_orderkey = o_orderkey WHERE o_custkey = $k)"
    ),
    "shortest_path": (
        "SELECT 2, r_name FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey WHERE c_custkey = $k"
    ),
    "knn": (
        f"WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings "
        f"           WHERE vec_id = $k) "
        f"SELECT vec_id + {DOCUMENT_BASE} AS id, "
        f"       list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv) AS s "
        f"FROM embeddings, q WHERE vec_id IN (SELECT doc_id FROM documents) "
        f"ORDER BY s DESC, id LIMIT 5"
    ),
}


class Oracle:
    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                self.con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')"
                )
        self._memo: dict = {}

    def rows(self, sql: str, params: dict | None = None) -> list[tuple]:
        return [tuple(r) for r in self.con.execute(sql, params or {}).fetchall()]

    def read(self, template: str, anchor: int) -> list[tuple]:
        """Expected rows of one interactive read, computed once per
        distinct (template, anchor)."""
        key = (template, anchor)
        if key not in self._memo:
            self._memo[key] = self.rows(READ_SQL[template], {"k": anchor})
        return self._memo[key]


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Row-list equality, in order, with floats compared to 1e-6."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None:
                    if a is not b:
                        return False
                elif not math.isclose(float(a), float(b), rel_tol=1e-6, abs_tol=1e-6):
                    return False
            elif a != b:
                return False
    return True



def materialized(sql: str) -> str:
    """``sql`` with every CTE marked MATERIALIZED: DuckDB then evaluates
    each once instead of inlining it at every reference (the unrolled
    PageRank oracle re-evaluates its chain exponentially otherwise).
    The rows are the same."""
    return re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)
