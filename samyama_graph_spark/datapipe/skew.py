"""Skew mitigation: salted joins and salted two-phase aggregation.

AQE's skew-join handles most hot-key joins at runtime (enabled
session-wide, session.py), but two situations still need explicit
salting at 100 TB:

- inside ``iteration_scope`` loops AQE is off (a session-conf override
  held by ``samyama_graph_spark.scope`` for the loop's duration), so a
  power-law hub key would pin one reducer per round;
- holistic/ordered pipelines where AQE may not split (e.g. a shuffle
  feeding a window), or where the skew is in an AGGREGATION, which
  AQE's skew logic does not touch — map-side combine fixes algebraic
  aggs, but ``collect_list``-class aggregates still land every hot-key
  row on one task.

Both operators are pure DataFrame rewrites with identical results to
their unsalted forms (tested), so they compose with the oracle suite.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join a skew-keyed big side against a small side by
    replicating the small side ``salts`` times and scattering the big
    side's hot keys across ``salts`` reducers.

    big rows get ``salt = pmod(hash(row-identity), salts)`` (derived
    from the whole row via monotonically_increasing_id is NOT used —
    a random-free, deterministic spread comes from hashing all big-side
    columns); small rows are exploded once per salt value.  The join
    key becomes (key, salt): every reducer holds 1/salts of each hot
    key.  Result equals ``big.join(small, key, how)`` row-for-row.

    ``how`` supports inner and left (the small side is replicated, so
    right/full would duplicate unmatched small rows).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner'|'left'")
    cols = [c for c in big.columns]
    salt = F.pmod(F.hash(*[F.col(c) for c in cols]), F.lit(salts))
    b = big.withColumn("__salt", salt)
    s = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salts)]))
    )
    out = b.join(s, [key, "__salt"], how)
    return out.drop("__salt")


def salted_agg(
    df: DataFrame,
    keys: list[str],
    list_col: str,
    salts: int = 16,
    salt_col: str | None = None,
) -> DataFrame:
    """Skew-safe ``collect_list`` (the one common aggregate map-side
    combine cannot shrink): two-phase salted aggregation —
    ``(keys, salt)`` partial lists, then concatenation per key.  The
    result column ``items`` is SORTED for determinism, matching
    ``sort_array(collect_list(...))`` semantics of the direct form.

    The hot key's rows spread across ``salts`` reducers in phase one;
    phase two concatenates ``salts`` pre-shrunk arrays, so no single
    task ever materializes the raw row stream of a hot key.  (The
    final array itself is still per-key — inherent to the output
    contract; cap it upstream if a key can exceed executor memory.)

    The salt must be DETERMINISTIC per row content — a position-based
    source (monotonically_increasing_id / rand) re-salts rows when a
    shuffle-stage retry recomputes map tasks, duplicating or dropping
    rows mid-aggregation (the SPARK-23207 failure class).  Default:
    hash of ALL columns, which spreads any hot key whose rows differ
    anywhere.  A hot key of EXACT duplicate rows still collapses onto
    one salt — pass ``salt_col`` naming a unique row id to spread that
    case too.
    """
    if salt_col is not None:
        salt = F.pmod(F.hash(F.col(salt_col)), F.lit(salts))
    else:
        salt = F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(salts))
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(F.collect_list(list_col).alias("__part"))
    )
    return (
        partial.groupBy(*keys)
        .agg(
            F.sort_array(
                F.flatten(F.collect_list("__part"))
            ).alias("items")
        )
    )
