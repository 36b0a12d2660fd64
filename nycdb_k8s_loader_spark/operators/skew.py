"""Skew-handling primitives: salting and two-phase aggregation.

At 100 TB a single hot key (one landlord with a million buildings, one
user with a billion events) turns a shuffle-on-key operator into a
one-task straggler. AQE's skew-join splitting
(``spark.sql.adaptive.skewJoin`` — on in session.get_spark) handles
sort-merge joins automatically; these helpers cover the cases it
doesn't:

- ``salted_join``: replicate the small side N ways so a skewed
  *broadcast-ineligible* equi-join fans the hot key across N tasks.
- ``two_phase_distinct``: exact count-distinct per key without
  shuffling all rows of the hot key to one task — first shuffle
  dedups on (key, value), second counts the already-thin pairs.
- ``salted_collect``: collect_list per key in two hops; the first
  shuffle spreads a hot key over N partial lists, the second merges N
  small arrays instead of one giant row stream.

Salts are deterministic (hash of a caller-named unique column, never
``rand()``) so reruns are idempotent and oracle hashes stable — the
same determinism discipline as the rest of the engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salt_expr(unique_col: str, n_salts: int) -> Column:
    """Deterministic salt in [0, n_salts): hash of a row-unique column
    (NOT the join/group key — the whole point is spreading one key's
    rows apart)."""
    return F.pmod(F.xxhash64(F.col(unique_col)), F.lit(n_salts)).cast("int")


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    key: str,
    unique_col: str,
    n_salts: int = 8,
) -> DataFrame:
    """Equi-join a skewed fact to a small-but-not-broadcastable dim.

    The fact side gets a deterministic salt from ``unique_col``; the
    dim side is replicated ``n_salts`` times (explode of a literal
    range — dim payload duplicated N×, which is why the dim must be
    small). The join key becomes (key, salt), so the hot key's rows
    land on N tasks instead of one. Result is row-identical to the
    unsalted join (tested), just differently partitioned.

    Inner join only: a right or full join would emit each unmatched
    dim row once per salt replica.
    """
    left = skewed.withColumn("__salt", salt_expr(unique_col, n_salts))
    right = small.withColumn(
        "__salt",
        F.explode(F.array(*[F.lit(i) for i in range(n_salts)])),
    )
    return left.join(right, [key, "__salt"], "inner").drop("__salt")


def two_phase_distinct(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    out_col: str = "n_distinct",
) -> DataFrame:
    """Exact COUNT(DISTINCT value) per key, skew-safe.

    A plain ``groupBy(key).agg(countDistinct(v))`` shuffles every row
    of a hot key to one task. Redistributing on (key, value) first
    dedups in parallel; the second shuffle carries one row per
    distinct pair. (Spark's own planner does a similar expand for
    multi-distinct; this form guarantees it and is the template for
    any agg whose partial state is a set.)
    """
    return (
        df.select(*keys, value_col)
        .distinct()  # shuffle 1: on (keys..., value) — parallel dedup
        .groupBy(*keys)
        # count(value), not count(*): COUNT(DISTINCT v) excludes NULLs,
        # and a key whose values are all NULL must still appear with 0
        .agg(F.count(value_col).alias(out_col))  # shuffle 2: thin pairs
    )


def salted_collect(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    unique_col: str,
    n_salts: int = 8,
    out_col: str = "values",
) -> DataFrame:
    """sort_array(collect_list(value)) per key in two salted hops.

    collect_list is the one common aggregate with NO partial
    aggregation — every row of a hot key streams to a single task.
    Salting first collects n_salts partial arrays in parallel, then
    merges (flatten + sort) the handful of arrays. Output is sorted,
    so it equals the single-hop sort_array(collect_list(...)) exactly.
    """
    partial = (
        df.withColumn("__salt", salt_expr(unique_col, n_salts))
        .groupBy(*keys, "__salt")
        .agg(F.collect_list(value_col).alias("__part"))
    )
    return (
        partial.groupBy(*keys)
        .agg(
            F.array_sort(F.flatten(F.collect_list("__part"))).alias(out_col)
        )
    )
