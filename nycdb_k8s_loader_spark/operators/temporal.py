"""Temporal join operators: as-of join and range join.

Neither exists in the reference (SURVEY.md §2.4 "not present") nor as
a single Spark primitive — they are the classic custom operators a
time-series / event-analytics workload needs, implemented here as
compositions of built-in DataFrame ops (SURVEY custom-operator rule
(a): composition before Pandas UDF before mapPartitions).

As-of join — "for each left row, the most recent right row at or
before its timestamp, per key":

    The naive formulation (equi-join on key + inequality filter +
    per-left-row top-1 window) materializes every (left, right) pair
    whose times overlap — quadratic per key, pathological at 100 TB.
    We use the union-merge form instead: tag both sides, union, and
    run ONE window over (key, time) taking the running ``last`` of the
    right-side payload. One shuffle, O(n log n) per key for the sort,
    zero pair blowup. This is how kdb/QuestDB/Flink implement it; in
    Spark it needs exactly two built-ins: ``unionByName`` and
    ``last(ignorenulls=True)`` over an unbounded-preceding window.

Determinism: ties are resolved by ordering the union on
(time, side, right-payload struct) — right rows sort before left rows
at equal time (inclusive as-of), and equal-time right rows resolve to
the struct-wise max — a total order, so oracle hashes are stable.

Range join — "left rows joined to right rows whose time falls in
[start, start + width) per key": expressed as an equi-join on the key
plus a range predicate; Catalyst executes the equi part as a hash
join and applies the range residually.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
    how: str = "inner",
) -> DataFrame:
    """For each ``left`` row, attach the latest ``right`` row with
    ``right_ts <= left_ts`` sharing ``key``.

    Returns all ``left`` columns plus ``payload_cols`` from the matched
    right row (null / dropped when no right row precedes, per ``how``:
    ``"left"`` keeps unmatched, ``"inner"`` drops them).

    Physical shape: one shuffle on ``key``, one sort per partition —
    the union-merge as-of join (see module docstring). The right
    payload travels as a single struct so the window picks one
    consistent row, never a column-wise mix.
    """
    assert how in ("inner", "left")
    lcols = left.columns
    assert not set(payload_cols) & set(lcols), "payload/left name collision"
    # A NULL right timestamp would sort nulls-first and masquerade as
    # the earliest payload; SQL `right_ts <= left_ts` semantics exclude
    # it, so drop such rows up front (left NULL timestamps are fine:
    # they sort first, find no preceding payload, and resolve to
    # no-match — same as the SQL comparison).
    right = right.filter(F.col(right_ts).isNotNull())
    payload = F.struct(*[F.col(c) for c in payload_cols])
    r2 = right.select(
        F.col(key),
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__side"),
        payload.alias("__r"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in lcols if c != key],
    )
    l2 = left.select(
        F.col(key),
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r2.schema["__r"].dataType).alias("__r"),
        *[F.col(c) for c in lcols if c != key],
    )
    u = r2.unionByName(l2)
    # Right rows first at equal time (inclusive as-of); among equal-time
    # right rows the struct-wise max wins (total order ⇒ deterministic).
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("__t").asc(), F.col("__side").asc(), F.col("__r").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn("__m", F.last("__r", ignorenulls=True).over(w))
    out = matched.filter(F.col("__side") == 1).select(
        F.col(key),
        *[F.col(c) for c in lcols if c != key],
        *[F.col("__m").getField(c).alias(c) for c in payload_cols],
    )
    if how == "inner":
        out = out.filter(F.col("__m").isNotNull())
    # Re-alias left_ts back from __t? No: left columns were carried
    # verbatim (including left_ts), __t was a sort key only.
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_start: str,
    width_expr: str,
) -> DataFrame:
    """Key-partitioned interval join: pair each ``left`` row with every
    ``right`` row where ``left_ts ∈ [right_start, right_start +
    width_expr)``. Catalyst plans the key equality as a hash join and
    evaluates the range predicate residually — no pair blowup beyond
    the true matches."""
    lo = right[right_start]
    hi = right[right_start] + F.expr(width_expr)
    return left.join(
        right,
        (left[key] == right[key]) & (left[left_ts] >= lo) & (left[left_ts] < hi),
    ).drop(right[key])
