"""Incremental aggregation: mergeable partial rollups.

The reference's freshness model is all-or-nothing — when a dataset's
ETag changes it reloads and recomputes *everything*
(/root/reference/load_dataset.py:352-367).  At 100 TB that's the one
pattern that cannot survive: a day's delta must not cost a full-corpus
re-aggregation.  The fix is the classic mergeable-state decomposition
(the same algebra behind Spark's own partial aggregation, materialized
views, and every streaming engine's state):

    rollup(base ∪ delta) == merge(rollup(base), rollup(delta))

which holds for any commutative-monoid measure.  We keep the partial
state in *decomposed* form — count, sum, min, max — and derive
non-mergeable measures (avg) only at finalize.  The published rollup
table then refreshes by aggregating the delta partition alone and
merging: O(delta + groups), never O(base).

This is engine machinery, not a Catalyst rewrite: Catalyst already
does partial aggregation *within* one job; this operator spans jobs —
yesterday's persisted state + today's delta.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partial_rollup(
    df: DataFrame, keys: list[str], measures: list[str]
) -> DataFrame:
    """Aggregate ``df`` into mergeable per-key state.

    One shuffle on ``keys``; every state column combines map-side
    (count/sum/min/max are all monoid folds), so the shuffle carries
    one partial row per (task, key).
    """
    aggs = [F.count("*").alias("n_rows")]
    for m in measures:
        aggs += [
            F.count(m).alias(f"{m}_cnt"),
            F.sum(m).alias(f"{m}_sum"),
            F.min(m).alias(f"{m}_min"),
            F.max(m).alias(f"{m}_max"),
        ]
    return df.groupBy(*keys).agg(*aggs)


def merge_rollups(
    states: list[DataFrame], keys: list[str], measures: list[str]
) -> DataFrame:
    """Merge any number of partial-rollup states into one.

    Union of state rows + one aggregation: counts and sums add, mins
    and maxes fold — the monoid merge.  Cost is O(total state rows),
    independent of the raw-data size the states summarize.
    """
    if not states:
        raise ValueError("merge_rollups needs at least one state")
    unioned = reduce(lambda a, b: a.unionByName(b), states)
    aggs = [F.sum("n_rows").alias("n_rows")]
    for m in measures:
        aggs += [
            F.sum(f"{m}_cnt").alias(f"{m}_cnt"),
            F.sum(f"{m}_sum").alias(f"{m}_sum"),
            F.min(f"{m}_min").alias(f"{m}_min"),
            F.max(f"{m}_max").alias(f"{m}_max"),
        ]
    return unioned.groupBy(*keys).agg(*aggs)


def finalize_rollup(
    state: DataFrame, keys: list[str], measures: list[str]
) -> DataFrame:
    """Derive the presentation measures from decomposed state:
    count, sum, min, max pass through; avg = sum/cnt (null for empty
    groups, matching SQL AVG over all-null input)."""
    cols = [F.col(k) for k in keys] + [F.col("n_rows")]
    for m in measures:
        cols += [
            F.col(f"{m}_sum").alias(f"{m}_sum"),
            F.col(f"{m}_min").alias(f"{m}_min"),
            F.col(f"{m}_max").alias(f"{m}_max"),
            F.when(
                F.col(f"{m}_cnt") > 0,
                F.col(f"{m}_sum") / F.col(f"{m}_cnt"),
            ).alias(f"{m}_avg"),
        ]
    return state.select(*cols)


def scd2_apply(
    snapshot: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    tracked_cols: list[str],
    effective_col: str = "effective_ts",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    is_current: str = "is_current",
) -> DataFrame:
    """Slowly-changing-dimension type 2 merge: fold one batch of
    updates into a versioned snapshot, keeping full history.

    The reference publishes destructively — the old table is dropped
    and replaced wholesale (load_dataset.py:365-370), so history is
    gone after every refresh. SCD2 is the versioned-publish upgrade:
    each key carries interval rows [valid_from, valid_to) with exactly
    one open (``is_current``) row; an update whose tracked values
    differ closes the open row at the update's effective timestamp and
    appends a new open row. Unchanged updates are no-ops (idempotent
    re-application), brand-new keys insert directly.

    Pure DataFrame composition — one join of current rows against the
    batch on the key, a null-safe change predicate (eqNullSafe per
    tracked column, so NULL transitions version correctly), and a
    union of [history, unchanged-current, closed, new-versions,
    inserts]. One shuffle on the key; history rows never join. On
    Delta this is MERGE WHEN MATCHED; this form states the exact
    row-level contract and runs on plain parquet via the publish
    protocol.

    ``updates`` must hold one row per key (pre-deduplicate a multi-
    event batch to the latest per key with latest_per_group) — raises
    otherwise, because applying two versions of one key in a single
    merge would create overlapping intervals.
    """
    dup = (
        updates.groupBy(*key_cols).count().filter(F.col("count") > 1)
    )
    if not dup.isEmpty():
        raise ValueError(
            "scd2_apply: updates carry multiple rows for at least one "
            "key — reduce to one row per key first (latest_per_group)."
        )

    # Presence markers rather than key-IsNotNull probes: the key join is
    # null-safe (eqNullSafe below, matching the null-safe change
    # predicate), so a NULL key value is a legal, matchable key — which
    # means "did this side participate in the join?" can no longer be
    # read off the key columns themselves.
    cur = snapshot.filter(F.col(is_current)).withColumn(
        "__cur_present", F.lit(True)
    )
    hist = snapshot.filter(~F.col(is_current))
    u = updates.select(
        *[F.col(c).alias(f"__u_{c}") for c in (*key_cols, *tracked_cols)],
        F.col(effective_col).alias("__u_eff"),
        F.lit(True).alias("__u_present"),
    )
    key_cond = reduce(
        lambda a, b: a & b,
        [cur[k].eqNullSafe(F.col(f"__u_{k}")) for k in key_cols],
    )
    joined = cur.join(u, key_cond, "full_outer")

    changed = reduce(
        lambda a, b: a | b,
        [~cur[c].eqNullSafe(F.col(f"__u_{c}")) for c in tracked_cols],
    )
    matched = (
        cur["__cur_present"].isNotNull() & F.col("__u_present").isNotNull()
    )
    snap_cols = snapshot.columns

    # Reject updates that would produce an inverted [valid_from,
    # valid_to) interval: an effective_ts earlier than the open row's
    # valid_from means the batch is out of order relative to history
    # (feed batches through latest_per_group in event order instead).
    inverted = joined.filter(
        matched & changed & (F.col("__u_eff") < cur[valid_from])
    )
    if not inverted.isEmpty():
        raise ValueError(
            "scd2_apply: at least one update's effective_ts precedes the "
            "current row's valid_from — applying it would create an "
            "inverted validity interval. Apply batches in event order."
        )

    unchanged_cur = joined.filter(
        cur["__cur_present"].isNotNull()
        & (F.col("__u_present").isNull() | ~changed)
    ).select(*[cur[c] for c in snap_cols])

    closed = joined.filter(matched & changed).select(
        *[cur[c] for c in snap_cols if c not in (valid_to, is_current)],
        F.col("__u_eff").alias(valid_to),
        F.lit(False).alias(is_current),
    ).select(*snap_cols)

    def _fresh_rows(rows):
        return rows.select(
            *[F.col(f"__u_{k}").alias(k) for k in key_cols],
            *[F.col(f"__u_{c}").alias(c) for c in tracked_cols],
            F.col("__u_eff").alias(valid_from),
            F.lit(None).cast(snapshot.schema[valid_to].dataType).alias(valid_to),
            F.lit(True).alias(is_current),
        ).select(*snap_cols)

    new_versions = _fresh_rows(joined.filter(matched & changed))
    inserts = _fresh_rows(joined.filter(cur["__cur_present"].isNull()))

    return hist.unionByName(unchanged_cur).unionByName(closed).unionByName(
        new_versions
    ).unionByName(inserts)
