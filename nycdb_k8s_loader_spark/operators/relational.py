"""Relational operator helpers (SURVEY.md §2.3-2.8).

These are the small composable pieces the reference delegates to
Postgres SQL (tests/sql/wow_2021_create_bldgs_table.sql in
/root/reference), re-expressed as Catalyst-friendly DataFrame
combinators. Everything here stays JVM-side (built-in functions only,
no Python UDFs) so whole-stage codegen applies.

Determinism discipline: the reference leans on Postgres-isms whose
order is unspecified (`DISTINCT ON` with no ORDER BY, custom `first()`
over a pre-sorted CTE — wow_2021 sql:67, :18-26). Spark makes the
nondeterminism visible, so every latest-per-group here takes an
explicit total tiebreak (SURVEY.md §2 A7/D1).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nycdb_k8s_loader_spark.session import materialize


def latest_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """Postgres ``DISTINCT ON (group) ... ORDER BY order DESC`` analog.

    Reference: wow_2021_create_bldgs_table.sql:67 (`select distinct on
    (registrations.bbl) ...`) and the sorted-CTE + first() pattern at
    sql:6-26. Implemented as a ranked window (one shuffle on the group
    key); ``order_cols`` must be a total order within each group for
    deterministic output — callers append a unique id as tiebreak.

    At scale this is the standard top-1-per-key pattern: a single hash
    shuffle on ``group_cols``; AQE handles skewed keys.
    """
    w = Window.partitionBy(*group_cols).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def arg_max(value: Column | str, *order_cols: Column | str) -> Column:
    """``max_by`` with a struct tiebreak — the aggregate-shaped twin of
    :func:`latest_per_group` (SURVEY.md §2 A7).

    Postgres `first(value)` over a CTE pre-sorted descending
    (wow_2021 sql:18-26) becomes ``arg_max(value, sortkey..., uniqkey)``.
    Map-side partial aggregation applies, so this beats the window
    variant when the rest of the row is not needed.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    v = F.col(value) if isinstance(value, str) else value
    return F.max_by(v, F.struct(*cols))


def count_where(cond: Column) -> Column:
    """``COUNT(*) FILTER (WHERE cond)`` / ``count(case when ... then 1 end)``.

    Reference: wow_2021 sql:58 (filtered count) and sql:93 (conditional
    count). ``F.count`` skips nulls, which reproduces both semantics
    exactly.
    """
    return F.count(F.when(cond, F.lit(1)))


def min_where(col: Column | str, cond: Column) -> Column:
    """``MIN(col) FILTER (WHERE cond)`` (wow_2021 sql:116-117)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.min(F.when(cond, c))


def coalesce_int(col: Column | str) -> Column:
    """``coalesce(x, 0)::int`` (wow_2021 sql:69-72)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c, F.lit(0)).cast("int")


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Top-k rows per key with an explicit total order (LIMIT-per-group)."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def distributed_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "rank",
    num_partitions: int | None = None,
    ntile: int | None = None,
    ntile_col: str = "ntile",
    percent_rank_col: str | None = None,
) -> DataFrame:
    """Global row_number over a total order WITHOUT a single-partition
    window — the scale path q38's doc promises for ranking/ntile at
    data scale (a bare ``Window.orderBy`` drains the whole input
    through ONE task).

    ``ntile``/``percent_rank_col`` derive the distribution statistics
    from the rank plus the global row count — which the offsets frame
    already holds (sum of per-partition counts), so they cost ZERO
    additional shuffles over plain ranking:

    - ``percent_rank = (rank - 1) / (n - 1)`` (0.0 for a single row),
      exact because ``order_cols`` is a total order (no ties, so
      row_number == rank == SQL rank()).
    - ``ntile(k)`` follows the SQL standard's uneven-bucket rule: with
      ``n = q*k + r``, the first ``r`` buckets hold ``q+1`` rows, the
      rest ``q`` — NOT the tempting ``ceil(rank*k/n)``, which puts the
      large buckets last and disagrees with every SQL engine.

    Terasort shape: range-repartition on the order columns (disjoint,
    ordered key ranges per partition), rank locally inside each
    partition, then add per-partition row-count offsets. The offsets
    frame is one row per partition — the only global window runs over
    that metadata-scale frame, and it broadcasts back. ``order_cols``
    must be a total order (include a unique tiebreak) or ranks are
    nondeterministic.

    The range-partitioned frame is eagerly localCheckpointed because
    BOTH branches (offset counts, local ranks) consume it:
    repartitionByRange boundaries come from sampling, and recomputing
    the sample per branch could disagree on partition assignment —
    offsets from one layout applied to ranks from another. Pinning the
    layout makes the composition correct by construction.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    if num_partitions is not None:
        n = num_partitions
    else:
        try:
            # 'auto' on AQE-managed platforms (e.g. coalesced shuffle
            # partitions) — not an int; fall back below.
            n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (ValueError, TypeError):
            n = max(df.rdd.getNumPartitions(), 1)
    parted = materialize(
        df.repartitionByRange(n, *[F.col(c) for c in order_cols])
        .withColumn("__pid", F.spark_partition_id()),
        "relational.rank.ranges",
    )
    counts = parted.groupBy("__pid").agg(F.count("*").alias("__cnt"))
    w_off = (
        Window.orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"),
        F.sum("__cnt").over(w_all).alias("__n"),
    )
    w_local = Window.partitionBy("__pid").orderBy(*order_cols)
    out = (
        parted.withColumn("__lrank", F.row_number().over(w_local))
        .join(F.broadcast(offsets), "__pid")
        .withColumn(rank_col, (F.col("__lrank") + F.col("__off")).cast("long"))
    )
    rank, n = F.col(rank_col), F.col("__n")
    if percent_rank_col is not None:
        out = out.withColumn(
            percent_rank_col,
            F.when(n > 1, (rank - 1) / (n - 1)).otherwise(F.lit(0.0)),
        )
    if ntile is not None:
        q, r = F.floor(n / ntile), n % ntile
        # greatest(q,1) only shields the never-taken branch from ANSI
        # division-by-zero when n < k (there r covers every rank).
        out = out.withColumn(
            ntile_col,
            F.when(
                rank <= r * (q + 1), F.ceil(rank / (q + 1))
            ).otherwise(
                r + F.ceil((rank - r * (q + 1)) / F.greatest(q, F.lit(1)))
            ).cast("int"),
        )
    return out.drop("__pid", "__lrank", "__off", "__n")
