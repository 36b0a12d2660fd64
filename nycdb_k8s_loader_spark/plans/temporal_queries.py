"""Temporal-join queries: as-of join and range join over events/orders.

Custom operators Spark lacks as single primitives (SURVEY.md §2.4
notes the reference has none either — these are the standard
extensions an event-analytics workload needs), implemented as
compositions of built-in ops in operators/temporal.py and verified
against window-form / theta-join DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nycdb_k8s_loader_spark.operators.temporal import asof_join, range_join
from nycdb_k8s_loader_spark.plans.catalog import register
from nycdb_k8s_loader_spark.session import read_table


@register(
    "q26_asof_latest_order",
    """
    WITH j AS (
        SELECT e.event_id, e.user_id, e.ts,
               o.o_orderkey, o.o_orderdate, o.o_totalprice,
               row_number() OVER (
                   PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
               ) AS rn
        FROM events e
        JOIN orders o
          ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    )
    SELECT event_id, user_id, ts, o_orderkey, o_orderdate, o_totalprice
    FROM j WHERE rn = 1
    """,
    doc="As-of join: each event paired with the user's most recent "
        "order at-or-before the event time. Spark side is the "
        "union-merge form — ONE shuffle on the key, running "
        "last(ignorenulls) over (time, side, payload-struct) — no "
        "per-key pair blowup; the oracle is the naive join+window "
        "form, which is the blowup we avoid. Ties (equal order "
        "timestamps) resolve to max o_orderkey on both sides — a "
        "total order, hash-stable.",
    tags=("temporal", "join"),
)
def q26(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
    )
    return asof_join(
        events,
        orders,
        key="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        payload_cols=["o_orderkey", "o_orderdate", "o_totalprice"],
        how="inner",
    ).select(
        "event_id", "user_id", "ts", "o_orderkey", "o_orderdate", "o_totalprice"
    )


@register(
    "q27_error_aftermath_window",
    """
    SELECT a.event_id AS anchor_id,
           COUNT(*)::BIGINT AS n_events,
           ROUND(SUM(e.value), 2) AS total_value
    FROM events a
    JOIN events e
      ON e.user_id = a.user_id
     AND e.ts >= a.ts
     AND e.ts < a.ts + INTERVAL 1 HOUR
    WHERE a.event_type = 'error'
    GROUP BY a.event_id
    """,
    doc="Range (interval) join: per error event, the same user's "
        "activity in the following hour (count + value sum, anchor "
        "included). Catalyst plans the key equality as the join and "
        "evaluates the range residually — matches only, no theta "
        "blowup.",
    tags=("temporal", "join", "agg"),
)
def q27(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    anchors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("anchor_id"),
        "user_id",
        F.col("ts").alias("anchor_ts"),
    )
    activity = events.select("user_id", "ts", "value")
    joined = range_join(
        activity,
        anchors,
        key="user_id",
        left_ts="ts",
        right_start="anchor_ts",
        width_expr="INTERVAL 1 HOUR",
    )
    return joined.groupBy("anchor_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "q28_distinct_suppliers_per_part",
    """
    SELECT l_partkey, COUNT(DISTINCT l_suppkey)::BIGINT AS n_distinct
    FROM lineitem GROUP BY l_partkey
    """,
    doc="Skew-safe exact count-distinct via operators/skew."
        "two_phase_distinct: first shuffle dedups on (key, value) in "
        "parallel, second counts the thin pairs — a hot key never "
        "funnels all its rows to one task, unlike a naive "
        "countDistinct.",
    tags=("agg", "skew"),
)
def q28(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.skew import two_phase_distinct

    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return two_phase_distinct(lineitem, ["l_partkey"], "l_suppkey")


@register(
    "t05_regex_tokens_stopwords",
    """
    WITH staged AS (
        SELECT doc_id,
               regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9 ]') AS toks,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS words
        FROM documents
    )
    SELECT doc_id,
           len(toks)::BIGINT AS n_bpe_tokens,
           len(words)::BIGINT AS n_words,
           CASE WHEN len(words) > 0 THEN
               ROUND(len(list_filter(words, w -> list_contains(
                   ['the','a','an','and','of','to','in','is','on','for'], w)))
                   * 1.0 / len(words), 4)
           END AS stopword_ratio
    FROM staged
    """,
    doc="BPE-ish regex tokenization (word runs + symbol singles, the "
        "pre-merge split of a byte-pair tokenizer) and stopword ratio. "
        "RE2-safe pattern so Java regex and DuckDB RE2 agree "
        "byte-for-byte; token arrays staged once per row, fully "
        "codegen'd.",
    tags=("text",),
)
def t05(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.textops import regex_token_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return regex_token_stats(docs)


@register(
    "q29_salted_priority_lists",
    """
    SELECT o_custkey,
           string_agg(o_orderpriority, ',' ORDER BY o_orderpriority)
               AS priorities
    FROM orders GROUP BY o_custkey
    """,
    doc="Hot-key-safe collect_list via operators/skew.salted_collect: "
        "the first shuffle spreads each key over N salted partial "
        "arrays (collect_list has no partial aggregation), the second "
        "merges N small arrays. Output proven equal to the single-hop "
        "ordered aggregate by the oracle.",
    tags=("agg", "skew"),
)
def q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.skew import salted_collect

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return salted_collect(
        orders, ["o_custkey"], "o_orderpriority", "o_orderkey", n_salts=8
    ).select(
        "o_custkey", F.array_join("values", ",").alias("priorities")
    )


@register(
    "q33_salted_dim_join",
    """
    SELECT p_brand,
           COUNT(*)::BIGINT AS n_lines,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
    doc="Skew-safe fact⋈dim equi-join via operators/skew.salted_join: "
        "the fact side carries a deterministic salt (hash of "
        "l_orderkey, never rand() — reruns stay idempotent), the dim "
        "is replicated n_salts ways, and the join key becomes "
        "(key, salt) so a hot part's rows land on N tasks instead of "
        "one. For dims too big to broadcast but too small to justify "
        "AQE's sort-merge skew split. Result proven row-identical to "
        "the unsalted join by the oracle.",
    tags=("join", "skew"),
)
def q33(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.skew import salted_join

    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_partkey").alias("p_partkey"),
        "l_orderkey",
        "l_extendedprice",
        "l_discount",
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_brand"
    )
    joined = salted_join(
        lineitem, part, key="p_partkey", unique_col="l_orderkey", n_salts=8
    )
    return joined.groupBy("p_brand").agg(
        F.count("*").alias("n_lines"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue"),
    )
