"""SparkSession factory.

The reference opens one psycopg2 connection per job
(load_dataset.py:343-344 in /root/reference); our unit of execution is
one SparkSession per job. Defaults are tuned so the same code runs on
``local[N]`` for tests and on a multi-executor cluster unchanged:

- AQE on (runtime broadcast/skew re-planning — replaces the manual
  index tuning the reference does with CREATE INDEX, wow_2021 sql:130).
- shuffle partitions sized to the environment, not the 200 default.
- Arrow enabled for the few pandas-UDF paths (dedup/similarity pack).
- UTC session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def small_shuffle_partitions(spark: SparkSession) -> int:
    """Shuffle width for many tiny shuffles (iterative loops, streaming
    state stores): ``max(8, defaultParallelism // 2)``, never above the
    session's ``spark.sql.shuffle.partitions``. Per-partition overhead,
    not data, dominates those shuffles at the batch default; a cluster's
    defaultParallelism scales with its size, so big jobs keep width."""
    n = max(8, spark.sparkContext.defaultParallelism // 2)
    try:
        return min(n, int(spark.conf.get("spark.sql.shuffle.partitions")))
    except (TypeError, ValueError):
        return n  # 'auto' etc. — keep the heuristic


def get_spark(
    app_name: str = "nycdb_k8s_loader_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master=None`` defers to spark-submit / an existing session, so the
    same entrypoints work under ``local[32]`` and on a real cluster.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not SparkSession.getActiveSession():
        builder = builder.master(f"local[{cpus}]")

    sp = shuffle_partitions if shuffle_partitions is not None else DEFAULT_SHUFFLE_PARTITIONS
    conf = {
        "spark.sql.shuffle.partitions": str(sp),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.ui.enabled": os.environ.get("SPARK_GRAFT_UI", "false"),
        # Broadcast threshold: dims in our workload (region/nation/part
        # aggregates) are tiny relative to facts; 64m keeps 7-way join
        # pipelines broadcast-heavy at 100TB fact scale too.
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        # ContextCleaner's default periodic driver GC is 30 MINUTES —
        # superseded localCheckpoint blocks from iterative operators
        # pile up for that long in any long-lived session and tax
        # every later query (measured 2-10x at sf3; see
        # operators/graph.py checkpoint hygiene). Operators release
        # their own superseded generations; this bounds whatever a
        # plain `.cache()`-happy caller leaks anyway.
        "spark.cleaner.periodicGC.interval": "5min",
    }
    if warehouse_dir:
        conf["spark.sql.warehouse.dir"] = warehouse_dir
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _normalize_events_ts(df):
    """Normalize the ``ts`` column of an events DataFrame (batch OR
    streaming) to a plain session-tz ``timestamp``.

    ``events.parquet`` has shipped with ``ts`` as either parquet
    TIMESTAMP(NANOS) (readable only as raw long via the legacy conf)
    or TIMESTAMP(MICROS)/NTZ depending on generator version:

    - long (nanos file read under the legacy conf): rebuild a
      microsecond timestamp with integer division — float division
      would lose precision above 2^53 ns.
    - timestamp_ntz: interpret the wall-clock value as UTC via
      ``to_utc_timestamp(ts, 'UTC')`` — unlike a plain cast (which
      goes through the session timezone and silently shifts instants
      in any non-UTC session), this is value-preserving regardless of
      ``spark.sql.session.timeZone``.
    - timestamp: already what we want.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000").cast("long"))
        )
    if isinstance(ts_type, T.TimestampNTZType):
        return df.withColumn("ts", F.to_utc_timestamp(F.col("ts"), "UTC"))
    return df


def _read_events_batch(spark: SparkSession, sf_dir: str):
    """Batch-read events.parquet, handling the nanos-vs-micros split.

    Try a plain read first — micros/NTZ files need no special conf.
    Only if the footer is TIMESTAMP(NANOS) (plain read raises at schema
    conversion) set ``spark.sql.legacy.parquet.nanosAsLong``; the conf
    must then stay set for the lifetime of the returned (lazy)
    DataFrame, which is why it is not set-and-restored here.
    """
    path = f"{sf_dir}/events.parquet"
    try:
        return spark.read.parquet(path)
    except Exception:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return spark.read.parquet(path)


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one synthetic table, normalizing physical-type quirks."""
    if name == "events":
        return _normalize_events_ts(_read_events_batch(spark, sf_dir))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def events_stream(spark: SparkSession, sf_dir: str):
    """Streaming reader for events.parquet with the SAME ts semantics
    as :func:`read_table` — the streaming/batch parity contract.

    File-stream sources need an explicit schema; instead of hard-coding
    one (which silently mis-reads when the generator switches between
    TIMESTAMP(NANOS) and TIMESTAMP(MICROS) physical types), probe the
    file's actual schema with a batch read and feed that to readStream,
    then apply the shared ts normalization.
    """
    raw_schema = _read_events_batch(spark, sf_dir).schema
    raw = (
        spark.readStream.schema(raw_schema)
        # file-stream sources take a directory; filter to the events file
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return _normalize_events_ts(raw)


TPCH_TABLES = (
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
)
