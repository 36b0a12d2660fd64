"""Incremental ingestion and streaming aggregation.

The reference has **no** streaming operators (SURVEY.md §2.9): its
freshness model is cron re-runs + HTTP change detection. The idiomatic
Spark upgrade is a file-watch source with ``trigger(availableNow)`` —
batch semantics per invocation (exactly the reference's cadence
model), but incremental: only new files in the landing directory are
processed, with exactly-once bookkeeping in the checkpoint instead of
our KV etag table.

Components:
- :func:`incremental_csv_source` — readStream over a landing dir with
  explicit schema (schema inference is disabled on streams for good
  reason).
- :func:`windowed_event_counts` — tumbling-window aggregation with a
  watermark for late data.
- :func:`streaming_dedup` — watermarked dropDuplicates (exact dedup
  as a stream: state is bounded by the watermark horizon).
- :func:`run_available_now` — drive any of the above into a parquet
  sink and wait; each call = one incremental batch (Trigger.Once
  semantics, the reference's cron-job analog).

Scale notes: file listing is the bottleneck of file-source streams at
large file counts — keep landing dirs partitioned by date so the
source lists a bounded window; checkpoint dirs are per-(source, sink)
and must live on durable shared storage on a real cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def incremental_csv_source(
    spark: SparkSession,
    landing_dir: str,
    schema: T.StructType,
    header: bool = True,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = (
        spark.readStream.schema(schema)
        .option("header", str(header).lower())
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.csv(landing_dir)


def incremental_binary_source(
    spark: SparkSession,
    landing_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Checkpointed incremental stream of OPAQUE FILES — the
    non-CSV half of streaming ingestion (round-6 brief #6: Excel
    workbooks and shapefile zips are whole-file formats no row-parsing
    file stream can read). The ``binaryFile`` source gives the same
    exactly-once new-files-only tracking the CSV stream gets from its
    checkpoint; each row is (path, modificationTime, length, content)
    and :func:`parse_binary_files` parses the bytes on the executors
    with the batch readers' pure cores (sources/readers.
    excel_string_rows, shapefile.shapefile_string_rows) — one
    ingestion semantics, two physical sources."""
    # the binaryFile format's FIXED schema — file streaming sources
    # require it stated explicitly
    reader = spark.readStream.format("binaryFile").schema(
        "path string, modificationTime timestamp, "
        "length long, content binary"
    )
    if max_files_per_trigger:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    return reader.load(landing_dir)


def parse_binary_files(
    src: DataFrame,
    row_parser,
    schema: T.StructType,
) -> DataFrame:
    """The typed rows inside a stream of opaque files: each
    micro-batch's (path, content) rows flow through ``mapInPandas``,
    where ``row_parser(path, content) -> list[tuple[str|None, ...]]``
    (pure bytes → string rows, values in ``schema.fields`` order)
    parses the file bytes Arrow-batched ON THE EXECUTORS; the string
    rows are cast to ``schema``. Feed the result to
    :func:`run_available_now_staged` like any other stream.

    The driver never materializes file CONTENT — a 10k-workbook
    backlog parses with executor parallelism and per-task memory, not
    a driver loop. The parser must be a pure picklable function (no
    SparkSession, no driver state); a parse failure fails its task and
    therefore the batch LOUDLY, before anything is staged.

    One binary file's rows are parsed by one task: parallelism is
    across files, which matches the landing-zone shape (many modest
    files). A single multi-GB archive would need a splittable-format
    source instead — that ceiling is inherent to whole-file formats,
    not this operator.
    """
    names = [f.name for f in schema.fields]
    str_schema = T.StructType(
        [T.StructField(n, T.StringType()) for n in names]
    )

    def parse_partition(batches):
        import pandas as pd

        for pdf in batches:
            rows: list[tuple] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                rows.extend(row_parser(path, bytes(content)))
            if rows:
                yield pd.DataFrame(rows, columns=names).astype(object)
            else:
                yield pd.DataFrame({n: pd.Series(dtype=object) for n in names})

    return src.select("path", "content").mapInPandas(
        parse_partition, schema=str_schema
    ).select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    group_col: str = "event_type",
) -> DataFrame:
    """Tumbling-window counts with late-data watermark. Streaming twin
    of the batch q23 rollup."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration), F.col(group_col))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            group_col,
            "n",
            "total_value",
        )
    )


def streaming_dedup(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "24 hours",
) -> DataFrame:
    """Exactly-once-per-key within the watermark horizon — the
    streaming form of d01 exact dedup; state size stays bounded
    because keys older than the watermark are evicted."""
    return df.withWatermark(ts_col, watermark).dropDuplicates([*key_cols])


def run_available_now(
    df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    output_mode: str = "append",
    fmt: str = "parquet",
) -> None:
    """Process everything currently available, then stop (the
    reference's one-cron-run unit of work)."""
    q = (
        df.writeStream.format(fmt)
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_available_now_staged(
    df: DataFrame,
    staging_dir: str,
    checkpoint_dir: str,
) -> None:
    """One ``availableNow`` pass whose increments land as per-batch
    plain-parquet directories (``<staging_dir>/batch-<id>/``) via
    ``foreachBatch`` — NOT a live file sink.

    Why not the parquet sink: the file sink keeps a ``_spark_metadata``
    commit log inside its output path, so files written there can never
    safely be moved out (readers of the sink resolve files through the
    log). Staged batches are ordinary parquet dirs with no such log,
    which lets a caller VALIDATE an increment first and only then move
    its files into a durable store — or quarantine them on failure —
    without corrupting streaming bookkeeping. The source checkpoint
    still provides exactly-once file tracking; overwrite-by-batch-id
    keeps the staged write idempotent under the checkpoint's
    at-least-once batch replay (a replayed batch rewrites its own
    ``batch-<id>`` dir instead of duplicating rows).

    Callers list ``staging_dir`` for pending ``batch-*`` dirs after the
    pass — leftovers from a crashed earlier call surface there too and
    get re-validated/committed on the next call.
    """
    import os

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(staging_dir, f"batch-{batch_id}")
        )

    q = (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stateful_running_totals(
    events: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful streaming operator: per-key running totals via
    ``applyInPandasWithState`` (Arrow-batched; state = (count, sum)
    survives across micro-batches in the state store).

    Emits one row per key per micro-batch carrying the running
    ``n_events`` / ``total_value`` — the monotone counter makes the
    *final* row per key (max n_events) equal the batch aggregate, which
    is exactly the property the oracle checks. This is the template a
    genuinely non-SQL stateful op (sessionization with custom timeout
    rules, cross-batch dedup with TTL, online sketches) drops into:
    swap the state tuple and the per-batch fold.

    Scale notes: state lives partitioned by key in the checkpoint's
    state store — memory is O(distinct keys in horizon), not O(rows);
    Arrow moves each key-group batch to Python in one block (never
    row-at-a-time); use GroupStateTimeout.ProcessingTimeTimeout +
    ``state.setTimeoutDuration`` to evict idle keys on unbounded key
    domains.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key_col} bigint, n_events bigint, total_value double"
    state_schema = "n bigint, s double"

    def fold(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value_col].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {key_col: [key[0]], "n_events": [n], "total_value": [s]}
        )

    return events.groupBy(key_col).applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    max_gap: str,
    watermark: str,
) -> DataFrame:
    """Watermarked stream-stream inner join: right rows with the same
    ``key`` whose timestamp falls in [left_ts, left_ts + max_gap].

    This is the streaming shape Spark requires for unbounded joins:
    BOTH sides carry a watermark and the join condition bounds the
    time range, so each side's state store only retains rows inside
    the (watermark + max_gap) horizon — without the range bound the
    state would grow with the stream. The reference has no streaming
    at all (SURVEY §2.9); this is the idiomatic upgrade for its
    "correlate events across feeds" class of batch SQL.

    The equality key rides in the join condition, so the physical plan
    shuffles both sides on ``key`` once and joins state symmetrically —
    the streaming twin of the batch interval join (q27 / operators/
    temporal.py range_join).

    Column names must be disjoint across sides (rename before calling
    — both streams often derive from one source, and unique names are
    what keeps a streaming self-join unambiguous).
    """
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        raise ValueError(f"rename overlapping columns first: {overlap}")
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (F.col(left_key) == F.col(right_key))
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.expr(f"{left_ts} + INTERVAL {max_gap}"))
    )
    return lw.join(rw, cond, "inner")


def foreach_batch_upsert(sink_root: str, keys: list[str]):
    """Build a ``foreachBatch`` function that merge-upserts each
    micro-batch into a versioned parquet table by ``keys``.

    The production shape for publishing a streaming aggregation
    without a transactional table format: per batch, anti-join the
    current published snapshot against the batch's keys, union the
    fresh rows in, write a NEW version directory, then atomically
    repoint ``_CURRENT`` (os.replace) — readers always see a complete
    snapshot, never a half-written merge. Version dirs are named by
    batch_id, so a retried batch overwrites its own directory instead
    of duplicating rows: idempotent under the checkpoint's
    at-least-once replay, which upgrades the sink to exactly-once.

    This is the streaming twin of publish/protocol.py's staging-swap
    (same shadow-write + atomic-pointer idea the reference implements
    with temp Postgres schemas, load_dataset.py:209-252). On Delta/
    Iceberg the whole function collapses to ``MERGE INTO``; the
    mechanism here shows the contract a lake-format sink must honor.
    """
    import os

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        pointer = os.path.join(sink_root, "_CURRENT")
        version_dir = os.path.join(sink_root, f"v{batch_id}")
        merged = batch_df
        if os.path.exists(pointer):
            with open(pointer) as f:
                cur_name = f.read().strip()
            if cur_name == f"v{batch_id}":
                # Replay after a crash that landed between the pointer
                # repoint and the checkpoint commit: _CURRENT already
                # points at THIS batch's snapshot. Re-merging would read
                # v{batch_id} lazily and overwrite the same directory —
                # Spark either refuses ("cannot overwrite a path that is
                # also being read from") or corrupts the snapshot
                # mid-read. The snapshot already contains this batch, so
                # the SINK must not change — but the batch itself must
                # still be fully processed: on a stateful query the
                # state-store commits happen while the batch's
                # partitions execute, and Spark 4 validates every
                # partition committed (STATE_STORE_COMMIT_VALIDATION
                # — "returning from the function early" is the named
                # failure).  A bare ``return`` here killed the
                # restarted stream; drain the batch through a noop
                # write instead (all partitions run, nothing lands).
                batch_df.write.format("noop").mode("overwrite").save()
                return
            base = spark.read.parquet(os.path.join(sink_root, cur_name))
            keep = base.join(
                batch_df.select(*keys).distinct(), keys, "left_anti"
            )
            merged = keep.unionByName(batch_df)
        merged.write.mode("overwrite").parquet(version_dir)
        tmp = pointer + ".tmp"
        with open(tmp, "w") as f:
            f.write(f"v{batch_id}")
        os.replace(tmp, pointer)

    return upsert


def read_upsert_sink(spark: SparkSession, sink_root: str) -> DataFrame:
    """Read the current snapshot of a :func:`foreach_batch_upsert`
    sink (follows the ``_CURRENT`` pointer)."""
    import os

    pointer = os.path.join(sink_root, "_CURRENT")
    with open(pointer) as f:
        return spark.read.parquet(os.path.join(sink_root, f.read().strip()))
