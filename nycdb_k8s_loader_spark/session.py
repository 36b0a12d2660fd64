"""SparkSession factory, eager stage boundaries, the expression memo
and the loop session.

The reference opens one psycopg2 connection per job
(load_dataset.py:343-344 in /root/reference); our unit of execution is
one SparkSession per job. Defaults are tuned so the same code runs on
``local[N]`` for tests and on a multi-executor cluster unchanged:

- AQE on (runtime broadcast/skew re-planning — replaces the manual
  index tuning the reference does with CREATE INDEX, wow_2021 sql:130).
- shuffle partitions sized to the environment, not the 200 default.
- Arrow enabled for the few pandas-UDF paths (dedup/similarity pack).
- UTC session timezone so timestamp semantics match the DuckDB oracle.

Every eager stage boundary in the package goes through one primitive,
:func:`materialize` (a named, timed ``localCheckpoint`` that also
releases the generation it supersedes) or its pool form
:func:`materialize_all`; :func:`stage` names the driver-side plan
building around them in the heavy builders. Each stage runs under its
name as the Spark job description and, while a :func:`stage_ledger`
collector is open, leaves a ``(name, seconds)`` record. Expression
trees over fixed column names are built once per SparkContext
(:func:`memoized`). Iterative loops and stateful streams plan on the
caller's loop session (:func:`_on_loop_session`), a cached clone with
a narrow shuffle width, so the caller's own conf is never written.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from functools import partial, wraps
from weakref import WeakKeyDictionary

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

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
        # :func:`materialize`). Operators release their own
        # superseded generations; this bounds whatever a plain
        # `.cache()`-happy caller leaks anyway.
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


# --- eager stage boundaries --------------------------------------------------

# open stage_ledger collectors, keyed by id(records)
_COLLECTORS: dict[int, list] = {}
_COLLECTORS_LOCK = threading.Lock()
# per thread: seconds spent in nested stages, one entry per open stage
_OPEN = threading.local()
_DESCRIPTION = "spark.job.description"


@contextmanager
def stage_ledger():
    """Collect ``(name, seconds)`` for every :func:`stage` and
    :func:`materialize` that finishes, on any thread, while the block
    is open: ``with stage_ledger() as records: ...``. With no
    collector open nothing is recorded, so a long-lived session never
    grows a ledger. Recording adds no plan node and no Spark job."""
    records: list[tuple[str, float]] = []
    with _COLLECTORS_LOCK:
        _COLLECTORS[id(records)] = records
    try:
        yield records
    finally:
        with _COLLECTORS_LOCK:
            del _COLLECTORS[id(records)]


@contextmanager
def stage(name: str):
    """Run the block as the stage ``name``: its Spark jobs carry
    ``name`` as their job description (the caller's description is
    restored afterwards) and its time goes to every open
    :func:`stage_ledger`.

    A stage's record is its wall time minus the stages nested inside
    it on the same thread, so a build's records partition the time it
    spent in stages: a block around an operator's plan construction
    and its checkpoints records the driver-side plan building, and
    each checkpoint records its own job. Stages run concurrently by
    :func:`materialize_all` overlap, so their sum can exceed the wall
    time. As a decorator, ``@stage(name)`` runs every call of the
    function as the stage."""
    sc = SparkContext._active_spark_context
    prev = sc.getLocalProperty(_DESCRIPTION) if sc else None
    if sc:
        sc.setJobDescription(name)
    nested = _OPEN.__dict__.setdefault("nested", [])
    nested.append(0.0)
    t0 = time.perf_counter()
    try:
        yield
    finally:
        wall = time.perf_counter() - t0
        inner = nested.pop()
        if nested:
            nested[-1] += wall
        if sc:
            sc.setLocalProperty(_DESCRIPTION, prev)
    if _COLLECTORS:
        with _COLLECTORS_LOCK:
            for records in _COLLECTORS.values():
                records.append((name, wall - inner))


def release(*dfs: DataFrame) -> None:
    """Free the block-manager storage behind SUPERSEDED eager
    localCheckpoints without waiting for the driver's next full GC +
    ContextCleaner sweep (see :func:`materialize`).

    The checkpointed Dataset's analyzed plan is a ``LogicalRDD``
    wrapping the persisted RDD; unpersisting that RDD drops its
    blocks. Safe ONLY for frames nothing downstream will execute
    again — a localCheckpoint's blocks ARE its data (lineage is
    truncated), so releasing a frame a returned plan still references
    would fail later actions with 'checkpoint block not found'.
    Wrapped defensively: the LogicalRDD handle is internal API, and a
    no-op release (also what a frame that is not a checkpoint gets)
    just means the ContextCleaner reclaims the blocks on its own
    schedule instead.
    """
    for df in dfs:
        try:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:  # noqa: BLE001 - best-effort storage hygiene
            pass


_release = release


def materialize(
    df: DataFrame, name: str, release: tuple[DataFrame, ...] = ()
) -> DataFrame:
    """``df`` as an eager localCheckpoint, run as the stage ``name``
    (:func:`stage`); then each frame in ``release`` — the generations
    this checkpoint supersedes — is released.

    A checkpoint is the in-session analog of a published stage table:
    it truncates lineage (an iterative loop's plan would otherwise
    double per round, and the planner, not the job, becomes the
    bottleneck) and keeps N consumers of a stage from re-running its
    upstream pipeline N times.

    Checkpoint hygiene (round 7): every eager localCheckpoint pins
    blocks in the block manager, and Spark's ContextCleaner only
    reclaims them after a DRIVER GC collects the superseded reference
    — by default up to ``spark.cleaner.periodicGC.interval`` = 30
    MINUTES later. An iterative operator that checkpoints per round
    therefore leaks (rounds - 1) generations of state into every
    long-lived session; measured at sf3, queries running after a few
    graph/dedup calls slowed 2-10× purely from that accumulated
    storage (d11: 12 s clean vs 117 s in a leaky session). So each
    generation is released the moment its successor is materialized.
    Only frames that no RETURNED plan references may be released
    (:func:`release`)."""
    with stage(name):
        out = df.localCheckpoint(eager=True)
    _release(*release)
    return out


def materialize_all(*stages: tuple[str, DataFrame]) -> list[DataFrame]:
    """:func:`materialize` several INDEPENDENT ``(name, frame)``
    stages concurrently; the checkpoints come back in argument order.

    Actions are only sequential because driver code calls them
    sequentially: submitting independent builds from driver threads
    lets each job's tail back-fill the others' idle executors (r14,
    c09 15.4 → 12.9 s). The threads are the load scheduler's
    (:func:`~.publish.scheduler.run_graph`), which gives each one the
    caller's Spark local properties, so the jobs stay in the caller's
    job group."""
    from nycdb_k8s_loader_spark.publish.scheduler import Node, run_graph

    nodes = [Node(run=partial(materialize, df, name)) for name, df in stages]
    return run_graph(nodes, width=len(nodes), spark=stages[0][1].sparkSession)


# --- the per-context expression memo ----------------------------------------

# SparkContext -> {(builder, args, arg types): built value}; a store dies
# with its context, so a restarted context rebuilds from scratch
_MEMOS: WeakKeyDictionary = WeakKeyDictionary()
_MEMOS_LOCK = threading.Lock()
_MEMO_ARGS = (str, int, float, bool, type(None))


def memoized(builder):
    """``builder`` with its result cached per live SparkContext.

    Every ``F.*`` call is a JVM round trip, so a nested higher-order
    expression costs one per node each time a query is built. A
    builder whose tree depends only on its arguments is built once per
    context and handed out again.

    What may be memoized: builders of Columns over column NAMES
    (``F.col``) and constants, called with positional ``str``/``int``/
    ``float``/``bool``/``None`` arguments only — a Column or DataFrame
    argument raises. Never a data-derived value (a count, a derived
    cell size): the key space must stay bounded by the code's own
    names, since entries live as long as the context. Never a Column
    bound to one DataFrame (``df["x"]``): it resolves against that
    frame's plan and would leak it into every later query. Unresolved
    name-keyed Columns are plain expression trees, so sharing one
    between queries, frames and threads is safe.

    Thread-safe: two threads asking for the same key may both build,
    and both get the first value stored. The store is keyed on the
    SparkContext object, so ``spark.stop()`` and a new session start
    from an empty one."""

    @wraps(builder)
    def cached(*args):
        if not all(isinstance(a, _MEMO_ARGS) for a in args):
            raise TypeError(
                f"{builder.__name__}: memoized builders take names and "
                f"constants only, got {[type(a).__name__ for a in args]}"
            )
        sc = SparkContext._active_spark_context
        if sc is None:
            return builder(*args)
        key = (builder, args, tuple(type(a) for a in args))
        with _MEMOS_LOCK:
            store = _MEMOS.setdefault(sc, {})
            if key in store:
                return store[key]
        built = builder(*args)
        with _MEMOS_LOCK:
            return store.setdefault(key, built)

    return cached


# --- the loop session -------------------------------------------------------


def _rebind(df: DataFrame, session) -> DataFrame:
    """``df``'s analyzed plan as a DataFrame of ``session`` (internal
    ``Dataset.ofRows``; same JVM plan, other session's conf)."""
    from pyspark.sql.classic.dataframe import DataFrame as _CDF

    jvm_dataset = session._jvm.org.apache.spark.sql.classic.Dataset
    plan = df._jdf.queryExecution().analyzed()
    return _CDF(jvm_dataset.ofRows(session._jsparkSession, plan), session)


# caller session -> (its conf when the clone was made, the clone).
# Measured before AQE was left on (perfbench, 4 vCPUs, seeds 101-110,
# traced, 10 alternating pairs, AQE off vs on): refresh
# operators.graph.self_s median 1.446 vs 1.496 s (AQE-off IQR 0.235),
# analytics plans.build_s.d09_fuzzy_dedup_e2e 0.078 vs 0.086 s (IQR
# 0.010); AQE off bought less than its IQR on both, so it was dropped.
_LOOP_SESSIONS: WeakKeyDictionary = WeakKeyDictionary()
_LOOP_SESSIONS_LOCK = threading.Lock()


def _on_loop_session(*dfs: DataFrame) -> tuple[DataFrame, ...]:
    """``dfs`` rebound onto the loop session of their caller session.

    The loop session is one cached ``newSession()`` clone per caller.
    It shares the SparkContext (block manager, executors — checkpoints
    work unchanged) but owns its SQLConf, which is written once, when
    the clone is made: the caller's conf with
    ``spark.sql.shuffle.partitions`` clamped to
    :func:`small_shuffle_partitions`. Two kinds of plan run there:

    - iterative loops (graph operators, similarity's Lloyd rounds)
      run 2-3 tiny shuffles per round, and at the batch default task
      scheduling, not data, is the bottleneck (wow portfolio CC
      2.8 s → 1.6 s at sf0.1 by 32 → 8); they rebind their result
      back, so downstream composition plans under the caller's conf;
    - stateful streams materialize one state-store instance PER
      shuffle partition, and every micro-batch pays an open/commit
      per instance — with the batch default (200) a stream-stream
      join runs 400 store commits per batch regardless of data volume
      (measured at sf0.1: st04 27 s → 3.7 s on 8 cores; 12.6/5.5/3.3/
      2.3 s at 64/32/16/8 partitions on 32 cores). The count is BAKED
      INTO the checkpoint, so at deploy scale size the session's own
      setting for state volume.

    The engine plans independent jobs concurrently from driver
    threads, so clamping the caller's own conf would leak into them;
    on the clone no other planner sees it, and concurrent loops and
    streams share it. AQE stays as the caller set it (the A/B above).
    When the caller's conf has changed since the clone was made (e.g.
    the lazily set legacy nanos parquet switch) a new clone replaces
    the cached one; plans still running keep the old clone, whose
    conf nobody writes again. Raises if the (internal) rebinding API
    fails: fencing the shared session instead would leak the clamp
    into every concurrent planner."""
    spark = dfs[0].sparkSession
    try:
        seen = spark._jsparkSession.conf().getAll().toString()
        with _LOOP_SESSIONS_LOCK:
            made, loop = _LOOP_SESSIONS.get(spark, (None, None))
            if made != seen:
                loop = spark.newSession()
                for key, value in spark.conf.getAll.items():
                    try:
                        loop.conf.set(key, value)
                    except Exception:  # noqa: BLE001
                        pass  # static/core entries — context-level, shared anyway
                loop.conf.set(
                    "spark.sql.shuffle.partitions",
                    str(small_shuffle_partitions(spark)),
                )
                _LOOP_SESSIONS[spark] = (seen, loop)
        return tuple(_rebind(df, loop) for df in dfs)
    except Exception as exc:
        raise RuntimeError(
            "cannot rebind the loop's input onto a private session; "
            "refusing to fence the shared session"
        ) from exc


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
