"""Extended packs: graph clustering, trigram similarity, streaming,
multimodal (stub-decoded).

- g01: the WOW-portfolio capability (reference wowutil.py:74-85 builds
  a networkx graph driver-side; we solve small graphs the same way with
  stdlib union-find and larger ones by distributed label propagation)
  composed with the dedup pack: near-dup pairs → cluster ids.
- f01: the pg_trgm capability (reference wowutil.py:68-71) as native
  array expressions.
- st01: Structured Streaming windowed aggregation whose availableNow
  result must equal the batch oracle — the streaming/batch parity
  check.
- m01/m02: multimodal plumbing over synthetic binary payloads
  (rows-only checks; codecs are stubbed — no image/audio libs here).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nycdb_k8s_loader_spark.functions.text_similarity import trigrams
from nycdb_k8s_loader_spark.operators.dedup import ngram_jaccard_pairs
from nycdb_k8s_loader_spark.operators.graph import cluster_assignments
from nycdb_k8s_loader_spark.operators.multimodal import (
    decode_media_metadata,
    media_stats,
    synthetic_media,
)
from nycdb_k8s_loader_spark.plans.catalog import register
from nycdb_k8s_loader_spark.session import (
    _on_loop_session,
    _rebind,
    events_stream,
    materialize,
)
from nycdb_k8s_loader_spark.streaming.pipeline import windowed_event_counts

_JACCARD_EDGES_08 = """
    toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS l
        FROM documents
    ),
    words AS (
        SELECT DISTINCT doc_id,
               CASE WHEN len(l) >= 3
                    THEN l[i] || ' ' || l[i+1] || ' ' || l[i+2]
                    ELSE array_to_string(l, ' ') END AS w
        FROM toks,
             unnest(CASE WHEN len(l) >= 3 THEN range(1, len(l) - 1)
                         ELSE [CAST(1 AS BIGINT)] END) AS t(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_words FROM words GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
        SELECT doc_a, doc_b
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common * 1.0 / (sa.n_words + sb.n_words - n_common) >= 0.8
    )
"""




def _run_memory_stream(spark, stream_df, prefix: str, mode: str):
    """Run an availableNow memory-sink query on the caller's loop
    session, whose narrow shuffle width sizes the state store (one
    store instance per shuffle partition — the batch default of 200
    pays hundreds of store commits per micro-batch for zero benefit;
    :func:`~..session._on_loop_session`). The sink registers its view
    in the session that started the query, so it is read back there
    and rebound onto the caller."""
    (stream_df,) = _on_loop_session(stream_df)
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return _rebind(stream_df.sparkSession.table(name), spark)


@register(
    "g01_dedup_clusters",
    f"""
    WITH RECURSIVE {_JACCARD_EDGES_08},
    sym AS (
        SELECT doc_a AS a, doc_b AS b FROM edges
        UNION SELECT doc_b, doc_a FROM edges
    ),
    reach(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM sym)
        UNION
        SELECT reach.a, sym.b FROM reach JOIN sym ON reach.b = sym.a
    )
    SELECT a AS doc_id, MIN(b)::BIGINT AS cluster_id FROM reach GROUP BY a
    """,
    doc="Connected-component dedup clusters over 0.8-Jaccard edges: "
        "connected components (portfolio-graph capability, "
        "wowutil.py:74-85): driver union-find below the edge-size gate, "
        "distributed min-label propagation above it. "
        "Oracle: recursive-CTE transitive closure.",
    tags=("graph", "dedup"),
)
def g01(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = ngram_jaccard_pairs(docs, threshold=0.8, shingles=3, exact_allpairs=True).select(
        "doc_a", "doc_b"
    )
    return cluster_assignments(edges)


@register(
    "f01_trigram_name_matches",
    """
    WITH t AS (
        SELECT p_partkey, p_brand,
               list_distinct(list_transform(
                   generate_series(1, length(p) - 2),
                   i -> substring(p, i, 3)
               )) AS tg
        FROM (SELECT p_partkey, p_brand,
                     '  ' || lower(trim(p_name)) || ' ' AS p
              FROM part)
    )
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           ROUND(length(list_intersect(a.tg, b.tg)) * 1.0
                 / length(list_distinct(list_concat(a.tg, b.tg))), 4) AS sim
    FROM t a JOIN t b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE length(list_intersect(a.tg, b.tg)) * 1.0
          / length(list_distinct(list_concat(a.tg, b.tg))) >= 0.5
    """,
    doc="pg_trgm similarity (K8/F13; wowutil.py:68-71) as native array "
        "expressions: padded trigram sets, Jaccard ratio, brand-blocked "
        "self-join (blocking keeps the pair space linear at scale).",
    tags=("string", "similarity"),
)
def f01(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Inverted-index form: |A∩B| comes from counting shared (brand,
    # trigram) postings, |A∪B| from per-key set sizes — identical
    # integers, hence identical doubles, to the oracle's per-pair
    # list_intersect/list_concat form. The naive brand-blocked pair
    # join evaluated trigram_similarity per pair, rebuilding BOTH
    # trigram arrays each time (~8M pairs x 2 array constructions —
    # measured 361 s at sf0.1); the posting join flows ~20M tiny rows
    # through one partial-agg shuffle instead (~8 s). pg_trgm's GIN
    # index is this same inverted list. NOTE: d03's bucket-groupBy +
    # in-bucket pair expansion was tried here and measured SLOWER
    # (10 s): trigram document frequency is Zipfian, so hot (brand,
    # trigram) buckets materialize O(df²) pair structs inside single
    # rows — the join form streams those pairs instead. Bucket
    # expansion wins only when buckets are bounded (minhash bands);
    # postings lists need the streaming join.
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    base = part.select(
        F.col("p_partkey").alias("key"),
        F.col("p_brand").alias("brand"),
        trigrams("p_name").alias("tg"),
    )
    sizes = base.select("key", F.size("tg").alias("n"))
    post = base.select("key", "brand", F.explode("tg").alias("w"))
    a = post.select(F.col("key").alias("key_a"), "brand", "w")
    b = post.select(F.col("key").alias("key_b"), "brand", "w")
    common = (
        a.join(b, ["brand", "w"])
        .filter(F.col("key_a") < F.col("key_b"))
        .groupBy("key_a", "key_b")
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.select(F.col("key").alias("key_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("key").alias("key_b"), F.col("n").alias("nb"))
    sim = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        common.join(F.broadcast(sa), "key_a")
        .join(F.broadcast(sb), "key_b")
        .filter(sim >= 0.5)
        .select("key_a", "key_b", F.round(sim, 4).alias("sim"))
    )




@register(
    "st01_streaming_hourly_rollup",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*)::BIGINT AS n, ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
    doc="Structured Streaming windowed aggregation (watermarked "
        "tumbling window, availableNow trigger, complete-mode memory "
        "sink) — result must equal the *batch* oracle: the streaming/"
        "batch parity guarantee. Reference has no streaming (SURVEY "
        "§2.9); this is the incremental-cadence upgrade of its cron "
        "model.",
    tags=("streaming", "agg"),
)
def st01(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = events_stream(spark, sf_dir)
    windowed = windowed_event_counts(
        events, window_duration="1 hour", watermark="2 hours"
    )
    return _run_memory_stream(spark, windowed, "st01", "complete").select(
        "window_start", "event_type", "n", "total_value"
    )


@register(
    "st02_stateful_user_totals",
    """
    SELECT user_id, COUNT(*)::BIGINT AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY user_id
    """,
    doc="Custom stateful streaming operator (applyInPandasWithState): "
        "per-user running (count, value-sum) carried across "
        "micro-batches in the state store, Arrow-batched per key "
        "group. The running counter is monotone, so the final "
        "emission per key must equal the batch aggregate — which is "
        "the oracle. Cross-batch state is exercised in "
        "tests/test_streaming.py (two forced micro-batches).",
    tags=("streaming", "stateful"),
)
def st02(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import tempfile

    from nycdb_k8s_loader_spark.streaming.pipeline import (
        run_available_now,
        stateful_running_totals,
    )
    from pyspark.sql.window import Window

    raw = events_stream(spark, sf_dir)
    totals = stateful_running_totals(raw.select("user_id", "value"))
    # One stable sink/checkpoint per input dir (NOT a fresh mkdtemp per
    # call, which leaks a directory every invocation): reruns reuse the
    # checkpoint, process zero new files, and read back the same sink —
    # exactly-once bookkeeping doubling as idempotency.
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    tmp = f"{tempfile.gettempdir()}/spark_graft_st02_{digest}"
    run_available_now(totals, f"{tmp}/sink", f"{tmp}/ckpt")
    out = spark.read.parquet(f"{tmp}/sink")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("total_value", 2).alias("total_value"),
        )
    )


_MEDIA_EXPECTED_PARQUET = "/tmp/nycdb_spark_media_expected_64.parquet"


def _ensure_media_oracle_parquet() -> str:
    """Write the pure-Python expected-metadata spec (see
    operators/multimodal.expected_media_metadata) as a parquet the
    DuckDB oracles read. Runs at module import — before the driver
    executes either side of the compare — so m02/m03 get real
    hash-checked CORRECTNESS rows instead of `err: no_oracle`. DuckDB
    itself cannot recompute the checksums (its md5() is VARCHAR-only
    and the payloads are non-UTF8 binary), hence the spec file."""
    import pandas as pd

    from nycdb_k8s_loader_spark.operators.multimodal import (
        expected_media_metadata,
    )

    pdf = pd.DataFrame(
        expected_media_metadata(),
        columns=[
            "media_id", "kind", "n_bytes", "width", "height",
            "duration_ms", "checksum",
        ],
    )
    for c, t in [("width", "Int32"), ("height", "Int32"),
                 ("duration_ms", "Int64")]:
        pdf[c] = pdf[c].astype(t)
    pdf.to_parquet(_MEDIA_EXPECTED_PARQUET, index=False)
    return _MEDIA_EXPECTED_PARQUET


_ensure_media_oracle_parquet()


@register(
    "m01_media_stats",
    """
    WITH m AS (
        SELECT CASE WHEN i % 3 = 0 THEN 'image'
                    WHEN i % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS kind,
               (128 + (i % 5) * 64)::BIGINT AS n_bytes
        FROM generate_series(0, 63) AS t(i)
    )
    SELECT kind, count(*)::BIGINT AS n_items,
           sum(n_bytes)::BIGINT AS total_bytes,
           round(avg(n_bytes), 2) AS avg_bytes
    FROM m GROUP BY kind
    """,
    doc="Multimodal payload stats (binary column + typed metadata): "
        "payload pruned right after length(), no decode, no shuffle of "
        "bodies. The synthetic payload sizes are closed-form "
        "(128 + (id%5)*64 bytes), so the oracle recomputes the stats "
        "from the generator SPEC — fully hash-checked.",
    tags=("multimodal",),
)
def m01(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_stats(synthetic_media(spark))


@register(
    "m02_media_decode_meta",
    f"""
    SELECT media_id, kind, n_bytes, width, height, duration_ms, checksum
    FROM read_parquet('{_MEDIA_EXPECTED_PARQUET}')
    """,
    doc="Arrow-batched mapInPandas decode plumbing (stub decoder "
        "derives deterministic metadata from payload checksums): "
        "exercises the real UDF signature, batch shape, and output "
        "schema a production decoder drops into. Oracle: a pure-Python "
        "spec twin (plain loop + hashlib, no Spark/Arrow anywhere) "
        "written to parquet at import — any regression in the "
        "distributed decode path diverges from it.",
    tags=("multimodal",),
)
def m02(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decode_media_metadata(synthetic_media(spark), decode_stub=True)


@register(
    "m03_video_frame_samples",
    f"""
    SELECT m.media_id, m.duration_ms,
           j::INT AS frame_idx, (j * 1000)::BIGINT AS offset_ms
    FROM read_parquet('{_MEDIA_EXPECTED_PARQUET}') m
    CROSS JOIN generate_series(0, 7) AS t(j)
    WHERE m.kind = 'video' AND j * 1000 <= m.duration_ms
    """,
    doc="Frame-sampling plan for video rows: offset lattice (every N "
        "ms, capped at 8 frames) computed JVM-side via "
        "sequence+slice+posexplode; only the (stubbed) frame decode "
        "itself would cross into Python. Oracle: the lattice "
        "re-derived in SQL over the pure-Python spec parquet (j*1000 "
        "up to min(duration, 7s)).",
    tags=("multimodal",),
)
def m03(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.multimodal import sample_frames

    return sample_frames(synthetic_media(spark))


@register(
    "st03_streaming_dedup",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
    doc="Watermarked streaming dedup (dropDuplicates on a stream): "
        "exactly-once-per-(user, event_type) with state bounded by the "
        "watermark horizon — keys older than 24h of event time are "
        "evicted instead of accumulating forever, which is what makes "
        "exact dedup viable on an unbounded stream (d01 is the batch "
        "twin). Output projects only the dedup keys, so which physical "
        "row won is irrelevant and the result is deterministic; the "
        "oracle is plain SELECT DISTINCT.",
    tags=("streaming", "dedup"),
)
def st03(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.streaming.pipeline import streaming_dedup

    events = events_stream(spark, sf_dir)
    deduped = streaming_dedup(
        events, ["user_id", "event_type"], ts_col="ts", watermark="24 hours"
    ).select("user_id", "event_type")
    return _run_memory_stream(spark, deduped, "st03", "append")


@register(
    "st04_stream_interval_join",
    """
    SELECT a.event_id AS err_id, b.event_id AS follow_id,
           a.user_id AS user_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    WHERE a.event_type = 'error' AND b.event_type = 'purchase'
    """,
    doc="Watermarked stream-stream interval join: purchases within 30 "
        "minutes after an error by the same user, both sides unbounded "
        "streams. The time-range bound in the join condition is what "
        "lets Spark evict state — each side retains only rows inside "
        "the (watermark + gap) horizon, so state is O(recent window), "
        "never O(stream). Batch-SQL oracle over the same parquet "
        "proves the availableNow pass emits exactly the batch join.",
    tags=("streaming", "join"),
)
def st04(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.streaming.pipeline import (
        stream_interval_join,
    )

    events = events_stream(spark, sf_dir)
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("err_user"),
        F.col("ts").alias("err_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("follow_id"),
        F.col("user_id").alias("follow_user"),
        F.col("ts").alias("follow_ts"),
    )
    joined = stream_interval_join(
        errors,
        purchases,
        left_key="err_user",
        right_key="follow_user",
        left_ts="err_ts",
        right_ts="follow_ts",
        max_gap="30 MINUTES",
        watermark="1 hour",
    ).select("err_id", "follow_id", F.col("err_user").alias("user_id"))
    return _run_memory_stream(spark, joined, "st04", "append")


@register(
    "st05_streaming_session_windows",
    """
    WITH seq AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         >= INTERVAL 30 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM seq
    )
    SELECT user_id, COUNT(*)::BIGINT AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM sess GROUP BY user_id, session_id
    """,
    doc="Streaming session windows (F.session_window, 30-min gap): "
        "Spark's native dynamic-gap session operator merges adjacent "
        "events into sessions inside the state store — state is "
        "O(open sessions), merged incrementally per micro-batch, vs "
        "q22's batch lag+cumsum twin which needs the full history "
        "sorted. availableNow + complete-mode memory sink; oracle is "
        "the batch gap-sessionization over the same parquet — the "
        "streaming/batch parity contract for sessionization.",
    tags=("streaming", "sessionize"),
)
def st05(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = events_stream(spark, sf_dir)
    sessions = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select("user_id", "n_events", "session_start", "session_end")
    )
    return _run_memory_stream(spark, sessions, "st05", "complete")


@register(
    "st06_incremental_publish_rollup",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*)::BIGINT AS n, ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
    doc="Streaming aggregation published through a foreachBatch "
        "merge-upsert sink: update-mode hourly rollup, each "
        "micro-batch anti-join-merged into a versioned parquet "
        "snapshot behind an atomically-repointed _CURRENT pointer "
        "(streaming/pipeline.py foreach_batch_upsert — the plain-"
        "parquet contract a Delta MERGE replaces). Version dirs keyed "
        "by batch_id make checkpoint replays idempotent: exactly-once "
        "publish from an at-least-once stream. Oracle: the batch "
        "rollup — the published snapshot must equal it after the "
        "availableNow pass (and after any rerun: zero new batches, "
        "pointer untouched).",
    tags=("streaming", "publish"),
)
def st06(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import tempfile

    from nycdb_k8s_loader_spark.streaming.pipeline import (
        foreach_batch_upsert,
        read_upsert_sink,
        windowed_event_counts,
    )

    events = events_stream(spark, sf_dir)
    windowed = windowed_event_counts(
        events, window_duration="1 hour", watermark="2 hours"
    )
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    tmp = f"{tempfile.gettempdir()}/spark_graft_st06_{digest}"
    (windowed,) = _on_loop_session(windowed)
    q = (
        windowed.writeStream.foreachBatch(
            foreach_batch_upsert(
                f"{tmp}/sink", ["window_start", "event_type"]
            )
        )
        .option("checkpointLocation", f"{tmp}/ckpt")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_upsert_sink(spark, f"{tmp}/sink").select(
        "window_start", "event_type", "n", "total_value"
    )


@register(
    "d07_dedup_retention",
    f"""
    WITH RECURSIVE {_JACCARD_EDGES_08},
    sym AS (
        SELECT doc_a AS a, doc_b AS b FROM edges
        UNION SELECT doc_b, doc_a FROM edges
    ),
    reach(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM sym)
        UNION
        SELECT reach.a, sym.b FROM reach JOIN sym ON reach.b = sym.a
    ),
    comp AS (SELECT a AS doc_id, MIN(b)::BIGINT AS cluster_id
             FROM reach GROUP BY a)
    SELECT d.doc_id,
           COALESCE(c.cluster_id, d.doc_id)::BIGINT AS cluster_id,
           (CASE WHEN COALESCE(c.cluster_id, d.doc_id) = d.doc_id
                 THEN 1 ELSE 0 END)::INT AS kept
    FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    """,
    doc="End-to-end dedup retention decision — the actual corpus-"
        "curation output: near-dup edges (0.8 shingle-Jaccard) -> "
        "connected components -> keep the minimum doc_id per cluster, "
        "singletons kept by construction. Composes d02's edge build "
        "with g01's clustering and emits one row per document with its "
        "cluster id and a kept flag (int, not bool — pandas bools "
        "hash-format differently across engines). The keep-min rule is "
        "deterministic, so retention is reproducible run-to-run — the "
        "property a training-data pipeline must have for dataset "
        "versioning.",
    tags=("dedup", "pipeline"),
)
def d07(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = ngram_jaccard_pairs(docs, threshold=0.8, shingles=3, exact_allpairs=True).select(
        "doc_a", "doc_b"
    )
    clusters = cluster_assignments(edges)
    return docs.select("doc_id").join(clusters, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        (F.coalesce("cluster_id", F.col("doc_id")) == F.col("doc_id"))
        .cast("int")
        .alias("kept"),
    )


@register(
    "g02_seeded_reachability",
    f"""
    WITH RECURSIVE {_JACCARD_EDGES_08},
    sym AS (
        SELECT doc_a AS a, doc_b AS b FROM edges
        UNION SELECT doc_b, doc_a FROM edges
    ),
    seed AS (SELECT MIN(doc_a) AS s FROM edges),
    walk(node, d) AS (
        SELECT s, 0 FROM seed
        UNION
        SELECT sym.b, walk.d + 1 FROM walk JOIN sym ON walk.node = sym.a
        WHERE walk.d < 20
    )
    SELECT node AS doc_id, MIN(d)::BIGINT AS hops FROM walk GROUP BY node
    """,
    doc="Seeded multi-hop traversal (BFS frontier expansion): every "
        "document reachable from the lowest-id near-dup seed, with "
        "its hop distance — the reference's recursive "
        "wow.get_assoc_addrs_from_bbl portfolio walk "
        "(tests/test_wowutil.py:42-44) re-expressed as distributed "
        "frontier joins (operators/graph.py bfs_reachable). Rounds = "
        "seed eccentricity; oracle is the recursive-CTE BFS with "
        "min-hop aggregation.",
    tags=("graph", "traversal"),
)
def g02(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.graph import bfs_reachable

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # reused by the seed agg AND every hop
    edges = materialize(
        ngram_jaccard_pairs(
            docs, threshold=0.8, shingles=3, exact_allpairs=True
        ).select("doc_a", "doc_b"),
        "g02.edges",
    )
    # Seed = lowest doc id in any edge, as a one-row DataFrame — no
    # driver collect; zero edges (possible at other thresholds/scales)
    # yields an empty seed frame, and the BFS then returns the empty
    # (node, hops) frame the oracle's recursive CTE also produces.
    seeds = (
        edges.agg(F.min("doc_a").alias("node"))
        .filter(F.col("node").isNotNull())
    )
    out = bfs_reachable(edges, seeds, src="doc_a", dst="doc_b")
    return out.select(
        F.col("node").alias("doc_id"), F.col("hops").cast("long").alias("hops")
    )


@register(
    "st07_stream_static_enrich",
    """
    SELECT c.c_mktsegment, e.event_type,
           count(*)::BIGINT AS n_events,
           ROUND(SUM(e.value), 2) AS total_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment, e.event_type
    """,
    doc="Stream-static enrichment (the dimension-join pattern every "
        "streaming pipeline needs): the events STREAM joins the "
        "static customer dimension — Spark re-reads the batch side "
        "per micro-batch and, being broadcast-sized, it hash-joins "
        "with NO stream-side state (unlike stream-stream st04, no "
        "watermark bookkeeping exists for the static side) — then "
        "aggregates per (segment, event_type) in complete mode. "
        "Completes the streaming-join matrix: st04 stream-stream, "
        "st07 stream-static. Oracle: the equivalent batch join+agg.",
    tags=("streaming", "join"),
)
def st07(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = events_stream(spark, sf_dir)
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = events.join(
        customer, events.user_id == customer.c_custkey
    )
    # no distinct aggregates on streams (state would be O(distinct
    # values) anyway — approx_count_distinct is the streaming answer
    # when uniques matter); count + sum keep state O(groups)
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return _run_memory_stream(spark, agg, "st07", "complete")


@register(
    "f02_levenshtein_name_pairs",
    """
    WITH names AS (
        SELECT p_brand AS brand, lower(trim(p_name)) AS nm,
               string_split(lower(trim(p_name)), ' ')[1] AS head,
               COUNT(*)::BIGINT AS n_parts
        FROM part GROUP BY 1, 2, 3
    )
    SELECT a.brand, a.nm AS name_a, b.nm AS name_b,
           levenshtein(a.nm, b.nm)::BIGINT AS edit_dist,
           a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
    FROM names a JOIN names b
      ON a.brand = b.brand AND a.head = b.head AND a.nm < b.nm
    WHERE levenshtein(a.nm, b.nm) <= 4
    """,
    doc="Blocked fuzzy name matching by edit distance — the "
        "levenshtein companion to f01's trigram similarity (pg_trgm "
        "capability, reference wowutil.py:68-71; landlord-name "
        "canonicalization is exactly this shape). Two-level scale "
        "design: (1) collapse rows to DISTINCT names first — the "
        "name table is vocabulary-scale (Zipf), so the pair space "
        "shrinks quadratically vs row-pairing (measured 470k row "
        "pairs vs ~2k name pairs at sf0.1); (2) levenshtein has no "
        "inverted-index decomposition (unlike f01's postings), so "
        "candidate pairs come from a (brand, leading-token) prefix "
        "block — the standard name-matching block key. Both engines "
        "implement classic unit-cost edit distance, so the integers "
        "match exactly.",
    tags=("string", "similarity"),
)
def f02(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    names = (
        part.select(
            F.col("p_brand").alias("brand"),
            F.lower(F.trim(F.col("p_name"))).alias("nm"),
            F.split(F.lower(F.trim(F.col("p_name"))), " ")[0].alias("head"),
        )
        .groupBy("brand", "nm", "head")
        .agg(F.count("*").alias("n_parts"))
    )
    a = names.select(
        "brand", "head",
        F.col("nm").alias("name_a"), F.col("n_parts").alias("n_parts_a"),
    )
    b = names.select(
        F.col("brand").alias("brand_b"), F.col("head").alias("head_b"),
        F.col("nm").alias("name_b"), F.col("n_parts").alias("n_parts_b"),
    )
    return (
        a.join(
            b,
            (a["brand"] == b["brand_b"])
            & (a["head"] == b["head_b"])
            & (a["name_a"] < b["name_b"]),
        )
        .select(
            "brand", "name_a", "name_b",
            F.levenshtein("name_a", "name_b").cast("long").alias("edit_dist"),
            "n_parts_a", "n_parts_b",
        )
        .filter(F.col("edit_dist") <= 4)
    )


@register(
    "st08_chained_window_rollup",
    """
    WITH m AS (
        SELECT event_type,
               time_bucket(INTERVAL '15 minutes', ts) AS w15,
               COUNT(*)::BIGINT AS n
        FROM events GROUP BY 1, 2
    )
    SELECT date_trunc('hour', w15) AS hour_start, event_type,
           MAX(n)::BIGINT AS max_15min, SUM(n)::BIGINT AS n_events
    FROM m GROUP BY 1, 2
    HAVING date_trunc('hour', w15) + INTERVAL '1 hour'
           <= (SELECT max(ts) - INTERVAL '10 minutes' FROM events)
    """,
    doc="CHAINED stateful operators in one streaming query (Spark "
        "4.x): 15-minute tumbling counts cascade into an hourly "
        "max/sum rollup — two watermarked window aggregations back to "
        "back, no intermediate sink. window_time() re-derives the "
        "event-time column from the first window so the second agg "
        "stays watermark-aware; finalized 15-min windows flow "
        "downstream within the same micro-batch. Append-mode "
        "semantics: an hourly window emits once the watermark "
        "(max ts - 10 min, advanced by the final no-data batch) "
        "passes its end — the oracle's HAVING clause replays exactly "
        "that closure rule. State is two bounded stores (15-min and "
        "1-h windows inside the watermark horizon); at 100 TB this "
        "halves sink I/O vs materializing the minute-level rollup "
        "and re-reading it for the hourly pass.",
    tags=("streaming", "agg"),
)
def st08(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = events_stream(spark, sf_dir)
    m = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes").alias("w15"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    h = (
        m.groupBy(
            F.window(F.window_time("w15"), "1 hour").alias("wh"),
            "event_type",
        )
        .agg(F.max("n").alias("max_15min"), F.sum("n").alias("n_events"))
    )
    out = h.select(
        F.col("wh.start").alias("hour_start"),
        "event_type",
        "max_15min",
        "n_events",
    )
    return _run_memory_stream(spark, out, "st08", "append")


@register(
    "m04_audio_frame_energy",
    """
    WITH audio AS (
        SELECT i AS media_id, 128 + (i % 5) * 64 AS n
        FROM range(0, 64) t(i) WHERE i % 3 = 1
    ),
    samples AS (
        SELECT media_id, (j // 64)::BIGINT AS frame_idx,
               ((media_id * 7 + j) % 256 - 128)::DOUBLE AS x
        FROM audio, unnest(range(0, n)) s(j)
    )
    SELECT media_id, frame_idx, COUNT(*)::BIGINT AS n_samples,
           ROUND(sqrt(SUM(x * x) / COUNT(*)), 4) AS rms_energy
    FROM samples GROUP BY 1, 2
    """,
    doc="Audio feature extraction with REAL signal math (the m-pack's "
        "only stubbed-decoder-free kernel): payload bytes as 8-bit "
        "PCM, 64-sample frames, vectorized numpy RMS inside Arrow-"
        "batched mapInPandas — zero shuffle, payloads die in the "
        "Python worker. The oracle recomputes the synthetic payload "
        "formula arithmetically (samples are integers, so sum-of-"
        "squares is exact float64 under any summation order and /64 "
        "is a power-of-two division — bit-identical sqrt inputs), "
        "making this a hash-checked multimodal row, not a rows-only "
        "one. operators/multimodal.py audio_frame_energy.",
    tags=("multimodal", "pipeline"),
)
def m04(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.multimodal import (
        audio_frame_energy,
    )

    return audio_frame_energy(synthetic_media(spark))


@register(
    "m05_image_ahash",
    """
    WITH img AS (
        SELECT i AS media_id, 128 + (i % 5) * 64 AS n
        FROM range(0, 64) t(i) WHERE i % 3 = 0
    ),
    bytes AS (
        SELECT media_id, (j * 64) // n AS cell,
               (media_id * 7 + j) % 256 AS b
        FROM img, unnest(range(0, n)) s(j)
    ),
    cells AS (
        SELECT media_id, cell, SUM(b) AS cs FROM bytes GROUP BY 1, 2
    ),
    tot AS (SELECT media_id, SUM(b) AS tb FROM bytes GROUP BY 1),
    bits AS (
        SELECT c.media_id, cell,
               CASE WHEN cs * 64 > tb THEN 1 ELSE 0 END AS bit
        FROM cells c JOIN tot USING (media_id)
    )
    SELECT media_id,
           string_agg(bit::VARCHAR, '' ORDER BY cell) AS ahash,
           SUM(bit)::BIGINT AS n_ones
    FROM bits GROUP BY media_id
    """,
    doc="Perceptual average-hash over image payloads: average-pool to "
        "an 8x8 cell grid, bit = cell mean > global mean — evaluated "
        "as cell_sum*64 > total_sum so every bit is an integer "
        "comparison and the oracle recomputes the whole kernel "
        "arithmetically (m04's stubbed-codec-free pattern, applied to "
        "the image modality). Shuffle-free mapInPandas; payloads die "
        "in the Python worker. Feed the fingerprints to the d06 "
        "segment-blocked Hamming machinery for image near-dup pairs. "
        "operators/multimodal.py image_ahash.",
    tags=("multimodal", "pipeline", "dedup"),
)
def m05(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.multimodal import (
        image_ahash,
        synthetic_media,
    )

    return image_ahash(synthetic_media(spark))


@register(
    "g03_trade_pagerank",
    """
    WITH pairs AS (
        SELECT DISTINCT 'C' || o_custkey AS u, 'S' || l_suppkey AS v
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
    nodes AS (SELECT DISTINCT u AS node FROM edges
              UNION SELECT DISTINCT v FROM edges),
    nn AS (SELECT COUNT(*)::DOUBLE AS n FROM nodes),
    outdeg AS (SELECT u, COUNT(*)::DOUBLE AS od FROM edges GROUP BY u),
    r0 AS (SELECT node, (SELECT 1.0 / n FROM nn) AS rank FROM nodes),
    r1 AS (
        SELECT n.node,
               (SELECT 0.15 / n FROM nn)
               + 0.85 * COALESCE(c.inflow, 0) AS rank
        FROM nodes n LEFT JOIN (
            SELECT e.v AS node, SUM(r.rank / d.od) AS inflow
            FROM edges e
            JOIN r0 r ON r.node = e.u
            JOIN outdeg d ON d.u = e.u
            GROUP BY e.v
        ) c ON c.node = n.node
    ),
    r2 AS (
        SELECT n.node,
               (SELECT 0.15 / n FROM nn)
               + 0.85 * COALESCE(c.inflow, 0) AS rank
        FROM nodes n LEFT JOIN (
            SELECT e.v AS node, SUM(r.rank / d.od) AS inflow
            FROM edges e
            JOIN r1 r ON r.node = e.u
            JOIN outdeg d ON d.u = e.u
            GROUP BY e.v
        ) c ON c.node = n.node
    ),
    r3 AS (
        SELECT n.node,
               (SELECT 0.15 / n FROM nn)
               + 0.85 * COALESCE(c.inflow, 0) AS rank
        FROM nodes n LEFT JOIN (
            SELECT e.v AS node, SUM(r.rank / d.od) AS inflow
            FROM edges e
            JOIN r2 r ON r.node = e.u
            JOIN outdeg d ON d.u = e.u
            GROUP BY e.v
        ) c ON c.node = n.node
    )
    SELECT node, ROUND(rank, 6) AS rank FROM r3
""",
    doc="Fixed-iteration PageRank (3 rounds, d=0.85) over the "
        "customer<->supplier trade graph (symmetric union of distinct "
        "(custkey, suppkey) pairs from orders x lineitem, namespaced "
        "C*/S*) — the iterative rank-propagation family beyond "
        "components (g01) and BFS (g02). Per round: one rank x edge "
        "join + one dst groupBy, loop-invariant degree-annotated edge "
        "list localCheckpointed once; the oracle unrolls the three "
        "iterations as chained CTEs. Dangling mass leaks by "
        "construction (none exist here: the union graph is "
        "symmetric). operators/graph.py pagerank.",
    tags=("graph", "iterative"),
)
def g03(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.graph import pagerank

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pairs = (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.concat(F.lit("C"), F.col("o_custkey")).alias("u"),
            F.concat(F.lit("S"), F.col("l_suppkey")).alias("v"),
        )
        .distinct()
    )
    # symmetrize via one explode pass (r13): the self-union form ran
    # the orders⋈lineitem pair build twice inside pagerank's edge
    # checkpoint, and its extra .distinct() duplicated the dedup
    # pagerank already applies to its edge input
    both = F.explode(
        F.array(
            F.struct(F.col("u").alias("u"), F.col("v").alias("v")),
            F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
        )
    )
    edges = pairs.select(both.alias("e")).select("e.u", "e.v")
    return pagerank(edges, iterations=3, damping=0.85, src="u", dst="v")


@register(
    "m06_video_scene_cuts",
    """
    WITH vid AS (
        SELECT i AS media_id, 128 + (i % 5) * 64 AS n
        FROM range(0, 64) t(i) WHERE i % 3 = 2
    ),
    by AS (
        SELECT media_id, j, (j // 32)::BIGINT AS f,
               (media_id * 7 + j) % 256 AS b
        FROM vid, unnest(range(0, (n // 32) * 32)) s(j)
    ),
    d AS (
        SELECT a.media_id, a.f AS frame_idx,
               SUM(abs(a.b - c.b))::BIGINT AS sad
        FROM by a JOIN by c
          ON c.media_id = a.media_id AND c.j = a.j + 32
        GROUP BY 1, 2
    )
    SELECT media_id, frame_idx,
           ROUND(sad / 32.0, 4) AS mad,
           sad > 60 * 32 AS is_cut
    FROM d
    """,
    doc="Shot-boundary detection over video payloads: consecutive-"
        "frame mean absolute difference (MAD) with cuts above a "
        "threshold — the frame-differencing kernel every video "
        "curation pipeline runs before sampling (m03) so samples "
        "align to shots. Integer-exact cross-engine: SAD is an "
        "integer, /32 is a power-of-two division, and the cut "
        "decision is an integer compare (sad > thr*32) — the oracle "
        "recomputes the whole kernel arithmetically from the "
        "synthetic payload formula. Shuffle-free mapInPandas; "
        "payloads die in the Python worker. "
        "operators/multimodal.py video_scene_cuts.",
    tags=("multimodal", "pipeline"),
)
def m06(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.multimodal import (
        synthetic_media,
        video_scene_cuts,
    )

    return video_scene_cuts(synthetic_media(spark))


@register(
    "st09_stream_novelty_vs_corpus",
    """
    WITH corpus AS (
        SELECT DISTINCT user_id, event_type,
               floor(value / 50) AS band
        FROM events
        WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
    ),
    live AS (
        SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
    )
    SELECT l.event_type,
           COUNT(*)::BIGINT AS n_novel_events,
           ROUND(SUM(l.value), 2) AS total_novel_value
    FROM live l
    LEFT JOIN corpus c
      ON c.user_id = l.user_id AND c.event_type = l.event_type
     AND c.band = floor(l.value / 50)
    WHERE c.user_id IS NULL
    GROUP BY l.event_type
    """,
    doc="Streaming novelty detection against a published corpus — the "
        "streaming plane of d11's incremental dedup: the live event "
        "STREAM left-joins the static frame of (user, event_type) "
        "keys already seen before the cutoff and keeps only "
        "never-seen (user, type, value-band) combinations (left "
        "outer + IS NULL — the "
        "supported stream-static anti shape), aggregating novel "
        "traffic per type. The corpus side is a batch DISTINCT "
        "pre-aggregated BEFORE the join, so the per-micro-batch "
        "re-read is key-width only and broadcast-sized; stream state "
        "is O(groups), no distinct aggregates on the stream. "
        "streaming/pipeline.py + operators/dedup.py patterns.",
    tags=("streaming", "dedup", "incremental"),
)
def st09(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = "2024-01-16 00:00:00"
    events = events_stream(spark, sf_dir).filter(
        F.col("ts") >= F.lit(cutoff).cast("timestamp")
    )
    from nycdb_k8s_loader_spark.session import read_table

    band = F.floor(F.col("value") / F.lit(50)).alias("band")
    corpus = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("ts") < F.lit(cutoff).cast("timestamp"))
        .select("user_id", "event_type", band)
        .distinct()
        .withColumn("__seen", F.lit(True))
    )
    novel = (
        events.withColumn("band", band)
        .join(corpus, ["user_id", "event_type", "band"], "left")
        .filter(F.col("__seen").isNull())
    )
    agg = novel.groupBy("event_type").agg(
        F.count("*").alias("n_novel_events"),
        F.round(F.sum("value"), 2).alias("total_novel_value"),
    )
    return _run_memory_stream(spark, agg, "st09", "complete")


@register(
    "st10_streaming_ingest_e2e",
    """
    SELECT o_orderkey AS violationid,
           'BBL' || o_custkey AS bbl,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 'C'
                WHEN o_orderpriority = '2-HIGH' THEN 'B'
                ELSE 'A' END AS class,
           CASE WHEN o_orderstatus = 'O' THEN 'Open'
                ELSE 'Close' END AS currentstatus
    FROM orders
    """,
    doc="Streaming ingestion end-to-end (SURVEY §2.9 stretch): two "
        "source-file drops derived from orders run through "
        "Engine.load_streaming — incremental_csv_source + availableNow "
        "with a file-source checkpoint (drop 2's pass reads only the "
        "new file), each pass republishing the ACCUMULATED store "
        "through the same staging → validate → atomic-publish "
        "protocol as a batch load — and the published table is "
        "returned. The oracle recomputes the derivation directly: the "
        "two drops partition orders by key parity, so their "
        "accumulated union IS the orders projection. "
        "engine.py Engine.load_streaming, streaming/pipeline.py.",
    tags=("streaming", "engine", "e2e"),
)
def st10(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import re as _re

    from nycdb_k8s_loader_spark.datasets import wow_registry
    from nycdb_k8s_loader_spark.engine import Engine
    from nycdb_k8s_loader_spark.session import read_table
    from nycdb_k8s_loader_spark.state.kvstore import DictKVStore
    from nycdb_k8s_loader_spark.state.lastmod import FetchResult

    # one root per (sf_dir, source mtime): reruns hit the checkpoint
    # and re-publish identical rows; regenerated testdata gets a fresh
    # stream state instead of mixing vintages (the w01 cache rule)
    src = os.path.join(sf_dir, "orders.parquet")
    sig = hashlib.md5(
        f"{sf_dir}:{os.path.getmtime(src)}".encode()
    ).hexdigest()[:10]
    root = "/tmp/stream_e2e_" + _re.sub(r"\W+", "_", sf_dir).strip("_")
    target_db = f"stream_e2e_{sig}"
    os.makedirs(root, exist_ok=True)

    orders = read_table(spark, sf_dir, "orders")
    derived = orders.select(
        F.col("o_orderkey").alias("violationid"),
        F.concat(F.lit("BBL"), F.col("o_custkey").cast("string")).alias(
            "bbl"
        ),
        F.when(F.col("o_orderpriority") == "1-URGENT", F.lit("C"))
        .when(F.col("o_orderpriority") == "2-HIGH", F.lit("B"))
        .otherwise(F.lit("A"))
        .alias("class"),
        F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss").alias(
            "inspectiondate"
        ),
        F.when(F.col("o_orderstatus") == "O", F.lit("Open"))
        .otherwise(F.lit("Close"))
        .alias("currentstatus"),
    )

    land = os.path.join(
        root, sig, "landing", "hpd_violations", "stream", "hpd_violations"
    )
    os.makedirs(land, exist_ok=True)
    marker = os.path.join(land, "_DROPS")
    if not os.path.exists(marker):
        from nycdb_k8s_loader_spark.plans.fixture_cache import (
            collect_fixture_pdf,
        )

        for batch, par in (("batch1", 0), ("batch2", 1)):
            pdf = collect_fixture_pdf(
                derived.filter(F.pmod("violationid", F.lit(2)) == par)
            )
            pdf.to_csv(os.path.join(land, f"{batch}.csv"), index=False)
        with open(marker, "w") as fh:
            fh.write(sig)

    eng = Engine(
        spark,
        wow_registry(),
        DictKVStore(),
        target_db=target_db,
        landing_root=os.path.join(root, sig, "landing"),
        transport=lambda url, headers: FetchResult(200, etag='"st10"'),
        downloader=lambda url, dest: None,
    )
    eng.load_streaming("hpd_violations")
    return spark.table(f"{target_db}.hpd_violations").select(
        "violationid", "bbl", "class", "currentstatus"
    )


# m07 composes m05's oracle verbatim (the s10 pattern): the candidate
# fingerprints ARE the audited operator's own output definition.
from nycdb_k8s_loader_spark.plans.catalog import QUERIES as _EQ

assert "m05_image_ahash" in _EQ, "m07 composes m05's oracle text"

_M07_ORACLE = f"""
    WITH ah AS ({_EQ['m05_image_ahash'].oracle}),
    pairs AS (
        SELECT a.media_id AS id_a, b.media_id AS id_b,
               len(list_filter(range(1, 65),
                   i -> a.ahash[i] <> b.ahash[i]))::BIGINT AS hamming
        FROM ah a JOIN ah b ON a.media_id < b.media_id
        WHERE a.ahash[1:16] = b.ahash[1:16]
           OR a.ahash[17:32] = b.ahash[17:32]
           OR a.ahash[33:48] = b.ahash[33:48]
           OR a.ahash[49:64] = b.ahash[49:64]
    )
    SELECT DISTINCT id_a, id_b, hamming FROM pairs WHERE hamming <= 6
"""


@register(
    "m07_image_neardup_pairs",
    _M07_ORACLE,
    doc="Image-level near-duplicate pairs — the multimodal member of "
        "the dedup pack: perceptual aHash fingerprints (m05's kernel) "
        "banded into four 16-bit slices (the d03 banding idea with "
        "hash bits instead of MinHash rows — any shared slice makes a "
        "candidate), verified by exact 64-bit Hamming distance <= 6 "
        "computed JVM-side as bit_count(xor) over the hash halves. "
        "Candidates ∝ collisions, never C(n,2); payloads die in the "
        "aHash worker; the oracle composes m05's oracle and counts "
        "differing bit-characters directly. "
        "operators/multimodal.py image_neardup_pairs.",
    tags=("multimodal", "dedup", "pipeline"),
)
def m07(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.multimodal import (
        image_neardup_pairs,
        synthetic_media,
    )

    return image_neardup_pairs(synthetic_media(spark), max_hamming=6)


@register(
    "g04_incremental_components",
    """
    WITH RECURSIVE pp AS (SELECT 4 * COUNT(*) AS p FROM orders),
    e AS (
        SELECT DISTINCT (o_orderkey % p) AS a,
               ((o_orderkey * 7 + 3) % p) AS b
        FROM orders CROSS JOIN pp
        WHERE (o_orderkey % p) <> ((o_orderkey * 7 + 3) % p)
    ),
    sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
    reach(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM sym)
        UNION
        SELECT reach.a, sym.b FROM reach JOIN sym ON reach.b = sym.a
    )
    SELECT a AS node, MIN(b)::BIGINT AS component
    FROM reach GROUP BY a
    """,
    doc="INCREMENTAL connected components from persisted state — the "
        "d11/d13/d14 pattern applied to the graph plane (round-8 "
        "verdict #4): even-orderkey edges form the standing graph, "
        "whose converged (node, component) assignment is the "
        "persistable state (operators/graph.py components_state); "
        "odd-orderkey edges arrive as the batch and fold in WITHOUT "
        "re-contracting the old graph — each old component is "
        "already contracted, so batch endpoints resolve to SUPER-"
        "nodes via two shuffle_hash lookups, star-contraction runs "
        "on the batch-scale super-edge graph only, and the relabel "
        "map (<= touched components) broadcasts back over ONE state "
        "scan — the state never re-shuffles. The reference rebuilds "
        "its portfolio graph from scratch every run (wowutil.py:"
        "74-85, driver-side networkx). Verdicts equal the full "
        "recompute by construction (min-id labels compose across "
        "super-nodes; TestIncrementalComponents pins state==inline=="
        "recompute). Oracle: recursive-CTE closure over ALL edges. "
        "Fixture: sparse functional-graph edges (k, 7k+3 mod 4n) — "
        "sub-critical density, components <= ~10 nodes, so the "
        "closure stays polynomial at every sf. "
        "operators/graph.py incremental_components_from_state.",
    tags=("graph", "incremental", "pipeline"),
)
def g04(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.graph import (
        components_state,
        incremental_components_from_state,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    p = 4 * orders.count()
    ok = F.col("o_orderkey")
    edges = (
        orders.select(
            (ok % p).alias("a"),
            ((ok * 7 + 3) % p).alias("b"),
            (ok % 2).alias("par"),
        )
        .filter(F.col("a") != F.col("b"))
    )
    old = edges.filter("par = 0").select("a", "b").distinct()
    batch = edges.filter("par = 1").select("a", "b").distinct()
    state = components_state(old, src="a", dst="b")
    out = incremental_components_from_state(state, batch, src="a", dst="b")
    return out.select("node", F.col("component").cast("long").alias("component"))


@register(
    "g05_components_retire",
    """
    WITH RECURSIVE pp AS (SELECT 4 * COUNT(*) AS p FROM orders),
    e AS (
        SELECT DISTINCT (o_orderkey % p) AS a,
               ((o_orderkey * 7 + 3) % p) AS b
        FROM orders CROSS JOIN pp
        WHERE (o_orderkey % p) <> ((o_orderkey * 7 + 3) % p)
    ),
    sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
    reach(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM sym)
        UNION
        SELECT reach.a, sym.b FROM reach JOIN sym ON reach.b = sym.a
    ),
    comp AS (SELECT a AS node, MIN(b) AS component
             FROM reach GROUP BY a),
    ret AS (SELECT node, component FROM comp WHERE node % 5 <> 0),
    rel AS (SELECT component, MIN(node) AS nc FROM ret GROUP BY component)
    SELECT r.node, rel.nc::BIGINT AS component
    FROM ret r JOIN rel ON r.component = rel.component
    """,
    doc="Takedown path for the persisted components state (operators/"
        "state_lifecycle.py components_state_compact): build g04's "
        "converged (node, component) assignment over the full sparse "
        "functional graph, retire every node % 5 == 0 — one "
        "shuffle_hash anti join drops their rows, one per-component "
        "min + one shuffle_hash relabel join re-roots each surviving "
        "component at its minimum RETAINED node (the old root may be "
        "among the retired; the relabel map is one row per surviving "
        "component — state-scale for singleton-heavy dedup states, "
        "so it joins, never broadcasts). CONTRACT pinned by the "
        "oracle: retirement preserves grouping (members connected "
        "only THROUGH retired nodes stay together — conservative "
        "over-grouping, stated loudly in the operator docstring); "
        "the oracle therefore restricts the FULL graph's components "
        "to retained nodes and relabels identically, exact by "
        "construction at every sf. A split-exact retirement is a "
        "rebuild from retained edges — the components_state path "
        "itself.",
    tags=("graph", "incremental", "lifecycle"),
)
def g05(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.graph import components_state
    from nycdb_k8s_loader_spark.operators.state_lifecycle import (
        components_state_compact,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    p = 4 * orders.count()
    ok = F.col("o_orderkey")
    edges = (
        orders.select(
            (ok % p).alias("a"), ((ok * 7 + 3) % p).alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    state = components_state(edges, src="a", dst="b")
    retired = state.select("node").filter(F.col("node") % 5 == 0)
    out = components_state_compact(state, retired)
    return out.select(
        "node", F.col("component").cast("long").alias("component")
    )
