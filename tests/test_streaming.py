"""Structured Streaming tests: incremental file ingestion (the
availableNow cadence model) and watermarked streaming dedup."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from nycdb_k8s_loader_spark.streaming.pipeline import (
    incremental_csv_source,
    run_available_now,
    streaming_dedup,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.DoubleType()),
    ]
)


def test_incremental_ingestion_two_batches(spark, tmp_path):
    landing = tmp_path / "landing"
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    landing.mkdir()

    (landing / "batch1.csv").write_text(
        "id,ts,v\n1,2024-01-01T00:00:00,1.5\n2,2024-01-01T01:00:00,2.5\n"
    )
    src = incremental_csv_source(spark, str(landing), SCHEMA)
    assert src.isStreaming
    run_available_now(src, sink, ckpt)
    assert spark.read.schema(SCHEMA).parquet(sink).count() == 2

    # second invocation: only the NEW file is processed (checkpoint
    # bookkeeping replaces the reference's etag skip logic)
    (landing / "batch2.csv").write_text("id,ts,v\n3,2024-01-01T02:00:00,3.5\n")
    src2 = incremental_csv_source(spark, str(landing), SCHEMA)
    run_available_now(src2, sink, ckpt)
    out = spark.read.schema(SCHEMA).parquet(sink)
    assert out.count() == 3
    assert set(r["id"] for r in out.select("id").collect()) == {1, 2, 3}

    # no-new-files invocation is a no-op (skip-if-unchanged analog)
    src3 = incremental_csv_source(spark, str(landing), SCHEMA)
    run_available_now(src3, sink, ckpt)
    assert spark.read.schema(SCHEMA).parquet(sink).count() == 3


def test_streaming_dedup_drops_repeats(spark, tmp_path):
    landing = tmp_path / "landing2"
    sink = str(tmp_path / "sink2")
    ckpt = str(tmp_path / "ckpt2")
    landing.mkdir()
    (landing / "a.csv").write_text(
        "id,ts,v\n"
        "1,2024-01-01T00:00:00,1.0\n"
        "1,2024-01-01T00:05:00,1.0\n"
        "2,2024-01-01T00:10:00,2.0\n"
    )
    src = incremental_csv_source(spark, str(landing), SCHEMA)
    deduped = streaming_dedup(src, ["id"], ts_col="ts")
    run_available_now(deduped, sink, ckpt)
    out = spark.read.schema(SCHEMA).parquet(sink)
    assert out.count() == 2
    assert set(r["id"] for r in out.collect()) == {1, 2}


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState must carry (count, sum) state across
    micro-batches: two landing files, maxFilesPerTrigger=1 forces two
    batches; the final emission per key equals the batch aggregate."""
    from nycdb_k8s_loader_spark.streaming.pipeline import (
        run_available_now,
        stateful_running_totals,
    )

    landing = tmp_path / "landing"
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    landing.mkdir()
    (landing / "f1.csv").write_text(
        "user_id,value\n1,1.0\n1,2.0\n2,10.0\n"
    )
    (landing / "f2.csv").write_text(
        "user_id,value\n1,4.0\n2,0.5\n3,7.0\n"
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = (
        spark.readStream.schema(schema)
        .option("header", "true")
        .option("maxFilesPerTrigger", "1")
        .csv(str(landing))
    )
    run_available_now(stateful_running_totals(src), sink, ckpt)
    out = spark.read.parquet(sink)
    # one emission per key per batch it appears in; final = max n_events
    final = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in out.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("user_id")
                .orderBy(F.col("n_events").desc())
            ),
        )
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert final == {1: (3, 7.0), 2: (2, 10.5), 3: (1, 7.0)}
    # and state really crossed batches: user 1 emitted twice
    assert out.filter(F.col("user_id") == 1).count() == 2


def test_stream_interval_join_incremental_and_overlap_guard(spark, tmp_path):
    """Two-batch stream-stream interval join: matches within the gap
    emit, matches outside don't, and a second availableNow pass only
    adds the new batch's joins. Overlapping column names are rejected."""
    import pytest

    from nycdb_k8s_loader_spark.streaming.pipeline import (
        stream_interval_join,
    )

    left_dir = tmp_path / "left"
    right_dir = tmp_path / "right"
    left_dir.mkdir()
    right_dir.mkdir()
    (left_dir / "b1.csv").write_text(
        "lid,lk,lts\n1,7,2024-01-01T00:00:00\n2,8,2024-01-01T05:00:00\n"
    )
    (right_dir / "b1.csv").write_text(
        # 10 min after left#1 (match); 2h after left#1 (outside gap);
        # wrong key (no match)
        "rid,rk,rts\n10,7,2024-01-01T00:10:00\n11,7,2024-01-01T02:00:00\n"
        "12,9,2024-01-01T00:05:00\n"
    )
    lschema = T.StructType(
        [
            T.StructField("lid", T.LongType()),
            T.StructField("lk", T.LongType()),
            T.StructField("lts", T.TimestampType()),
        ]
    )
    rschema = T.StructType(
        [
            T.StructField("rid", T.LongType()),
            T.StructField("rk", T.LongType()),
            T.StructField("rts", T.TimestampType()),
        ]
    )

    def run_once():
        left = incremental_csv_source(spark, str(left_dir), lschema)
        right = incremental_csv_source(spark, str(right_dir), rschema)
        joined = stream_interval_join(
            left, right, "lk", "rk", "lts", "rts",
            max_gap="30 MINUTES", watermark="10 hours",
        ).select("lid", "rid")
        sink = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")
        run_available_now(joined, sink, ckpt)
        out_schema = T.StructType(
            [T.StructField("lid", T.LongType()), T.StructField("rid", T.LongType())]
        )
        return {
            (r["lid"], r["rid"])
            for r in spark.read.schema(out_schema).parquet(sink).collect()
        }

    assert run_once() == {(1, 10)}

    # batch 2: a right row matching left#2 within the gap
    (right_dir / "b2.csv").write_text("rid,rk,rts\n13,8,2024-01-01T05:20:00\n")
    assert run_once() == {(1, 10), (2, 13)}

    with pytest.raises(ValueError, match="rename overlapping"):
        df = spark.createDataFrame([(1,)], ["x"])
        stream_interval_join(df, df, "x", "x", "x", "x", "1 MINUTE", "1 MINUTE")


def test_foreach_batch_upsert_exactly_once_under_batch_replay(
    spark, tmp_path
):
    """r12 verdict #6: checkpointed foreachBatch is AT-LEAST-once — a
    crash mid-sink redelivers the same epoch on restart.  Drive both
    crash windows end-to-end and pin exactly-once published state:

    1. crash AFTER a partial version-dir write, BEFORE the pointer
       flip → readers never saw the partial dir; the replayed batch
       overwrites it and publishes once;
    2. crash AFTER the pointer flip, BEFORE the checkpoint commit →
       the replayed batch finds _CURRENT already at its own version
       and no-ops (re-merging would double-apply the batch).
    """
    import os

    from nycdb_k8s_loader_spark.streaming.pipeline import (
        foreach_batch_upsert,
        incremental_csv_source,
        read_upsert_sink,
    )

    landing = tmp_path / "landing_replay"
    sink = str(tmp_path / "sink_replay")
    ckpt = str(tmp_path / "ckpt_replay")
    landing.mkdir()
    real = foreach_batch_upsert(sink, ["id"])

    def run_once(sink_fn):
        src = incremental_csv_source(spark, str(landing), SCHEMA)
        agg = src.groupBy("id").agg(
            F.count("*").alias("n"), F.round(F.sum("v"), 2).alias("total")
        )
        q = (
            agg.writeStream.foreachBatch(sink_fn)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # -- crash window 1: partial write, no pointer flip ----------------
    def crash_mid_write(batch_df, batch_id):
        # land a PARTIAL version dir (one row of several), then die
        # before any pointer work — simulates an executor/driver loss
        # mid-parquet-write
        batch_df.limit(1).write.mode("overwrite").parquet(
            os.path.join(sink, f"v{batch_id}")
        )
        raise RuntimeError("simulated crash mid version-dir write")

    (landing / "b1.csv").write_text(
        "id,ts,v\n1,2024-01-01T00:00:00,1.0\n2,2024-01-01T01:00:00,2.0\n"
    )
    with pytest.raises(Exception):
        run_once(crash_mid_write)
    # the partial dir exists but nothing references it
    assert os.path.exists(os.path.join(sink, "v0"))
    assert not os.path.exists(os.path.join(sink, "_CURRENT"))

    # restart with the real sink: the SAME epoch is redelivered, the
    # partial dir is overwritten, the publish happens exactly once
    run_once(real)
    snap1 = {(r["id"], r["n"], r["total"])
             for r in read_upsert_sink(spark, sink).collect()}
    assert snap1 == {(1, 1, 1.0), (2, 1, 2.0)}

    # -- crash window 2: full publish, crash before checkpoint commit --
    def crash_after_flip(batch_df, batch_id):
        real(batch_df, batch_id)  # complete write + pointer flip
        raise RuntimeError("simulated crash before checkpoint commit")

    (landing / "b2.csv").write_text(
        "id,ts,v\n1,2024-01-01T02:00:00,4.0\n"
    )
    with pytest.raises(Exception):
        run_once(crash_after_flip)
    # the flip landed: the snapshot already carries the merge
    snap2 = {(r["id"], r["n"], r["total"])
             for r in read_upsert_sink(spark, sink).collect()}
    assert snap2 == {(1, 2, 5.0), (2, 1, 2.0)}

    # restart: the same epoch replays into the no-op guard — the
    # published state must NOT double-apply the batch
    run_once(real)
    snap3 = {(r["id"], r["n"], r["total"])
             for r in read_upsert_sink(spark, sink).collect()}
    assert snap3 == snap2

    # and a fresh-data run afterwards still works (the guard only
    # suppresses the replayed epoch, not future ones)
    (landing / "b3.csv").write_text(
        "id,ts,v\n3,2024-01-01T03:00:00,9.0\n"
    )
    run_once(real)
    snap4 = {(r["id"], r["n"], r["total"])
             for r in read_upsert_sink(spark, sink).collect()}
    assert snap4 == {(1, 2, 5.0), (2, 1, 2.0), (3, 1, 9.0)}


def test_foreach_batch_upsert_merges_across_batches(spark, tmp_path):
    """The foreachBatch merge-upsert sink must (a) upsert changed keys
    across two availableNow invocations, (b) keep untouched keys, and
    (c) leave the snapshot unchanged on a no-new-data rerun."""
    from nycdb_k8s_loader_spark.streaming.pipeline import (
        foreach_batch_upsert,
        incremental_csv_source,
        read_upsert_sink,
    )

    landing = tmp_path / "landing3"
    sink = str(tmp_path / "sink3")
    ckpt = str(tmp_path / "ckpt3")
    landing.mkdir()

    def run_once():
        src = incremental_csv_source(spark, str(landing), SCHEMA)
        agg = src.groupBy("id").agg(
            F.count("*").alias("n"), F.round(F.sum("v"), 2).alias("total")
        )
        q = (
            agg.writeStream.foreachBatch(foreach_batch_upsert(sink, ["id"]))
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    (landing / "b1.csv").write_text(
        "id,ts,v\n1,2024-01-01T00:00:00,1.0\n2,2024-01-01T01:00:00,2.0\n"
    )
    run_once()
    snap1 = {(r["id"], r["n"], r["total"])
             for r in read_upsert_sink(spark, sink).collect()}
    assert snap1 == {(1, 1, 1.0), (2, 1, 2.0)}

    # id=1 gets more data (key updated); id=2 untouched (must survive)
    (landing / "b2.csv").write_text("id,ts,v\n1,2024-01-01T02:00:00,4.0\n")
    run_once()
    snap2 = {(r["id"], r["n"], r["total"])
             for r in read_upsert_sink(spark, sink).collect()}
    assert snap2 == {(1, 2, 5.0), (2, 1, 2.0)}

    # rerun with nothing new: snapshot identical (idempotent publish)
    run_once()
    snap3 = {(r["id"], r["n"], r["total"])
             for r in read_upsert_sink(spark, sink).collect()}
    assert snap3 == snap2


class TestStreamingIngestionE2E:
    """Engine.load_streaming (SURVEY §2.9 stretch, r4 verdict #8): the
    cron unit of work as a checkpointed stream. Two file drops → two
    incremental publishes; the second call's checkpoint skips batch-1
    files (reprocessing would double rows and fail the counts), and
    the accumulated publish equals a plain batch load of the same
    files."""

    B1 = (
        "violationid,bbl,class,inspectiondate,currentstatus\n"
        "1,BBL1,C,1997-07-01T00:00:00,Open\n"
        "2,BBL1,A,1995-01-01T00:00:00,Close\n"
        "3,BBL2,B,1998-01-01T00:00:00,Open\n"
    )
    B2 = (
        "violationid,bbl,class,inspectiondate,currentstatus\n"
        "4,BBL3,C,1999-07-01T00:00:00,Open\n"
        "5,BBL3,A,2000-01-01T00:00:00,Close\n"
    )

    def test_two_drops_two_incremental_publishes(self, spark, tmp_path):
        from nycdb_k8s_loader_spark.datasets import wow_registry
        from nycdb_k8s_loader_spark.engine import Engine
        from nycdb_k8s_loader_spark.state.kvstore import DictKVStore
        from nycdb_k8s_loader_spark.state.lastmod import FetchResult

        eng = Engine(
            spark,
            wow_registry(),
            DictKVStore(),
            target_db="stream_ing_test",
            landing_root=str(tmp_path / "landing"),
            transport=lambda url, headers: FetchResult(200, etag='"s"'),
            downloader=lambda url, dest: None,
        )
        land = tmp_path / "landing" / "hpd_violations" / "stream" / "hpd_violations"
        land.mkdir(parents=True)
        try:
            (land / "batch1.csv").write_text(self.B1)
            res1 = eng.load_streaming("hpd_violations")
            assert res1.published == ["stream_ing_test.hpd_violations"]
            t = spark.table("stream_ing_test.hpd_violations")
            assert t.count() == 3

            (land / "batch2.csv").write_text(self.B2)
            res2 = eng.load_streaming("hpd_violations")
            assert not res2.skipped
            t = spark.table("stream_ing_test.hpd_violations")
            assert t.count() == 5
            got = {
                r["violationid"]: r["bbl"]
                for r in t.select("violationid", "bbl").collect()
            }
            assert got == {1: "BBL1", 2: "BBL1", 3: "BBL2",
                           4: "BBL3", 5: "BBL3"}
            # typed scan, not inferred: timestamps parsed
            assert dict(t.dtypes)["inspectiondate"] == "timestamp"

            # equals the batch load of the same two files
            batch_eng = Engine(
                spark,
                wow_registry(),
                DictKVStore(),
                target_db="stream_ing_batch",
                landing_root=str(tmp_path / "landing_batch"),
                transport=lambda url, headers: FetchResult(200, etag='"b"'),
                downloader=lambda url, dest: open(dest, "w").write(
                    self.B1 + self.B2.split("\n", 1)[1]
                ),
            )
            batch_eng.load("hpd_violations")
            b = spark.table("stream_ing_batch.hpd_violations")
            assert b.count() == 5
            assert sorted(
                map(tuple, b.select("violationid", "bbl").collect())
            ) == sorted(map(tuple, t.select("violationid", "bbl").collect()))
        finally:
            for db in ("stream_ing_test", "stream_ing_batch"):
                spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_load_streaming_records_refresh(spark, tmp_path):
    """A streaming load records its refresh in the dataset tracker,
    exactly as a batch load does."""
    from nycdb_k8s_loader_spark.datasets import wow_registry
    from nycdb_k8s_loader_spark.engine import Engine
    from nycdb_k8s_loader_spark.state.kvstore import DictKVStore
    from nycdb_k8s_loader_spark.state.lastmod import FetchResult

    eng = Engine(
        spark, wow_registry(), DictKVStore(),
        target_db="stream_refresh_test",
        landing_root=str(tmp_path / "landing"),
        transport=lambda url, headers: FetchResult(200),
        downloader=lambda url, dest: None,
    )
    land = (
        tmp_path / "landing" / "hpd_violations" / "stream" / "hpd_violations"
    )
    land.mkdir(parents=True)
    (land / "b1.csv").write_text(TestStreamingIngestionE2E.B1)
    try:
        assert eng.tracker.get_last_refresh("hpd_violations") is None
        eng.load_streaming("hpd_violations")
        assert eng.tracker.get_last_refresh("hpd_violations") is not None
    finally:
        spark.sql("DROP DATABASE IF EXISTS stream_refresh_test CASCADE")


class TestStreamingIngestionValidationGate:
    """O1 for the streaming plane: a corrupt increment (duplicate
    primary keys in the accumulated table) must abort BEFORE any
    published table moves — readers keep the last good version."""

    G1 = "registrationid,bbl,boro\n1,BBL1,MN\n2,BBL2,BK\n"
    BAD = "registrationid,bbl,boro\n2,BBL9,QN\n"  # dup registrationid

    def test_corrupt_increment_never_publishes(self, spark, tmp_path):
        import pytest as _pytest

        from nycdb_k8s_loader_spark.datasets import wow_registry
        from nycdb_k8s_loader_spark.engine import Engine
        from nycdb_k8s_loader_spark.publish.validate import ValidationError
        from nycdb_k8s_loader_spark.state.kvstore import DictKVStore
        from nycdb_k8s_loader_spark.state.lastmod import FetchResult

        eng = Engine(
            spark,
            wow_registry(),
            DictKVStore(),
            target_db="stream_gate_test",
            landing_root=str(tmp_path / "landing"),
            transport=lambda url, headers: FetchResult(200, etag='"g"'),
            downloader=lambda url, dest: None,
        )
        land = (
            tmp_path / "landing" / "hpd_registrations" / "stream"
            / "hpd_registrations"
        )
        land.mkdir(parents=True)
        try:
            (land / "good.csv").write_text(self.G1)
            res = eng.load_streaming("hpd_registrations")
            t = "stream_gate_test.hpd_registrations"
            assert spark.table(t).count() == 2
            # dataset-attached SQL runs in streaming mode too: the
            # derived grouped-by-bbl table publishes alongside
            assert "stream_gate_test.hpd_registrations_grouped_by_bbl" in (
                res.published
            )
            assert spark.table(
                "stream_gate_test.hpd_registrations_grouped_by_bbl"
            ).count() == 2

            (land / "bad.csv").write_text(self.BAD)
            with _pytest.raises(ValidationError, match="quarantined"):
                eng.load_streaming("hpd_registrations")
            # the published table still serves the last good version
            rows = {r["registrationid"]: r["bbl"]
                    for r in spark.table(t).collect()}
            assert rows == {1: "BBL1", 2: "BBL2"}

            # RECOVERY (r5 ADVICE): the corrupt increment must be
            # quarantined, NOT committed to the durable stream store —
            # otherwise every later call re-reads the poisoned store
            # and the dataset is wedged forever. The very next call
            # must succeed again, republishing the last good data...
            res3 = eng.load_streaming("hpd_registrations")
            assert not res3.skipped
            rows = {r["registrationid"]: r["bbl"]
                    for r in spark.table(t).collect()}
            assert rows == {1: "BBL1", 2: "BBL2"}
            # ...and a subsequent GOOD drop loads incrementally on top
            (land / "good2.csv").write_text(
                "registrationid,bbl,boro\n3,BBL3,SI\n"
            )
            eng.load_streaming("hpd_registrations")
            rows = {r["registrationid"]: r["bbl"]
                    for r in spark.table(t).collect()}
            assert rows == {1: "BBL1", 2: "BBL2", 3: "BBL3"}
            # the quarantined increment is preserved on disk for
            # inspection/re-drop (the checkpoint already consumed the
            # source file, so this is its only remaining copy)
            qroot = (
                tmp_path / "landing" / "hpd_registrations" / "_stream"
                / "hpd_registrations" / "quarantine"
            )
            qfiles = list(qroot.rglob("*.parquet"))
            assert qfiles, "quarantine must hold the rejected increment"
            qdf = spark.read.parquet(*(str(p.parent) for p in qfiles))
            assert {r["registrationid"] for r in qdf.collect()} == {2}
        finally:
            spark.sql("DROP DATABASE IF EXISTS stream_gate_test CASCADE")


def _write_xlsx(path: str, header: list[str], rows: list[list]) -> None:
    """Minimal inline-string .xlsx builder (no sharedStrings part —
    sources/xlsx.py treats it as optional): numbers stay numeric cells,
    everything else is an inlineStr."""
    import zipfile

    def colname(i: int) -> str:
        s = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            s = chr(65 + r) + s
        return s

    def cell(ref: str, v) -> str:
        if v is None:
            return ""
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return f'<c r="{ref}"><v>{v}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t>{v}</t></is></c>'

    rows_xml = []
    for rno, vals in enumerate([header] + rows, start=1):
        cells = "".join(
            cell(f"{colname(c)}{rno}", v) for c, v in enumerate(vals)
        )
        rows_xml.append(f'<row r="{rno}">{cells}</row>')
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{ns}"><sheetData>'
        + "".join(rows_xml)
        + "</sheetData></worksheet>"
    )
    wb = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{ns}" xmlns:r="http://schemas.openxmlformats'
        '.org/officeDocument/2006/relationships"><sheets>'
        '<sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package'
        '/2006/relationships"><Relationship Id="rId1" Type="http://schemas'
        '.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
        'Target="worksheets/sheet1.xml"/></Relationships>'
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package'
        '/2006/relationships"><Relationship Id="rId1" Type="http://schemas'
        '.openxmlformats.org/officeDocument/2006/relationships/'
        'officeDocument" Target="xl/workbook.xml"/></Relationships>'
    )
    ctypes = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types"><Default Extension="rels" ContentType="application'
        '/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
        'worksheet+xml"/></Types>'
    )
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("[Content_Types].xml", ctypes)
        zf.writestr("_rels/.rels", root_rels)
        zf.writestr("xl/workbook.xml", wb)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)


_DOF_HEADER = [
    "borough", "neighborhood", "buildingclasscategory", "address",
    "zipcode", "residentialunits", "totalunits", "saleprice",
    "saledate", "bbl",
]


def _dof_row(bbl: str, price: float) -> list:
    return ["MANHATTAN", "CHELSEA", "07 RENTALS", "1 W 21 ST", "10010",
            5, 6, price, "2020-03-04 00:00:00", bbl]


def test_load_streaming_excel_incremental(spark, tmp_path):
    """Round-6 brief #6: dof_annual_sales (Excel workbooks) loads
    INCREMENTALLY — new workbook drops stream through the binaryFile
    source + the exact batch parser, accumulate in the durable store,
    and republish the full table; already-consumed workbooks are never
    re-parsed (checkpointed file tracking)."""
    from nycdb_k8s_loader_spark.datasets_catalog import catalog_defs
    from nycdb_k8s_loader_spark.engine import Engine
    from nycdb_k8s_loader_spark.registry import Registry
    from nycdb_k8s_loader_spark.state.kvstore import DictKVStore
    from nycdb_k8s_loader_spark.state.lastmod import FetchResult

    reg = Registry()
    for d in catalog_defs():
        reg.add(d)
    eng = Engine(
        spark,
        reg,
        DictKVStore(),
        target_db="stream_xlsx_test",
        landing_root=str(tmp_path / "landing"),
        transport=lambda url, headers: FetchResult(200, etag='"f"'),
        downloader=lambda url, dest: None,
    )
    land = (
        tmp_path / "landing" / "dof_annual_sales" / "stream"
        / "dof_annual_sales"
    )
    land.mkdir(parents=True)
    try:
        _write_xlsx(
            str(land / "2020_manhattan.xlsx"), _DOF_HEADER,
            [_dof_row("1000010001", 1250000.5),
             _dof_row("1000020002", 900000.0)],
        )
        eng.load_streaming("dof_annual_sales")
        t = "stream_xlsx_test.dof_annual_sales"
        got = {r["bbl"]: r for r in spark.table(t).collect()}
        assert set(got) == {"1000010001", "1000020002"}
        assert got["1000010001"]["saleprice"] == 1250000.5
        assert got["1000010001"]["residentialunits"] == 5
        assert str(got["1000010001"]["saledate"]).startswith("2020-03-04")

        # second yearly workbook drops later: incremental on top
        _write_xlsx(
            str(land / "2015_manhattan.xlsx"), _DOF_HEADER,
            [_dof_row("1000030003", 450000.0)],
        )
        eng.load_streaming("dof_annual_sales")
        assert {r["bbl"] for r in spark.table(t).collect()} == {
            "1000010001", "1000020002", "1000030003"
        }
    finally:
        spark.sql("DROP DATABASE IF EXISTS stream_xlsx_test CASCADE")


def test_load_streaming_shapefile_incremental(spark, tmp_path):
    """The shapefile branch of the binary stream path: zipped
    shapefiles drop into the landing dir, parse through
    read_shapefile_zip inside foreachBatch, and accumulate
    attributes + WKT geometry in the durable store."""
    from nycdb_k8s_loader_spark.datasets_catalog import catalog_defs
    from nycdb_k8s_loader_spark.engine import Engine
    from nycdb_k8s_loader_spark.registry import Registry
    from fixture_gen import write_shapefile_zip
    from nycdb_k8s_loader_spark.state.kvstore import DictKVStore
    from nycdb_k8s_loader_spark.state.lastmod import FetchResult

    reg = Registry()
    for d in catalog_defs():
        reg.add(d)
    eng = Engine(
        spark, reg, DictKVStore(),
        target_db="stream_shp_test",
        landing_root=str(tmp_path / "landing"),
        transport=lambda url, headers: FetchResult(200, etag='"s"'),
        downloader=lambda url, dest: None,
    )
    land = tmp_path / "landing" / "boundaries" / "stream" / "nta_boundaries"
    land.mkdir(parents=True)
    fields = [("ntacode", "C", 8, 0), ("ntaname", "C", 30, 0),
              ("boroname", "C", 16, 0), ("borocode", "N", 4, 0),
              ("shape_area", "N", 16, 2)]
    ring = [(0.0, 0.0), (0.0, 2.0), (2.0, 2.0), (2.0, 0.0), (0.0, 0.0)]
    try:
        (land / "drop1.zip").write_bytes(write_shapefile_zip(
            fields, [(["MN01", "Chelsea", "Manhattan", 1, 1.5], [ring])]
        ))
        eng.load_streaming("boundaries")
        t = "stream_shp_test.nta_boundaries"
        rows = {r["ntacode"]: r for r in spark.table(t).collect()}
        assert set(rows) == {"MN01"}
        assert rows["MN01"]["borocode"] == 1
        assert rows["MN01"]["geom_wkt"].startswith("POLYGON ((0.0 0.0,")

        (land / "drop2.zip").write_bytes(write_shapefile_zip(
            fields, [(["BK01", "Greenpoint", "Brooklyn", 3, 2.5], [ring])]
        ))
        eng.load_streaming("boundaries")
        assert {r["ntacode"] for r in spark.table(t).collect()} == {
            "MN01", "BK01"
        }
    finally:
        spark.sql("DROP DATABASE IF EXISTS stream_shp_test CASCADE")


def test_binary_stream_never_collects_content_on_driver(
    spark, tmp_path, monkeypatch
):
    """The 100 TB pin for the distributed binary path (round-7 verdict
    #3): during load_streaming of a binary-format dataset, NO frame
    carrying the binaryFile `content` column is ever collected or
    iterated on the driver — parsing happens executor-side in
    mapInPandas. A regression back to the driver-collect form trips
    the guard immediately."""
    from pyspark.sql import DataFrame

    from nycdb_k8s_loader_spark.datasets_catalog import catalog_defs
    from nycdb_k8s_loader_spark.engine import Engine
    from nycdb_k8s_loader_spark.registry import Registry
    from nycdb_k8s_loader_spark.state.kvstore import DictKVStore
    from nycdb_k8s_loader_spark.state.lastmod import FetchResult

    def guard(name, orig):
        def wrapped(self, *a, **kw):
            if "content" in self.columns:
                raise AssertionError(
                    f"driver-side {name}() on a frame with file "
                    "content — binary parsing must stay on executors"
                )
            return orig(self, *a, **kw)

        return wrapped

    monkeypatch.setattr(
        DataFrame, "collect", guard("collect", DataFrame.collect)
    )
    monkeypatch.setattr(
        DataFrame,
        "toLocalIterator",
        guard("toLocalIterator", DataFrame.toLocalIterator),
    )

    reg = Registry()
    for d in catalog_defs():
        reg.add(d)
    eng = Engine(
        spark, reg, DictKVStore(),
        target_db="stream_noc_test",
        landing_root=str(tmp_path / "landing"),
        transport=lambda url, headers: FetchResult(200, etag='"f"'),
        downloader=lambda url, dest: None,
    )
    land = (
        tmp_path / "landing" / "dof_annual_sales" / "stream"
        / "dof_annual_sales"
    )
    land.mkdir(parents=True)
    try:
        _write_xlsx(
            str(land / "2020.xlsx"), _DOF_HEADER,
            [_dof_row("1000010001", 100.0), _dof_row("1000020002", 200.0)],
        )
        eng.load_streaming("dof_annual_sales")
        got = spark.table("stream_noc_test.dof_annual_sales").collect()
        assert {r["bbl"] for r in got} == {"1000010001", "1000020002"}
    finally:
        spark.sql("DROP DATABASE IF EXISTS stream_noc_test CASCADE")


def _typed_rows(spark, string_rows, schema):
    """Cast parser string rows to ``schema`` the way a stream stages
    them."""
    names = [f.name for f in schema.fields]
    staged = spark.createDataFrame(
        [tuple(r) for r in string_rows],
        ", ".join(f"`{n}` string" for n in names),
    )
    return staged.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
    ).collect()


def _dof_schema():
    from nycdb_k8s_loader_spark.datasets_catalog import catalog_defs

    ds = next(d for d in catalog_defs() if d.name == "dof_annual_sales")
    return next(t.schema for t in ds.tables if t.name == "dof_annual_sales")


def test_executor_parsers_match_batch_readers(spark, tmp_path):
    """The pure bytes→rows parsers behind the distributed stage
    produce EXACTLY the batch readers' typed rows for both binary
    formats — one parse rule, two execution sites."""
    from nycdb_k8s_loader_spark.datasets_catalog import catalog_defs
    from nycdb_k8s_loader_spark.engine import Engine
    from nycdb_k8s_loader_spark.registry import Registry
    from nycdb_k8s_loader_spark.sources.readers import read_excel
    from fixture_gen import write_shapefile_zip
    from nycdb_k8s_loader_spark.sources.shapefile import read_shapefile_zip

    reg = Registry()
    for d in catalog_defs():
        reg.add(d)

    # excel
    xschema = _dof_schema()
    xpath = str(tmp_path / "wb.xlsx")
    _write_xlsx(
        xpath, _DOF_HEADER,
        [_dof_row("1000010001", 1250000.5), _dof_row("1000020002", 900.0)],
    )
    with open(xpath, "rb") as fh:
        content = fh.read()
    parse = Engine._binary_row_parser("excel", xschema)
    got = _typed_rows(spark, parse(xpath, content), xschema)
    assert sorted(got) == sorted(
        read_excel(spark, xpath, xschema).collect()
    )

    # shapefile
    sschema = next(
        t.schema for t in reg.get("boundaries").tables
        if t.name == "nta_boundaries"
    )
    fields = [("ntacode", "C", 8, 0), ("ntaname", "C", 30, 0),
              ("boroname", "C", 16, 0), ("borocode", "N", 4, 0),
              ("shape_area", "N", 16, 2)]
    ring = [(0.0, 0.0), (0.0, 2.0), (2.0, 2.0), (2.0, 0.0), (0.0, 0.0)]
    zbytes = write_shapefile_zip(
        fields, [(["MN01", "Chelsea", "Manhattan", 1, 1.5], [ring])]
    )
    zpath = str(tmp_path / "b.zip")
    with open(zpath, "wb") as fh:
        fh.write(zbytes)
    parse = Engine._binary_row_parser("shapefile", sschema)
    got = _typed_rows(spark, parse(zpath, zbytes), sschema)
    assert sorted(got) == sorted(
        read_shapefile_zip(spark, zpath, sschema).collect()
    )


def test_read_excel_parses_like_the_stream_parser(
    spark, tmp_path, monkeypatch
):
    """Batch Excel reads never go through ``pandas.read_excel``: with
    it failing, ``read_excel`` still returns the typed rows of
    ``excel_string_rows`` on the same workbook."""
    import pandas as pd

    from nycdb_k8s_loader_spark.sources.readers import (
        excel_string_rows,
        read_excel,
    )

    def no_pandas(*args, **kwargs):
        raise RuntimeError("pandas.read_excel must not run")

    monkeypatch.setattr(pd, "read_excel", no_pandas)
    schema = _dof_schema()
    path = str(tmp_path / "wb.xlsx")
    _write_xlsx(
        path, _DOF_HEADER,
        [_dof_row("1000010001", 1250000.5), _dof_row("1000020002", None)],
    )
    with open(path, "rb") as fh:
        stream_rows = _typed_rows(
            spark, excel_string_rows(fh.read(), schema), schema
        )
    batch_rows = read_excel(spark, path, schema).collect()
    assert {r["bbl"]: r for r in batch_rows} == {
        r["bbl"]: r for r in stream_rows
    }


def test_excel_serial_dates_load_as_timestamps(spark, tmp_path):
    """xlsx stores a date as serial days in the 1900 date system
    (day 0 is 1899-12-30): numeric ``saledate`` cells load as those
    instants through the batch and the stream parser, not as the
    year 43831 or a cast error."""
    import datetime

    from nycdb_k8s_loader_spark.engine import Engine
    from nycdb_k8s_loader_spark.sources.readers import read_excel

    schema = _dof_schema()
    path = str(tmp_path / "serial.xlsx")
    rows = [_dof_row("1000010001", 100.0), _dof_row("1000020002", 200.0)]
    rows[0][_DOF_HEADER.index("saledate")] = 43831
    rows[1][_DOF_HEADER.index("saledate")] = 43831.5
    _write_xlsx(path, _DOF_HEADER, rows)
    want = {
        "1000010001": datetime.datetime(2020, 1, 1, 0, 0),
        "1000020002": datetime.datetime(2020, 1, 1, 12, 0),
    }
    batch = read_excel(spark, path, schema).collect()
    assert {r["bbl"]: r["saledate"] for r in batch} == want
    with open(path, "rb") as fh:
        content = fh.read()
    parse = Engine._binary_row_parser("excel", schema)
    stream = _typed_rows(spark, parse(path, content), schema)
    assert {r["bbl"]: r["saledate"] for r in stream} == want


def test_load_streaming_rejects_mixed_format_table(spark, tmp_path):
    """A table fed by BOTH csv and excel sources has no single stream
    shape — loud error, not garbage parsing."""
    import pytest as _pytest

    from pyspark.sql import types as T

    from nycdb_k8s_loader_spark.engine import Engine
    from nycdb_k8s_loader_spark.registry import (
        DatasetDef,
        Registry,
        SourceFile,
        TableDef,
    )
    from nycdb_k8s_loader_spark.state.kvstore import DictKVStore
    from nycdb_k8s_loader_spark.state.lastmod import FetchResult

    reg = Registry()
    reg.add(DatasetDef(
        name="mixed",
        files=[
            SourceFile(url="http://x/a.csv", dest="a.csv", format="csv"),
            SourceFile(url="http://x/b.xlsx", dest="b.xlsx",
                       format="excel"),
        ],
        tables=[TableDef(
            "mixed",
            T.StructType([T.StructField("a", T.StringType())]),
        )],
    ))
    eng = Engine(
        spark, reg, DictKVStore(),
        target_db="stream_mixed_test",
        landing_root=str(tmp_path / "landing"),
        transport=lambda url, headers: FetchResult(200, etag='"m"'),
        downloader=lambda url, dest: None,
    )
    with _pytest.raises(ValueError, match="mixes source formats"):
        eng.load_streaming("mixed")


def test_max_files_per_trigger_bounds_batches(spark, tmp_path):
    """Round-6 brief #6: a 10-file backlog with max_files_per_trigger=3
    drains across >= 4 BOUNDED micro-batches inside one availableNow
    pass — and the published counts equal the batch-load semantics
    (all rows, exactly once)."""
    from nycdb_k8s_loader_spark.datasets import wow_registry
    from nycdb_k8s_loader_spark.engine import Engine
    from nycdb_k8s_loader_spark.state.kvstore import DictKVStore
    from nycdb_k8s_loader_spark.state.lastmod import FetchResult

    eng = Engine(
        spark,
        wow_registry(),
        DictKVStore(),
        target_db="stream_mft_test",
        landing_root=str(tmp_path / "landing"),
        transport=lambda url, headers: FetchResult(200, etag='"t"'),
        downloader=lambda url, dest: None,
    )
    land = (
        tmp_path / "landing" / "hpd_registrations" / "stream"
        / "hpd_registrations"
    )
    land.mkdir(parents=True)
    try:
        for i in range(10):
            (land / f"drop{i:02d}.csv").write_text(
                f"registrationid,bbl,boro\n{i + 1},BBL{i + 1},MN\n"
            )
        eng.load_streaming(
            "hpd_registrations", max_files_per_trigger=3
        )
        t = "stream_mft_test.hpd_registrations"
        assert spark.table(t).count() == 10  # == the batch-load result
        # committed store files carry their batch id (b<id>-...): the
        # backlog must have drained across ceil(10/3) = 4 triggers
        import os
        import re

        store = (
            tmp_path / "landing" / "hpd_registrations" / "_stream"
            / "hpd_registrations" / "data"
        )
        batches = {
            m.group(1)
            for f in os.listdir(store)
            if (m := re.match(r"(b\d+)-", f))
        }
        assert len(batches) >= 4, batches
    finally:
        spark.sql("DROP DATABASE IF EXISTS stream_mft_test CASCADE")
