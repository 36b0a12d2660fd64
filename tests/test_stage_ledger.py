"""The stage primitive (``session.materialize``/``materialize_all``/
``stage``), its ledger, the loop session that iterative operators
and stateful streams plan on, and the per-context expression memo
(``session.memoized``)."""

from __future__ import annotations

import threading

import pytest
from conftest import SF_SMALL
from pyspark.sql import functions as F

from nycdb_k8s_loader_spark import session


def _names(records):
    return [name for name, _secs in records]


def _cc_edges(spark):
    # 1-2-3-4 needs three label rounds after the fused init; 10-11 one
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src bigint, dst bigint"
    )


def test_connected_components_ledger_names_each_round(
    spark, distributed_cc
):
    from nycdb_k8s_loader_spark.operators.graph import connected_components

    with session.stage_ledger() as records:
        out = connected_components(_cc_edges(spark))
    assert _names(records) == [
        "graph.cc.edges", "graph.cc.sym", "graph.cc.init",
        "graph.cc.round", "graph.cc.round", "graph.cc.round",
    ]
    assert all(secs > 0 for _name, secs in records)
    comp = {r["node"]: r["component"] for r in out.collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_small_graph_takes_the_driver_path(spark, monkeypatch):
    """Below the size gate both CC operators collect their edge
    checkpoint and solve it on the driver: the ledger names the
    checkpoint and the local stage and no loop stage, and no loop
    session is cloned."""
    from nycdb_k8s_loader_spark.operators import graph

    session._LOOP_SESSIONS.pop(spark, None)
    made = []
    monkeypatch.setattr(spark, "newSession", lambda: made.append(1))
    want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    for op, prefix in (
        (graph.connected_components, "graph.cc"),
        (graph.connected_components_star, "graph.star"),
    ):
        with session.stage_ledger() as records:
            out = op(_cc_edges(spark))
        assert _names(records) == [f"{prefix}.edges", f"{prefix}.local"]
        assert out.sparkSession is spark
        assert {r["node"]: r["component"] for r in out.collect()} == want
    assert made == []


def test_double_ids_take_the_distributed_path(spark):
    """Python does not order doubles as Spark does (NaN, -0.0), so a
    double-id graph runs the loop however small it is."""
    from nycdb_k8s_loader_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 3.0)], "src double, dst double"
    )
    with session.stage_ledger() as records:
        out = connected_components(edges)
    assert "graph.cc.local" not in _names(records)
    assert "graph.cc.round" in _names(records)
    assert {r["node"]: r["component"] for r in out.collect()} == {
        1.0: 1.0, 2.0: 1.0, 3.0: 1.0
    }


def test_driver_path_output_schema_matches_the_loop(spark, monkeypatch):
    """Both sides of the gate return the same schema, field for field
    (type and nullability), for each id type the driver path takes."""
    from nycdb_k8s_loader_spark.operators import graph

    inputs = [
        spark.createDataFrame([(1, 2), (3, None)], "src bigint, dst bigint"),
        spark.createDataFrame([(1, 2)], "src smallint, dst smallint"),
        spark.createDataFrame([("a", "b")], "src string, dst string"),
        spark.range(3).selectExpr("id AS src", "id + 1 AS dst"),
    ]
    for op in (graph.connected_components, graph.connected_components_star):
        for edges in inputs:
            local = op(edges)
            monkeypatch.setattr(graph, "_DRIVER_CC_MAX_EDGES", -1)
            loop = op(edges)
            monkeypatch.undo()
            assert local.schema == loop.schema, (op.__name__, edges.schema)
            assert sorted(local.collect()) == sorted(loop.collect())


def test_nothing_recorded_without_a_collector(spark):
    with session.stage_ledger() as closed:
        pass
    assert session._COLLECTORS == {}
    df = session.materialize(spark.range(10), "test.no_collector")
    with session.stage("test.no_collector"):
        pass
    assert df.count() == 10
    assert closed == [] and session._COLLECTORS == {}


def test_nested_collectors_both_record(spark):
    with session.stage_ledger() as outer:
        session.materialize(spark.range(3), "test.outer")
        with session.stage_ledger() as inner:
            session.materialize(spark.range(3), "test.inner")
    assert _names(outer) == ["test.outer", "test.inner"]
    assert _names(inner) == ["test.inner"]


def test_nested_stage_records_its_own_time(spark):
    """An enclosing stage records its wall time minus the nested
    stages, so a build's records add up to its time in stages."""
    import time

    with session.stage_ledger() as records:
        with session.stage("test.outer"):
            time.sleep(0.2)
            with session.stage("test.inner"):
                time.sleep(0.4)
    got = dict(records)
    assert list(got) == ["test.inner", "test.outer"]
    assert 0.4 <= got["test.inner"] < 0.6
    assert 0.2 <= got["test.outer"] < 0.4


def test_pool_form_records_every_stage(spark):
    """Six concurrent stages each leave one record, and the
    checkpoints come back in argument order."""
    stages = [
        (f"test.pool.{i}", spark.range(100 * (i + 1)).selectExpr("id % 7 AS k"))
        for i in range(6)
    ]
    with session.stage_ledger() as records:
        out = session.materialize_all(*stages)
    assert sorted(_names(records)) == sorted(name for name, _df in stages)
    assert [df.count() for df in out] == [100 * (i + 1) for i in range(6)]


def test_caller_job_description_restored(spark):
    sc = spark.sparkContext
    key = "spark.job.description"
    try:
        sc.setJobDescription("the caller's description")
        session.materialize(spark.range(5), "test.describe")
        assert sc.getLocalProperty(key) == "the caller's description"
        sc.setLocalProperty(key, None)
        session.materialize(spark.range(5), "test.describe")
        assert sc.getLocalProperty(key) is None
    finally:
        sc.setLocalProperty(key, None)


def test_materialize_releases_superseded_frames(spark):
    first = session.materialize(spark.range(20), "test.gen0")
    rdd_id = first._jdf.queryExecution().analyzed().rdd().id()

    def persisted():
        return {i.id() for i in spark._jsc.sc().getRDDStorageInfo()}

    assert rdd_id in persisted()
    second = session.materialize(
        first.selectExpr("id + 1 AS id"), "test.gen1", release=(first,)
    )
    assert rdd_id not in persisted()
    assert second.count() == 20


def _job_ids_between(spark, build):
    """Ids of every Spark job ``build`` started, bracketed by two
    probes in their own groups (job ids are sequential)."""
    sc = spark.sparkContext

    def probe(group):
        sc.setJobGroup(group, group)
        spark.range(1).count()
        return sc.statusTracker().getJobIdsForGroup(group)

    try:
        first = max(probe("ledger-probe-before"))
        sc.setJobGroup("ledger-state-build", "c08 states")
        build()
        last = min(probe("ledger-probe-after"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return set(range(first + 1, last))


def test_c08_state_quartet_stays_in_caller_job_group(spark):
    """The four concurrently built c08 states run their jobs in the
    caller's job group, so ``cancelJobGroup`` reaches them (a plain
    thread pool starts with empty local properties under PySpark's
    pinned-thread mode)."""
    from nycdb_k8s_loader_spark.plans.curation_queries import _c08_states

    jobs = _job_ids_between(
        spark, lambda: _c08_states(spark, SF_SMALL)
    )
    grouped = set(
        spark.sparkContext.statusTracker().getJobIdsForGroup(
            "ledger-state-build"
        )
    )
    assert len(jobs) >= 5  # the shared checkpoint + four states
    assert jobs - grouped == set()


def test_memory_stream_never_writes_caller_shuffle_width(spark, tmp_path):
    """A stateful memory-sink stream sizes its state store on the loop
    session: a second thread reading the caller's shuffle width while
    the query runs never sees it change, and the result comes back on
    the caller's session."""
    from pyspark.sql import functions as F

    from nycdb_k8s_loader_spark.plans.extended_queries import (
        _run_memory_stream,
    )

    src = str(tmp_path / "src")
    spark.range(200).selectExpr("id", "id % 5 AS k").write.parquet(src)
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "16")  # wider than the loop session's clamp
    seen: set[str] = set()
    reads = 0
    done = threading.Event()

    def watch():
        nonlocal reads
        while not done.is_set():
            seen.add(spark.conf.get(key))
            reads += 1

    watcher = threading.Thread(target=watch)
    try:
        stream = (
            spark.readStream.schema("id long, k long").parquet(src)
            .groupBy("k").agg(F.count("*").alias("n"))
        )
        watcher.start()
        out = _run_memory_stream(spark, stream, "fence", "complete")
        done.set()
        watcher.join()
        rows = sorted((r["k"], r["n"]) for r in out.collect())
    finally:
        done.set()
        spark.conf.set(key, prev)
    assert reads > 0 and seen == {"16"}
    assert out.sparkSession is spark
    assert rows == [(k, 40) for k in range(5)]


# --- the per-context expression memo ----------------------------------------

_MEMO_LIFETIME = r"""
from nycdb_k8s_loader_spark import session
from nycdb_k8s_loader_spark.operators import geo

def run():
    spark = session.get_spark(master="local[1]", shuffle_partitions=1)
    a = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")], "aid long, wa string")
    b = spark.createDataFrame(
        [(10, "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))"),
         (11, "POLYGON ((9 9, 10 9, 10 10, 9 10, 9 9))")], "bid long, wb string")
    out = geo.polygon_intersection_join_binned(a, b, wkt_a="wa", wkt_b="wb")
    rows = sorted((r["aid"], r["bid"]) for r in out.collect())
    store = session._MEMOS[spark.sparkContext]
    return spark, rows, store, geo._bbox_overlap("__va", "__vb")

spark, first, store1, col1 = run()
assert geo._bbox_overlap("__va", "__vb") is col1  # a hit in one context
spark.stop()
spark, second, store2, col2 = run()
assert store2 is not store1 and col2 is not col1, "stale store reused"
assert first == second == [(1, 10)], (first, second)
spark.stop()
print("ok")
"""


def test_memo_store_dies_with_its_context(tmp_path):
    """A binned join built, run, then rebuilt after ``spark.stop()``
    and a new session gets fresh Columns from a new store, and the
    same rows."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _MEMO_LIFETIME], cwd=root,
        env={**os.environ, "PYTHONPATH": root,
             "SPARK_LOCAL_DIRS": str(tmp_path)},
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0 and proc.stdout.strip() == "ok", proc.stderr[-3000:]


def test_memo_two_threads_build_one_key(spark):
    """Two threads that build the same key at once both get a usable
    Column — the first one stored."""
    ready = threading.Barrier(2)
    builds = []

    @session.memoized
    def plus_one(name: str):
        builds.append(name)
        ready.wait(timeout=30)
        return (F.col(name) + 1).alias("y")

    got = [None, None]

    def build(i: int) -> None:
        got[i] = plus_one("x")

    threads = [threading.Thread(target=build, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    assert builds == ["x", "x"] and got[0] is got[1]
    df = spark.createDataFrame([(1,), (2,)], "x long")
    for col in got:
        assert sorted(r["y"] for r in df.select(col).collect()) == [2, 3]
    assert plus_one("x") is got[0] and builds == ["x", "x"]


def test_memo_keeps_one_value_per_key_under_contention(spark):
    """More threads than cores race over the same keys with a short
    switch interval: every thread ends up with the one stored value
    per key (a lost update would hand threads different values)."""
    import sys

    @session.memoized
    def token(i: int):
        return object()

    seen = [{} for _ in range(16)]

    def work(t: int) -> None:
        for i in range(200):
            seen[t][i] = token(i)

    threads = [threading.Thread(target=work, args=(t,)) for t in range(16)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert all(len({id(s[i]) for s in seen}) == 1 for i in range(200))


def test_memo_refuses_frame_bound_arguments(spark):
    """Only names and constants key a memoized builder: a Column
    (possibly bound to one frame) or a DataFrame argument raises."""
    ident = session.memoized(lambda x: x)
    df = spark.createDataFrame([(1,)], "x long")
    for arg in (df["x"], F.col("x"), df):
        with pytest.raises(TypeError):
            ident(arg)
    assert ident(1) == 1 and ident(1.0) == 1.0
    assert isinstance(ident(1.0), float) and isinstance(ident(1), int)
