"""The load scheduler (publish/scheduler.py): statement dependency
analysis, concurrent execution with serial-equivalent results, and the
failure rule — plus the engine paths that now run through it."""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql import types as T

from nycdb_k8s_loader_spark.engine import Engine
from nycdb_k8s_loader_spark.publish.protocol import Publisher
from nycdb_k8s_loader_spark.publish.scheduler import (
    Node,
    dependencies,
    run_graph,
    script_nodes,
    statement_node,
)
from nycdb_k8s_loader_spark.registry import DatasetDef, Registry, SourceFile, TableDef
from nycdb_k8s_loader_spark.state.kvstore import DictKVStore
from nycdb_k8s_loader_spark.state.lastmod import FetchResult


def stmt_deps(*stmts: str, table_fns=frozenset()) -> list[set[int]]:
    return dependencies(
        [statement_node(s, lambda: None, table_fns) for s in stmts]
    )


class TestStatementDependencies:
    def test_read_after_write_across_joins_subqueries_and_ctes(self):
        deps = stmt_deps(
            "CREATE TABLE a AS SELECT 1 AS k",
            "CREATE TABLE b AS SELECT 2 AS k",
            # comma join
            "CREATE TABLE c AS SELECT x.k FROM src x, a WHERE x.k = a.k",
            # subquery
            "CREATE TABLE d AS SELECT * FROM src WHERE k IN "
            "(SELECT k FROM b)",
            # a CTE body reads c; the CTE's own name is not a table
            "CREATE TABLE e AS WITH w AS (SELECT * FROM c) SELECT * FROM w",
            # names inside literals and comments are not reads
            "CREATE TABLE f AS SELECT 'a' AS v -- from b\n FROM src",
        )
        assert deps == [set(), set(), {0}, {1}, {2}, set()]

    def test_write_after_read_and_write_after_write(self):
        deps = stmt_deps(
            "CREATE TABLE t2 AS SELECT * FROM t1",
            "CREATE TABLE t1 AS SELECT 1 AS k",
            "CREATE OR REPLACE TABLE t1 AS SELECT 2 AS k",
        )
        assert deps == [set(), {0}, {0, 1}]

    @pytest.mark.parametrize(
        "stmt",
        [
            "ALTER TABLE a RENAME TO z",
            "DROP TABLE IF EXISTS a",
            "INSERT INTO a SELECT 3",
            "CREATE OR REPLACE TEMPORARY FUNCTION f(x INT) RETURNS INT "
            "RETURN x",
            "CREATE TABLE z AS SELECT * FROM wow.get_assoc_addrs_from_bbl('1')",
        ],
    )
    def test_barriers_keep_script_order(self, stmt):
        fns = frozenset({"wow.get_assoc_addrs_from_bbl"})
        node = statement_node(stmt, lambda: None, fns)
        assert node.barrier
        deps = stmt_deps(
            "CREATE TABLE a AS SELECT 1 AS k",
            "CREATE TABLE b AS SELECT 2 AS k",
            stmt,
            "CREATE TABLE c AS SELECT 3 AS k",
            table_fns=fns,
        )
        assert deps == [set(), set(), {0, 1}, {2}]

    def test_a_table_function_name_alone_is_no_barrier(self):
        node = statement_node(
            "CREATE TABLE z AS SELECT * FROM wow.get_assoc_addrs_from_bbl('1')",
            lambda: None,
        )
        assert not node.barrier


def test_temporary_function_ddl_is_replayed_not_run(tmp_path):
    """The function DDL the shipped wow script ends with (Spark's
    ``CREATE OR REPLACE TEMPORARY FUNCTION``, after a comment) is
    collected for post-publish replay and gets no statement node."""
    ddl = (
        "-- re-created post-publish\n"
        "CREATE OR REPLACE TEMPORARY FUNCTION wow_normalize_name(s STRING)\n"
        "RETURNS STRING RETURN trim(regexp_replace(upper(s), '[^A-Z0-9]+', ' '))"
    )
    script = tmp_path / "post.sql"
    script.write_text(f"CREATE TABLE t AS SELECT 1 AS k;\n\n{ddl};\n")
    function_stmts: list[str] = []
    nodes = script_nodes(None, None, [str(script)], function_stmts)
    assert [n.creates for n in nodes] == [("t",)]
    assert function_stmts == [ddl]


class TestRunGraph:
    def test_independent_nodes_overlap_and_dependents_wait(self):
        started: list[str] = []
        both = threading.Barrier(2, timeout=10)

        def indep(name):
            def run():
                started.append(name)
                both.wait()  # deadlocks unless a and b run together
                return name
            return run

        nodes = [
            Node(indep("a"), creates=("a",)),
            Node(indep("b"), creates=("b",)),
            Node(lambda: started.append("c") or "c", reads=("a", "b")),
        ]
        assert run_graph(nodes, 2) == ["a", "b", "c"]
        assert started[-1] == "c"

    def test_first_failure_stops_new_nodes_and_lets_running_ones_finish(self):
        fail_now = threading.Event()
        finished: list[str] = []

        def slow():
            fail_now.set()
            time.sleep(0.3)
            finished.append("slow")

        def fail():
            fail_now.wait(10)
            raise ValueError("boom")

        nodes = [
            Node(slow, creates=("s",)),
            Node(fail, creates=("f",)),
            Node(lambda: finished.append("later"), creates=("l",)),
            Node(lambda: finished.append("dep"), reads=("s",)),
        ]
        with pytest.raises(ValueError, match="boom"):
            run_graph(nodes, 2)
        assert finished == ["slow"]

    def test_stress_no_node_starts_before_its_dependencies(self):
        import random
        import sys

        rng = random.Random(7)
        names = [f"t{i}" for i in range(300)]
        finished: set[str] = set()
        lock = threading.Lock()
        early: list[str] = []

        def make(i, before):
            def run():
                with lock:
                    early.extend(r for r in before if r not in finished)
                time.sleep(rng.random() / 2000)
                with lock:
                    finished.add(names[i])
            return run

        nodes, barriers = [], []
        for i in range(len(names)):
            reads = tuple(rng.sample(names[:i], min(i, rng.randrange(4))))
            barrier = rng.random() < 0.02
            # a barrier waits for every earlier node, and every later
            # node waits for each earlier barrier
            before = set(names[:i]) if barrier else {*reads, *barriers}
            nodes.append(Node(make(i, before), (names[i],), reads, barrier))
            if barrier:
                barriers.append(names[i])
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            run_graph(nodes, 16)
        finally:
            sys.setswitchinterval(interval)
        assert early == [] and len(finished) == len(names)

    def test_nodes_inherit_the_callers_job_group(self, spark):
        sc = spark.sparkContext
        sc.setJobGroup("scheduler-inherit", "scheduler test")
        try:
            nodes = [
                Node(lambda: sc.getLocalProperty("spark.jobGroup.id"))
                for _ in range(3)
            ]
            assert run_graph(nodes, 3, spark) == ["scheduler-inherit"] * 3
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)


BLDGS_SCHEMA = T.StructType(
    [
        T.StructField("bbl", T.StringType()),
        T.StructField("unitsres", T.IntegerType()),
        T.StructField("borough", T.StringType()),
    ]
)
CSV = "bbl,unitsres,borough\n1,10,MN\n2,5,BX\n3,7,MN\n4,2,BK\n"


def bldgs_engine(spark, tmp_path, db: str, script: str, files=True) -> Engine:
    sql = tmp_path / "script.sql"
    sql.write_text(script)
    reg = Registry()
    reg.add(
        DatasetDef(
            name="bldgs",
            files=[SourceFile(url="https://x/bldgs.csv", dest="bldgs.csv")]
            if files else [],
            tables=[TableDef("bldgs", BLDGS_SCHEMA)] if files else [],
            sql=[str(sql)],
        )
    )

    def download(url, dest):
        with open(dest, "w") as f:
            f.write(CSV)

    return Engine(
        spark, reg, DictKVStore(), target_db=db,
        landing_root=str(tmp_path / "landing"),
        transport=lambda url, headers: FetchResult(200, etag='"v1"'),
        downloader=download,
    )


class TestEngineThroughScheduler:
    def test_standard_load_transpiles_postgres_statements(
        self, spark, tmp_path
    ):
        """The dataset scripts are Postgres dialect: ``= any('{…}')``
        and ``DISTINCT ON`` only run once transpiled."""
        eng = bldgs_engine(spark, tmp_path, "sched_pg", """
            CREATE TABLE big_boroughs AS
            SELECT bbl, borough FROM bldgs
            WHERE borough = any('{MN,BX}');
            CREATE TABLE top_bldg AS
            SELECT DISTINCT ON (borough) borough, bbl, unitsres
            FROM bldgs
            ORDER BY borough, unitsres DESC, bbl;
        """)
        try:
            eng.load("bldgs")
            assert sorted(
                r["bbl"] for r in spark.table("sched_pg.big_boroughs").collect()
            ) == ["1", "2", "3"]
            assert sorted(
                (r["borough"], r["bbl"])
                for r in spark.table("sched_pg.top_bldg").collect()
            ) == [("BK", "4"), ("BX", "2"), ("MN", "1")]
        finally:
            Publisher(spark, "sched_pg").drop_db("sched_pg")

    def test_dependent_statement_reads_staging_not_published_copy(
        self, spark, tmp_path
    ):
        """``totals`` is already published with a stale marker; the
        statement reading it must wait for this load's staging copy."""
        spark.sql("CREATE DATABASE IF NOT EXISTS sched_stale")
        spark.sql("DROP TABLE IF EXISTS sched_stale.totals")
        spark.sql(
            "CREATE TABLE sched_stale.totals AS SELECT 'stale' AS marker, "
            "0L AS units"
        )
        eng = bldgs_engine(spark, tmp_path, "sched_stale", """
            CREATE TABLE totals AS
            SELECT 'fresh' AS marker, sum(unitsres) AS units FROM bldgs;
            CREATE TABLE report AS SELECT marker, units FROM totals;
        """)
        try:
            eng.load("bldgs")
            rows = spark.table("sched_stale.report").collect()
            assert [(r["marker"], r["units"]) for r in rows] == [("fresh", 24)]
        finally:
            Publisher(spark, "sched_stale").drop_db("sched_stale")

    def test_failing_statement_publishes_nothing_and_drops_staging(
        self, spark, tmp_path
    ):
        eng = bldgs_engine(spark, tmp_path, "sched_fail", """
            CREATE TABLE fine AS SELECT bbl FROM bldgs;
            CREATE TABLE broken AS SELECT * FROM no_such_table;
            CREATE TABLE independent AS SELECT 1 AS k;
        """)
        with pytest.raises(Exception, match="no_such_table"):
            eng.load("bldgs")
        for t in ("bldgs", "fine", "broken", "independent"):
            assert not spark.catalog.tableExists(f"sched_fail.{t}")
        assert Publisher(spark).list_staging_dbs("bldgs") == []

    def test_running_populate_finishes_before_staging_drops(
        self, spark, tmp_path
    ):
        """A failing statement beside a running populate hook: the hook
        completes, its staging write succeeds, then staging drops and
        nothing publishes."""
        from nycdb_k8s_loader_spark.registry import Populate

        sql = tmp_path / "post.sql"
        sql.write_text("CREATE TABLE broken AS SELECT * FROM no_such_table;")
        finished: list[str] = []

        def populate(spark, staging_db):
            time.sleep(0.5)
            spark.range(3).write.saveAsTable(f"`{staging_db}`.`pop`")
            finished.append("populate")

        reg = Registry()
        reg.add(DatasetDef(
            name="popfail", schema="sched_pop", label="popfail",
            sql=[Populate(populate, creates=("pop",)), str(sql)],
        ))
        eng = Engine(
            spark, reg, DictKVStore(), target_db="sched_pop",
            landing_root=str(tmp_path / "landing"),
            transport=lambda url, headers: FetchResult(200),
            downloader=lambda url, dest: None,
        )
        with pytest.raises(Exception, match="no_such_table"):
            eng.load_all(["popfail"])
        assert finished == ["populate"]
        assert not spark.catalog.tableExists("sched_pop.pop")
        assert Publisher(spark).list_staging_dbs("popfail") == []

    def test_statement_jobs_carry_the_load_job_group(self, spark, tmp_path):
        eng = bldgs_engine(
            spark, tmp_path, "sched_group",
            "CREATE TABLE numbers AS SELECT id FROM range(100);",
            files=False,
        )
        # only the statement's own jobs: no staging write, no publish
        eng.publisher.publish_tables = lambda *a, **k: []
        sc = spark.sparkContext
        sc.setJobGroup("sched-load-group", "bldgs")
        try:
            eng.load("bldgs")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert sc.statusTracker().getJobIdsForGroup("sched-load-group")


def test_loop_clone_raises_when_rebind_fails(
    spark, monkeypatch, distributed_cc
):
    """A loop whose input cannot be rebound onto the loop session
    raises instead of fencing the shared session; the caller's conf is
    untouched."""
    from nycdb_k8s_loader_spark import session
    from nycdb_k8s_loader_spark.operators import graph

    def broken(df, session):
        raise AttributeError("Dataset.ofRows is gone")

    monkeypatch.setattr(session, "_rebind", broken)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    width = spark.conf.get("spark.sql.shuffle.partitions")
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(RuntimeError, match="private session"):
        graph.connected_components(edges)
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == width
