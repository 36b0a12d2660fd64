"""End-to-end engine lifecycle tests (mirrors the reference's e2e
pyramid, tests/test_load_dataset.py:44-151): load a registry dataset
from CSV → staging → publish, assert >0 rows, re-load idempotently,
verify 304-skip and error rollback."""

from __future__ import annotations

import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from nycdb_k8s_loader_spark.engine import Engine
from nycdb_k8s_loader_spark.publish.lexer import Masked
from nycdb_k8s_loader_spark.publish.parse_created_tables import split_statements
from nycdb_k8s_loader_spark.publish.protocol import Publisher, staging_db_name
from nycdb_k8s_loader_spark.publish.resolver import SearchPathResolver
from nycdb_k8s_loader_spark.registry import DatasetDef, Registry, SourceFile, TableDef
from nycdb_k8s_loader_spark.state.kvstore import DictKVStore
from nycdb_k8s_loader_spark.state.lastmod import FetchResult

BLDGS_SCHEMA = T.StructType(
    [
        T.StructField("bbl", T.StringType()),
        T.StructField("unitsres", T.IntegerType()),
        T.StructField("borough", T.StringType()),
    ]
)

CSV_V1 = "bbl,unitsres,borough\n1000010001,10,MN\n2000020002,5,BX\n"
CSV_V2 = CSV_V1 + "3000030003,7,BK\n"


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "landing" / "bldgs"
    d.mkdir(parents=True)
    (d / "bldgs.csv").write_text(CSV_V1)
    return str(tmp_path / "landing")


@pytest.fixture()
def registry(tmp_path):
    reg = Registry()
    sql_path = tmp_path / "derive.sql"
    sql_path.write_text(
        """
        -- derived rollup (CTAS), exercises created-table discovery
        CREATE TABLE bldg_rollup AS
        SELECT borough, SUM(unitsres) AS total_units, COUNT(*) AS n
        FROM bldgs GROUP BY borough;
        """
    )
    reg.add(
        DatasetDef(
            name="bldgs",
            files=[SourceFile(url="https://x/bldgs.csv", dest="bldgs.csv")],
            tables=[TableDef("bldgs", BLDGS_SCHEMA)],
            sql=[str(sql_path)],
        )
    )
    return reg


def transport_always(result: FetchResult):
    def t(url, headers):
        return result

    return t


def fake_downloader(content: str = CSV_V1):
    """Simulated fetch: writes `content` to dest (the engine ALWAYS
    re-downloads once change detection fires — a pre-existing landing
    file may be stale)."""

    def dl(url, dest):
        with open(dest, "w") as f:
            f.write(content)

    return dl


def make_engine(
    spark, registry, landing, kv=None, transport=None, db="pubtest",
    downloader=None,
):
    return Engine(
        spark,
        registry,
        kv if kv is not None else DictKVStore(),
        target_db=db,
        landing_root=landing,
        transport=transport or transport_always(FetchResult(200, etag='"v1"')),
        downloader=downloader or fake_downloader(),
    )


class TestEngineLifecycle:
    def test_load_publish_and_idempotent_rerun(self, spark, registry, landing):
        eng = make_engine(spark, registry, landing)
        res = eng.load("bldgs")
        assert not res.skipped
        assert set(res.published) == {"pubtest.bldgs", "pubtest.bldg_rollup"}

        assert spark.table("pubtest.bldgs").count() == 2
        rollup = {
            r["borough"]: (r["total_units"], r["n"])
            for r in spark.table("pubtest.bldg_rollup").collect()
        }
        assert rollup == {"MN": (10, 1), "BX": (5, 1)}

        # rerun → identical counts (reference idempotency,
        # tests/test_load_dataset.py:78-84)
        res2 = eng.load("bldgs", force=True)
        assert not res2.skipped
        assert spark.table("pubtest.bldgs").count() == 2
        assert spark.table("pubtest.bldg_rollup").count() == 2

        # no staging namespaces left behind
        assert Publisher(spark).list_staging_dbs("bldgs") == []

    def test_304_skips_everything(self, spark, registry, landing):
        kv = DictKVStore()
        eng = make_engine(
            spark, registry, landing, kv=kv, transport=transport_always(FetchResult(304))
        )
        res = eng.load("bldgs")
        assert res.skipped and res.published == []

    def test_change_detection_roundtrip(self, spark, registry, landing):
        kv = DictKVStore()
        eng1 = make_engine(
            spark,
            registry,
            landing,
            kv=kv,
            transport=transport_always(FetchResult(200, etag='"v1"')),
        )
        assert not eng1.load("bldgs").skipped
        assert kv["etag:https://x/bldgs.csv"] == '"v1"'

        eng2 = make_engine(
            spark, registry, landing, kv=kv, transport=transport_always(FetchResult(304))
        )
        assert eng2.load("bldgs").skipped

    def test_failed_transform_rolls_back(self, spark, landing, tmp_path):
        reg = Registry()
        bad_sql = tmp_path / "bad.sql"
        bad_sql.write_text("CREATE TABLE boom AS SELECT * FROM does_not_exist;")
        reg.add(
            DatasetDef(
                name="bldgs",
                files=[SourceFile(url="https://x/bldgs.csv", dest="bldgs.csv")],
                tables=[TableDef("bldgs", BLDGS_SCHEMA)],
                sql=[str(bad_sql)],
            )
        )
        eng = make_engine(spark, reg, landing, db="rollbacktest")
        with pytest.raises(Exception):
            eng.load("bldgs")
        # target namespace never created / no partial publish
        assert not spark.catalog.tableExists("rollbacktest.bldgs")
        # staging cleaned up
        assert Publisher(spark).list_staging_dbs("bldgs") == []

    def test_stale_landing_file_is_refreshed(self, spark, registry, landing):
        """A changed URL must be re-downloaded even when a landing copy
        exists — otherwise old bytes get published while the NEW etag
        is persisted, losing the update forever."""
        eng = make_engine(
            spark, registry, landing, downloader=fake_downloader(CSV_V2)
        )
        eng.load("bldgs")  # landing dir already held CSV_V1 (2 rows)
        assert spark.table("pubtest.bldgs").count() == 3

    def test_multi_table_datasets_map_files_to_tables(
        self, spark, landing, tmp_path
    ):
        reg = Registry()
        reg.add(
            DatasetDef(
                name="bldgs",
                files=[
                    SourceFile(url="https://x/bldgs.csv", dest="bldgs.csv"),
                    SourceFile(url="https://x/extra.csv", dest="extra.csv"),
                ],
                tables=[
                    TableDef("bldgs", BLDGS_SCHEMA, files=["bldgs.csv"]),
                    TableDef("extra", BLDGS_SCHEMA, files=["extra.csv"]),
                ],
            )
        )
        eng = make_engine(spark, reg, landing, db="multitest")
        try:
            eng.load("bldgs")
            # each table sees only its own file's rows — NOT the union
            assert spark.table("multitest.bldgs").count() == 2
            assert spark.table("multitest.extra").count() == 2
        finally:
            Publisher(spark, "multitest").drop_db("multitest")

    def test_mixed_function_script_still_creates_tables(
        self, spark, landing, tmp_path
    ):
        """A script containing function DDL + CTAS must not lose the
        CTAS; Spark-compatible function DDL registers post-publish."""
        reg = Registry()
        mixed = tmp_path / "mixed.sql"
        mixed.write_text(
            """
            CREATE OR REPLACE TEMPORARY FUNCTION double_units(u INT)
            RETURNS INT RETURN u * 2;
            CREATE TABLE doubled AS
            SELECT bbl, unitsres * 2 AS units2 FROM bldgs;
            """
        )
        reg.add(
            DatasetDef(
                name="bldgs",
                files=[SourceFile(url="https://x/bldgs.csv", dest="bldgs.csv")],
                tables=[TableDef("bldgs", BLDGS_SCHEMA)],
                sql=[str(mixed)],
            )
        )
        eng = make_engine(spark, reg, landing, db="fntest")
        try:
            res = eng.load("bldgs")
            assert "fntest.doubled" in res.published
            assert spark.table("fntest.doubled").count() == 2
            # the function DDL was registered post-publish
            assert spark.sql("SELECT double_units(3) AS v").first()["v"] == 6
        finally:
            Publisher(spark, "fntest").drop_db("fntest")

    def test_function_registry_applies_once_per_engine(
        self, spark, registry, landing, monkeypatch
    ):
        """Temp functions are session-scoped and survive a publish:
        the engine applies its FunctionRegistry when it starts and
        never again, however many loads follow."""
        from nycdb_k8s_loader_spark.functions.registry import FunctionRegistry

        eng = make_engine(spark, registry, landing, db="fnonce")
        calls: list[int] = []
        apply = FunctionRegistry.apply
        monkeypatch.setattr(
            FunctionRegistry, "apply",
            lambda self, sp: calls.append(1) or apply(self, sp),
        )
        try:
            eng.load("bldgs")
            eng.load("bldgs", force=True)
            assert calls == []
            assert spark.sql(
                "SELECT slugify(' A b ') AS v"
            ).first()["v"] == "a-b"
        finally:
            Publisher(spark, "fnonce").drop_db("fnonce")

    def test_dependency_schema_is_on_the_search_path(
        self, spark, landing, tmp_path
    ):
        """A dataset reads its dependencies' tables by bare name: the
        target schema of every dataset it depends on is on its search
        path, and each publishes into its own schema."""
        from nycdb_k8s_loader_spark.registry import Populate

        def populate(sp, staging_db):
            sp.range(4).write.saveAsTable(f"`{staging_db}`.`base_t`")

        script = tmp_path / "down.sql"
        script.write_text("CREATE TABLE down_t AS SELECT id FROM base_t;")
        reg = Registry()
        reg.add(DatasetDef(
            name="up", schema="dep_up",
            sql=[Populate(populate, creates=("base_t",))],
        ))
        reg.add(DatasetDef(
            name="down", schema="dep_down", depends_on=["up"],
            sql=[str(script)],
        ))
        eng = make_engine(spark, reg, landing, db="dep_main")
        try:
            results = eng.load_all(["down"])
            assert [r.published for r in results] == [
                ["dep_up.base_t"], ["dep_down.down_t"],
            ]
            assert spark.table("dep_down.down_t").count() == 4
        finally:
            for db in ("dep_up", "dep_down", "dep_main"):
                Publisher(spark, db).drop_db(db)

    def test_topo_order(self):
        reg = Registry()
        reg.add(DatasetDef(name="a"))
        reg.add(DatasetDef(name="wow", depends_on=["a", "oca"]))
        reg.add(DatasetDef(name="oca"))
        reg.add(DatasetDef(name="gce", depends_on=["wow"]))
        order = reg.topo_order(["gce"])
        assert order == ["a", "oca", "wow", "gce"]
        with pytest.raises(KeyError):
            reg.get("missing")


class TestSplitStatements:
    def test_basic(self):
        assert split_statements("SELECT 1; SELECT 2;") == ["SELECT 1", "SELECT 2"]

    def test_semicolon_in_string(self):
        stmts = split_statements("SELECT 'a;b' AS x; SELECT 2;")
        assert stmts == ["SELECT 'a;b' AS x", "SELECT 2"]

    def test_comments_removed(self):
        stmts = split_statements("SELECT 1 -- trailing; comment\n; SELECT 2;")
        assert stmts[0].startswith("SELECT 1")
        assert len(stmts) == 2

    def test_escaped_quote(self):
        assert split_statements("SELECT 'it''s; fine';") == ["SELECT 'it''s; fine'"]

    @settings(max_examples=300, deadline=None, derandomize=True)
    @given(st.text(alphabet="ab '-/*$;()\n", max_size=40))
    def test_masking_is_lossless_and_hides_every_opener(self, sql):
        """Whatever the quoting, the masked text holds no quote or
        comment/body opener, and unmasking restores every byte."""
        masked = Masked(sql)
        assert masked.unmask(masked.text) == sql
        assert not any(t in masked.text for t in ("'", "--", "/*", "$$"))


class TestResolver:
    def test_search_path_qualification(self, spark):
        spark.sql("CREATE DATABASE IF NOT EXISTS rp_stage")
        spark.sql("CREATE DATABASE IF NOT EXISTS rp_pub")
        spark.sql("DROP TABLE IF EXISTS rp_stage.t1")
        spark.sql("DROP TABLE IF EXISTS rp_pub.t1")
        spark.sql("DROP TABLE IF EXISTS rp_pub.t2")
        spark.sql("CREATE TABLE rp_stage.t1 AS SELECT 1 AS stage_marker")
        spark.sql("CREATE TABLE rp_pub.t1 AS SELECT 2 AS pub_marker")
        spark.sql("CREATE TABLE rp_pub.t2 AS SELECT 3 AS only_pub")

        r = SearchPathResolver(spark, ["rp_stage", "rp_pub"])
        # staging shadows public
        assert r.sql("SELECT * FROM t1").columns == ["stage_marker"]
        # fallback to public
        assert r.sql("SELECT * FROM t2").columns == ["only_pub"]
        # CTE names not qualified
        out = r.sql("WITH t1 AS (SELECT 99 AS cte_marker) SELECT * FROM t1")
        assert out.columns == ["cte_marker"]
        # already-running SQL without any table untouched
        assert r.rewrite("SELECT 1") == "SELECT 1"

    def test_staging_db_name_shape(self):
        name = staging_db_name("my-dataset", epoch=123)
        assert name == "staging_my_dataset_123"


class TestScheduling:
    def test_slot_map_mirrors_reference(self):
        from nycdb_k8s_loader_spark.scheduling import (
            DATASET_SCHEDULES,
            DEFAULT_SCHEDULE,
            Schedule,
            schedule_for,
        )

        assert schedule_for("hpd_violations") is Schedule.DAILY_10PM
        assert schedule_for("acris") is Schedule.EVEN_DAYS_11PM
        assert schedule_for("wow") is Schedule.DAILY_7AM
        # unknown datasets fall back to yearly (reference default)
        assert schedule_for("brand_new_dataset") is DEFAULT_SCHEDULE
        assert len(DATASET_SCHEDULES) == 36

    def test_cronjob_manifests(self, tmp_path):
        from nycdb_k8s_loader_spark.scheduling import (
            build_all_manifests,
            cronjob_manifest,
        )

        m = cronjob_manifest("hpd_violations")
        assert "load-dataset-hpd-violations" in m  # slugified
        assert 'schedule: "0 22 * * *"' in m
        assert '"America/New_York"' in m
        assert '"load", "hpd_violations"' in m

        paths = build_all_manifests(str(tmp_path / "jobs"))
        assert len(paths) == 41  # every registered dataset
        assert all(p.endswith(".yml") for p in paths)


class TestTableLayouts:
    def test_cobucketed_join_has_no_exchange(self, spark, tmp_path):
        """Two tables bucketed on the same key must join with ZERO
        Exchange in the plan — the co-located-join payoff that replaces
        the reference's b-tree indexes at scale."""
        from nycdb_k8s_loader_spark.publish.protocol import (
            Publisher,
            TableLayout,
        )

        pub = Publisher(spark, target_db="layout_test")
        a = spark.range(1000).selectExpr("id AS k", "id * 2 AS va")
        b = spark.range(1000).selectExpr("id AS k", "id * 3 AS vb")
        layout = TableLayout(bucket_by=["k"], n_buckets=4, sort_by=["k"])
        with pub.staging("layoutds") as db:
            pub.write_staging_table(db, "ta", a, layout)
            pub.write_staging_table(db, "tb", b, layout)
            pub.publish_tables(db, ["ta", "tb"])
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("layout_test.ta").join(
                spark.table("layout_test.tb"), "k"
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan
            assert joined.count() == 1000
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            pub.drop_db("layout_test")

    def test_partitioned_publish_prunes(self, spark, tmp_path):
        from nycdb_k8s_loader_spark.publish.protocol import (
            Publisher,
            TableLayout,
        )

        pub = Publisher(spark, target_db="layout_test2")
        df = spark.range(100).selectExpr("id", "id % 4 AS part")
        with pub.staging("pds") as db:
            pub.write_staging_table(
                db, "tp", df, TableLayout(partition_by=["part"])
            )
            pub.publish_tables(db, ["tp"])
        try:
            q = spark.table("layout_test2.tp").filter("part = 2")
            plan = q._jdf.queryExecution().executedPlan().toString()
            assert q.count() == 25
            # the predicate must land in PartitionFilters (pruning),
            # not as a post-scan row Filter
            assert "PartitionFilters: [" in plan
            part_filters = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
            assert "= 2" in part_filters
        finally:
            pub.drop_db("layout_test2")


class TestMoveFlip:
    """publish_tables moves each staged directory into a fresh version
    dir and re-creates the target from the staged table's DDL: no
    Spark job, no second copy of the data."""

    @staticmethod
    def _base(spark, db: str, table: str) -> str:
        from urllib.parse import urlparse

        return os.path.join(
            urlparse(spark.catalog.getDatabase(db).locationUri).path, table
        )

    def test_publish_runs_no_spark_job(self, spark):
        from nycdb_k8s_loader_spark.publish.protocol import TableLayout

        pub = Publisher(spark, target_db="flip_jobs")
        sc = spark.sparkContext
        df = spark.range(40).selectExpr("id AS k", "id % 4 AS part")
        layouts = {
            "plain": None,
            "parted": TableLayout(partition_by=["part"]),
            "bucketed": TableLayout(bucket_by=["k"], n_buckets=4),
        }
        try:
            with pub.staging("flipjobs") as db:
                for t, layout in layouts.items():
                    pub.write_staging_table(db, t, df, layout)
                sc.setJobGroup("flip-jobs-probe", "publish_tables")
                try:
                    pub.publish_tables(db, list(layouts))
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            jobs = sc.statusTracker().getJobIdsForGroup("flip-jobs-probe")
            assert list(jobs) == []
            for t in layouts:
                assert spark.table(f"flip_jobs.{t}").count() == 40
            assert spark.table("flip_jobs.parted").filter(
                "part = 1"
            ).count() == 10
        finally:
            pub.drop_db("flip_jobs")

    def test_publish_over_managed_target_keeps_new_version(self, spark):
        """Dropping a managed table deletes its directory, which is
        where the new version dir goes: the new rows must survive."""
        pub = Publisher(spark, target_db="flip_managed")
        spark.sql("CREATE DATABASE IF NOT EXISTS flip_managed")
        try:
            spark.range(3).write.saveAsTable("flip_managed.t")
            assert spark.catalog.getTable(
                "flip_managed.t"
            ).tableType == "MANAGED"
            with pub.staging("flipmanaged") as db:
                pub.write_staging_table(db, "t", spark.range(5))
                pub.publish_tables(db, ["t"])
            assert spark.table("flip_managed.t").count() == 5
            entries = os.listdir(self._base(spark, "flip_managed", "t"))
            assert len(entries) == 1 and entries[0].startswith("v_")
        finally:
            pub.drop_db("flip_managed")

    def test_orphan_base_dir_is_not_read(self, spark):
        """An earlier session's managed table the in-memory catalog
        forgot leaves files in the table's base dir: the publish
        neither fails on them nor serves them."""
        pub = Publisher(spark, target_db="flip_orphan")
        spark.sql("CREATE DATABASE IF NOT EXISTS flip_orphan")
        base = self._base(spark, "flip_orphan", "t")
        spark.range(100).write.parquet(base)
        try:
            with pub.staging("fliporphan") as db:
                pub.write_staging_table(db, "t", spark.range(5))
                pub.publish_tables(db, ["t"])
            assert sorted(
                r.id for r in spark.table("flip_orphan.t").collect()
            ) == list(range(5))
        finally:
            pub.drop_db("flip_orphan")

    def test_same_second_publishers_get_distinct_version_dirs(
        self, spark, tmp_path, monkeypatch
    ):
        """Two Publishers (an engine builds one per target schema) in the
        same second must not share a version dir: the second one's
        staged files would overwrite those the live table reads."""
        import types

        from nycdb_k8s_loader_spark.publish import protocol

        monkeypatch.setattr(
            protocol, "time", types.SimpleNamespace(time=lambda: 1.7e9)
        )
        root = str(tmp_path / "ext")
        a = Publisher(spark, "flip_same_second", external_root=root)
        b = Publisher(spark, "flip_same_second", external_root=root)
        try:
            with a.staging("samesec") as db:
                a.write_staging_table(db, "t", spark.range(3))
                a.publish_tables(db, ["t"])
            with b.staging("samesec") as db:
                b.write_staging_table(db, "t", spark.range(7))
                spark.catalog.refreshTable("flip_same_second.t")
                assert spark.table("flip_same_second.t").count() == 3
                b.publish_tables(db, ["t"])
            assert spark.table("flip_same_second.t").count() == 7
            assert len(os.listdir(f"{root}/flip_same_second/t")) == 1
        finally:
            a.drop_db("flip_same_second")


class TestCustomPipelineFunctionReplay:
    def test_non_spark_function_ddl_is_skipped_after_publish(
        self, spark, tmp_path
    ):
        """A custom pipeline's plpgsql function is logged and skipped
        at replay, as in a standard load — not raised after its tables
        published, which would leave the tracker un-updated."""
        script = tmp_path / "post.sql"
        script.write_text(
            """
            CREATE TABLE replay_t AS SELECT 1 AS a;
            CREATE OR REPLACE FUNCTION replay_plpgsql(x int)
            RETURNS int AS $$ BEGIN RETURN x; END; $$ LANGUAGE plpgsql;
            """
        )
        reg = Registry()
        reg.add(DatasetDef(
            name="replayds", schema="replay_db", label="replay",
            sql=[str(script)],
        ))
        eng = make_engine(
            spark, reg, str(tmp_path / "landing"), db="replay_db"
        )
        try:
            res = eng.load("replayds")
            assert res.published == ["replay_db.replay_t"]
            assert spark.table("replay_db.replay_t").count() == 1
            assert eng.tracker.get_last_refresh("replayds") is not None
        finally:
            spark.sql("DROP DATABASE IF EXISTS replay_db CASCADE")


class TestPublishedSurfaces:
    def test_every_dataset_publishes_its_declared_tables(self):
        """Every registry dataset publishes exactly the tables it
        declares; the four custom pipelines publish exactly the
        reference's lists, in order, and never their scratch tables."""
        from nycdb_k8s_loader_spark import datasets as D
        from nycdb_k8s_loader_spark.engine import _created_tables

        reg = D.wow_registry()
        for name in reg.names():
            assert set(_created_tables(reg.get(name))) == set(
                reg.tables_for(name)
            ), name
        for name, tables in (
            ("wow", D.WOW_TABLES),
            ("oca_address", D.OCA_TABLES),
            ("signature", D.SIGNATURE_TABLES),
            ("good_cause_eviction", D.GOOD_CAUSE_TABLES),
        ):
            ds = reg.get(name)
            assert ds.schema is not None
            assert _created_tables(ds) == tables


class TestGrantRegistry:
    def test_statement_shape_matches_reference(self):
        from nycdb_k8s_loader_spark.publish.grants import Grant, GrantRegistry
        from nycdb_k8s_loader_spark.state.kvstore import DictKVStore

        reg = GrantRegistry(DictKVStore())
        reg.add(Grant("public", "bldgs", "readonly", ("SELECT",)))
        reg.add(Grant("public", "bldgs", "etl", ("INSERT", "SELECT"), True))
        sql = reg.grant_sql("public", "bldgs")
        assert "GRANT INSERT, SELECT ON TABLE public.bldgs TO etl WITH GRANT OPTION;" in sql
        assert "GRANT SELECT ON TABLE public.bldgs TO readonly;" in sql

    def test_grants_survive_publish_roundtrip(self, spark):
        from nycdb_k8s_loader_spark.publish.grants import Grant, GrantRegistry
        from nycdb_k8s_loader_spark.publish.protocol import Publisher
        from nycdb_k8s_loader_spark.state.kvstore import DictKVStore

        pub = Publisher(spark, target_db="grants_test")
        reg = GrantRegistry(DictKVStore())
        reg.add(Grant("grants_test", "t1", "readonly", ("SELECT",)))

        applied: list[str] = []
        try:
            with reg.save_and_reapply(
                "grants_test", ["t1"], executor=applied.append
            ):
                # the publish drops and replaces the table
                with pub.staging("gds") as db:
                    pub.write_staging_table(db, "t1", spark.range(5))
                    pub.publish_tables(db, ["t1"])
            assert spark.table("grants_test.t1").count() == 5
            assert applied == [
                "GRANT SELECT ON TABLE grants_test.t1 TO readonly;"
            ]
            # registry still answers after the swap
            assert len(reg.for_table("grants_test", "t1")) == 1
        finally:
            pub.drop_db("grants_test")

    def test_regrant_replaces_same_grantee(self):
        from nycdb_k8s_loader_spark.publish.grants import Grant, GrantRegistry
        from nycdb_k8s_loader_spark.state.kvstore import DictKVStore

        reg = GrantRegistry(DictKVStore())
        reg.add(Grant("d", "t", "u", ("SELECT",)))
        reg.add(Grant("d", "t", "u", ("SELECT", "INSERT")))
        [g] = reg.for_table("d", "t")
        assert g.privileges == ("INSERT", "SELECT")


class TestResolverLiteralMasking:
    def test_table_name_inside_string_literal_untouched(self, spark):
        from nycdb_k8s_loader_spark.publish.resolver import SearchPathResolver

        spark.sql("CREATE DATABASE IF NOT EXISTS maskdb")
        spark.range(1).write.mode("overwrite").saveAsTable("maskdb.pluto")
        try:
            r = SearchPathResolver(spark, ["maskdb"])
            out = r.rewrite(
                "SELECT 'derived from pluto table' AS note FROM pluto"
            )
            # the literal is untouched; the real table ref is qualified
            assert "'derived from pluto table'" in out
            assert "FROM `maskdb`.`pluto`" in out
        finally:
            spark.sql("DROP DATABASE maskdb CASCADE")


class TestKVBatch:
    def test_batch_flushes_once(self, tmp_path):
        from nycdb_k8s_loader_spark.state.kvstore import ParquetKVStore

        kv = ParquetKVStore(str(tmp_path / "kv.parquet"))
        flushes = 0
        orig = kv._flush

        def counting_flush():
            nonlocal flushes
            flushes += 1
            orig()

        kv._flush = counting_flush
        with kv.batch():
            for i in range(10):
                kv[f"k{i}"] = str(i)
        assert flushes == 1
        kv2 = ParquetKVStore(str(tmp_path / "kv.parquet"))
        assert len(kv2) == 10


class TestValidationGate:
    def test_single_pass_checks_and_failures(self, spark):
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.publish.validate import (
            TableChecks,
            ValidationError,
            run_checks,
            validate_or_raise,
        )

        df = spark.createDataFrame(
            [
                (1, "a", 10.0),
                (1, "a", -5.0),   # dup key, negative amount
                (2, None, 3.0),   # null name
                (3, "zz", 4.0),   # out-of-domain name
            ],
            ["id", "name", "amount"],
        )
        checks = TableChecks(
            unique_key=["id", "name"],
            not_null=["name"],
            accepted_values={"name": ["a", "b"]},
            min_rows=10,
            predicates={"amount_positive": F.col("amount") > 0},
        )
        got = {r.check: r.violations for r in run_checks(df, checks)}
        assert got == {
            "min_rows": 6,
            "unique_key(id,name)": 2,  # 1 true dup + 1 NULL-key row
            "not_null(name)": 1,
            "accepted_values(name)": 1,
            "predicate(amount_positive)": 1,
        }
        try:
            validate_or_raise("t", df, checks)
            assert False, "should raise"
        except ValidationError as ex:
            assert ex.table == "t" and len(ex.failures) == 5

    def test_publish_gated_on_validation(self, spark, tmp_path):
        """A failing staging check must abort the swap: the previously
        published table stays visible, staging is rolled back."""
        from nycdb_k8s_loader_spark.publish.validate import (
            TableChecks,
            ValidationError,
        )

        reg = Registry()
        reg.add(DatasetDef(
            name="vgate_ds",
            files=[SourceFile(url="http://x/tbl.csv", dest="tbl.csv")],
            tables=[TableDef(
                "tbl",
                T.StructType([T.StructField("k", T.IntegerType()),
                              T.StructField("v", T.StringType())]),
                checks=TableChecks(unique_key=["k"], min_rows=1),
            )],
        ))
        body = {"csv": "k,v\n1,x\n2,y\n"}
        eng = Engine(
            spark, reg, DictKVStore(), target_db="vgate_public",
            landing_root=str(tmp_path / "landing"),
            transport=lambda url, headers: FetchResult(200),
            downloader=lambda url, dest: open(dest, "w").write(body["csv"]),
        )
        try:
            eng.load("vgate_ds")
            assert spark.table("vgate_public.tbl").count() == 2

            body["csv"] = "k,v\n1,x\n1,y\n"  # duplicate key
            with pytest.raises(ValidationError, match="unique_key"):
                eng.load("vgate_ds")
            # last good version still published; staging cleaned up
            assert spark.table("vgate_public.tbl").count() == 2
            assert Publisher(spark).list_staging_dbs("vgate_ds") == []
        finally:
            spark.sql("DROP DATABASE IF EXISTS vgate_public CASCADE")

    def test_empty_table_checks_do_not_crash(self, spark):
        """Zero-row staging table: sums over no rows must surface as 0
        violations (plus the min_rows failure), never NULL/TypeError."""
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.publish.validate import (
            TableChecks,
            run_checks,
        )

        df = spark.createDataFrame([], "id INT, name STRING")
        got = {
            r.check: r.violations
            for r in run_checks(
                df,
                TableChecks(
                    unique_key=["id"],
                    not_null=["name"],
                    accepted_values={"name": ["a"]},
                    min_rows=1,
                    predicates={"pos": F.col("id") > 0},
                ),
            )
        }
        assert got == {
            "min_rows": 1,
            "unique_key(id)": 0,
            "not_null(name)": 0,
            "accepted_values(name)": 0,
            "predicate(pos)": 0,
        }

    def test_column_named_key_does_not_collide(self, spark):
        """Regression: the unique-key NULL probe was aliased
        '__null_key', shadowing the not_null probe for a column
        literally named 'key' — not_null(key) read the wrong count
        in both directions (spurious abort / corrupt publish)."""
        from nycdb_k8s_loader_spark.publish.validate import (
            TableChecks,
            run_checks,
        )

        # direction 1: 'key' has no NULLs, unique_key cols do
        df1 = spark.createDataFrame(
            [(None, 1, "k1"), (2, 2, "k2")], "a INT, b INT, key STRING"
        )
        got1 = {
            r.check: r.violations
            for r in run_checks(
                df1, TableChecks(unique_key=["a", "b"], not_null=["key"])
            )
        }
        assert got1["not_null(key)"] == 0
        assert got1["unique_key(a,b)"] == 1  # the NULL-bearing key row
        # direction 2: 'key' HAS NULLs, unique-key cols don't
        df2 = spark.createDataFrame(
            [(1, 1, None), (2, 2, "k2")], "a INT, b INT, key STRING"
        )
        got2 = {
            r.check: r.violations
            for r in run_checks(
                df2, TableChecks(unique_key=["a", "b"], not_null=["key"])
            )
        }
        assert got2["not_null(key)"] == 1
        assert got2["unique_key(a,b)"] == 0


class TestExternalPublish:
    """Metadata-only publish (the SET SCHEMA analog): data written
    once to a versioned path; publish flips an external-table pointer
    — zero copy, versions pruned only after the flip."""

    def _engine(self, spark, tmp_path, root):
        import sys as _sys
        from pathlib import Path

        _sys.path.insert(0, str(Path(__file__).parent))
        from fixture_gen import csv_bytes, synth_rows

        from nycdb_k8s_loader_spark.datasets import wow_registry
        from nycdb_k8s_loader_spark.engine import Engine
        from nycdb_k8s_loader_spark.state.kvstore import DictKVStore
        from nycdb_k8s_loader_spark.state.lastmod import FetchResult

        reg = wow_registry()

        def downloader(url: str, dest: str) -> None:
            name = url.rsplit("/", 1)[-1].replace(".csv", "")
            for ds_name in ("rentstab", "hpd_registrations"):
                for t in reg.get(ds_name).tables:
                    if t.name == name and t.schema is not None:
                        header, rows = synth_rows(t.schema, n=4)
                        with open(dest, "wb") as f:
                            f.write(csv_bytes(header, rows))
                        return
            raise KeyError(name)

        return Engine(
            spark, reg, DictKVStore(),
            target_db="ext_pub_test",
            landing_root=str(tmp_path / "landing"),
            transport=lambda url, headers: FetchResult(200, etag='"e"'),
            downloader=downloader,
            publish_external_root=root,
        )

    def test_publish_is_pointer_flip_not_copy(self, spark, tmp_path):
        import os

        root = str(tmp_path / "pub")
        eng = self._engine(spark, tmp_path, root)
        try:
            eng.load("rentstab")
            tbl = "ext_pub_test.rentstab_summary"
            assert spark.table(tbl).count() == 4
            # the published table POINTS AT the staged files under the
            # version root — no second copy anywhere
            loc = eng.publisher._table_location(
                "ext_pub_test", "rentstab_summary"
            )
            assert root in loc
            from urllib.parse import urlparse

            def fs_path(uri: str) -> str:
                # file:/x, file:///x and /x all normalize to /x
                return urlparse(uri).path

            files = {
                fs_path(os.path.dirname(r[0]))
                for r in spark.table(tbl)
                .selectExpr("input_file_name()")
                .collect()
            }
            assert files == {fs_path(loc)}
            assert spark.catalog.getTable(tbl).tableType == "EXTERNAL"

            # reload: a NEW version dir goes live; the old one is
            # pruned only after the flip (keep_versions=1)
            eng.load("rentstab")
            assert spark.table(tbl).count() == 4
            loc2 = eng.publisher._table_location(
                "ext_pub_test", "rentstab_summary"
            )
            assert loc2 != loc
            base = os.path.join(root, "ext_pub_test", "rentstab_summary")
            assert sorted(os.listdir(base)) == [
                os.path.basename(fs_path(loc2))
            ]
        finally:
            spark.sql("DROP DATABASE IF EXISTS ext_pub_test CASCADE")

    def test_mixed_dataset_derived_tables_still_publish(
        self, spark, tmp_path
    ):
        """hpd_registrations carries a CTAS script: the source table
        publishes via pointer flip, the derived (managed) table via
        the copy path — both land correct."""
        root = str(tmp_path / "pub")
        eng = self._engine(spark, tmp_path, root)
        try:
            eng.load("hpd_registrations")
            src = spark.table("ext_pub_test.hpd_registrations")
            derived = spark.table(
                "ext_pub_test.hpd_registrations_grouped_by_bbl"
            )
            assert src.count() == 4
            assert derived.count() == src.select("bbl").distinct().count()
            assert (
                spark.catalog.getTable(
                    "ext_pub_test.hpd_registrations"
                ).tableType
                == "EXTERNAL"
            )
            # reload is idempotent in both modes
            before = sorted(map(tuple, derived.collect()))
            eng.load("hpd_registrations")
            after = sorted(
                map(
                    tuple,
                    spark.table(
                        "ext_pub_test.hpd_registrations_grouped_by_bbl"
                    ).collect(),
                )
            )
            assert before == after
        finally:
            spark.sql("DROP DATABASE IF EXISTS ext_pub_test CASCADE")


class TestPublishValidationGate:
    """Registry-declared checks gate the swap: a corrupt upstream file
    must never replace the good published table (beyond-reference —
    the reference publishes whatever loaded)."""

    def _engine(self, spark, tmp_path, reg_csv: str):
        from nycdb_k8s_loader_spark.datasets import wow_registry
        from nycdb_k8s_loader_spark.engine import Engine
        from nycdb_k8s_loader_spark.state.kvstore import DictKVStore
        from nycdb_k8s_loader_spark.state.lastmod import FetchResult

        def downloader(url: str, dest: str) -> None:
            with open(dest, "w") as f:
                f.write(reg_csv)

        return Engine(
            spark, wow_registry(), DictKVStore(),
            target_db="valgate_test",
            landing_root=str(tmp_path / "landing"),
            transport=lambda url, headers: FetchResult(200, etag='"g"'),
            downloader=downloader,
        )

    def test_corrupt_load_keeps_last_good_version(self, spark, tmp_path):
        from nycdb_k8s_loader_spark.publish.protocol import Publisher
        from nycdb_k8s_loader_spark.publish.validate import ValidationError

        good = "registrationid,bbl,boro\n1,BBL1,MN\n2,BBL2,BK\n"
        bad = (  # duplicate registrationid + NULL bbl
            "registrationid,bbl,boro\n1,BBL1,MN\n1,,BK\n"
        )
        try:
            eng = self._engine(spark, tmp_path, good)
            eng.load("hpd_registrations")
            tbl = "valgate_test.hpd_registrations"
            assert spark.table(tbl).count() == 2

            eng_bad = self._engine(spark, tmp_path, bad)
            with pytest.raises(ValidationError) as exc:
                eng_bad.load("hpd_registrations")
            failed = {f.check for f in exc.value.failures}
            assert any("unique" in c for c in failed)
            assert any("not_null" in c for c in failed)

            # readers keep the last good version; staging dropped
            assert spark.table(tbl).count() == 2
            assert {r["bbl"] for r in spark.table(tbl).collect()} == {
                "BBL1", "BBL2",
            }
            assert Publisher(spark).list_staging_dbs(
                "hpd_registrations"
            ) == []
            # derived table from the good load also survives
            assert (
                spark.table(
                    "valgate_test.hpd_registrations_grouped_by_bbl"
                ).count()
                == 2
            )
        finally:
            spark.sql("DROP DATABASE IF EXISTS valgate_test CASCADE")
