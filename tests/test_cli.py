"""Ops CLI tests (O7 — capability twin of the reference's dbtool.py
command surface, tests modeled on tests/test_dbtool.py)."""

from __future__ import annotations

import pytest

from nycdb_k8s_loader_spark import cli
from nycdb_k8s_loader_spark.state.kvstore import DictKVStore


@pytest.fixture()
def kv(monkeypatch):
    store = DictKVStore()
    monkeypatch.setattr(cli, "_default_kv", lambda: store)
    return store


@pytest.fixture()
def cli_db(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS cli_test")
    spark.range(3).write.mode("overwrite").saveAsTable("cli_test.t1")
    spark.range(5).write.mode("overwrite").saveAsTable("cli_test.t2")
    yield "cli_test"
    spark.sql("DROP DATABASE cli_test CASCADE")


def test_rowcounts(spark, cli_db, capsys):
    assert cli.main(["rowcounts", cli_db]) == 0
    out = capsys.readouterr().out
    assert "cli_test.t1\t3" in out and "cli_test.t2\t5" in out


def test_table_listings_skip_session_temp_views(spark, cli_db, kv, capsys):
    """listTables(db) also returns the session's temp views (such as
    the __tablefn_* views of table-function calls); they are not
    tables of ``db``."""
    spark.range(2).createOrReplaceTempView("__tablefn_cli_probe")
    try:
        assert cli.main(["rowcounts", cli_db]) == 0
        assert cli.main(["grant-schema-read", cli_db, "readonly"]) == 0
    finally:
        spark.catalog.dropTempView("__tablefn_cli_probe")
    out = capsys.readouterr().out
    assert "cli_test.t1\t3" in out
    assert "__tablefn_cli_probe" not in out


def test_sql_statement(spark, cli_db, capsys):
    assert (
        cli.main(
            ["sql", "SELECT count(*) AS n FROM cli_test.t1"]
        )
        == 0
    )
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0] == "n" and out[1] == "3"


def test_grant_schema_read_records_and_prints(spark, cli_db, kv, capsys):
    from nycdb_k8s_loader_spark.publish.grants import GrantRegistry

    assert cli.main(["grant-schema-read", cli_db, "readonly"]) == 0
    out = capsys.readouterr().out
    assert "GRANT SELECT ON TABLE cli_test.t1 TO readonly;" in out
    assert "GRANT SELECT ON TABLE cli_test.t2 TO readonly;" in out
    # grants persisted as registry metadata (dbtool.py:123-137 analog)
    reg = GrantRegistry(kv)
    [g] = reg.for_table(cli_db, "t1")
    assert g.grantee == "readonly" and g.privileges == ("SELECT",)


def test_lastmod_list_and_reset(kv, capsys):
    kv["etag:https://x/a.csv"] = '"v1"'
    kv["last_modified:https://x/a.csv"] = "Mon, 01 Jan 2024 00:00:00 GMT"
    assert cli.main(["lastmod:list"]) == 0
    assert 'etag:https://x/a.csv\t"v1"' in capsys.readouterr().out
    assert cli.main(["lastmod:reset"]) == 0
    assert "reset https://x/a.csv" in capsys.readouterr().out
    assert "etag:https://x/a.csv" not in kv


class TestLoadCommand:
    """`cli load <dataset>` — the reference's load_dataset.py
    entrypoint (main :414-430 + error_handling :384-411), driven
    through an injected engine factory."""

    def _engine(self, spark, tmp_path, transport_status=200):
        import sys as _sys
        from pathlib import Path

        _sys.path.insert(0, str(Path(__file__).parent))
        from fixture_gen import csv_bytes, synth_rows

        from nycdb_k8s_loader_spark.datasets import wow_registry
        from nycdb_k8s_loader_spark.engine import Engine, Notifier
        from nycdb_k8s_loader_spark.state.lastmod import FetchResult

        reg = wow_registry()

        def downloader(url: str, dest: str) -> None:
            ds = reg.get("rentstab")
            header, rows = synth_rows(ds.tables[0].schema, n=4)
            with open(dest, "wb") as f:
                f.write(csv_bytes(header, rows))

        class Recording(Notifier):
            def __init__(self):
                self.outbox = []

            def notify(self, m):
                self.outbox.append(m)

        eng = Engine(
            spark, reg, DictKVStore(),
            target_db="cli_load_test",
            landing_root=str(tmp_path / "landing"),
            transport=lambda url, headers: FetchResult(
                transport_status, etag='"c"'
            ),
            downloader=downloader,
            notifier=Recording(),
        )
        return eng

    def _args(self, dataset, force=False):
        import argparse

        return argparse.Namespace(dataset=dataset, force=force)

    def test_load_publishes_and_reports(self, spark, tmp_path, capsys):
        eng = self._engine(spark, tmp_path)
        try:
            rc = cli.cmd_load(
                self._args("rentstab"), engine_factory=lambda: eng
            )
            assert rc == 0
            out = capsys.readouterr().out
            assert "rentstab\tpublished 1 tables" in out
            assert spark.table("cli_load_test.rentstab_summary").count() == 4
        finally:
            spark.sql("DROP DATABASE IF EXISTS cli_load_test CASCADE")

    def test_load_skip_on_304(self, spark, tmp_path, capsys):
        eng = self._engine(spark, tmp_path, transport_status=304)
        rc = cli.cmd_load(
            self._args("rentstab"), engine_factory=lambda: eng
        )
        assert rc == 0
        assert "skipped (unchanged)" in capsys.readouterr().out

    def test_unknown_dataset_is_an_error(self, spark, tmp_path, capsys):
        eng = self._engine(spark, tmp_path)
        rc = cli.cmd_load(
            self._args("nope"), engine_factory=lambda: eng
        )
        assert rc == 2
        assert "unknown dataset" in capsys.readouterr().err

    def test_failure_notifies_then_raises(self, spark, tmp_path):
        eng = self._engine(spark, tmp_path)
        eng.downloader = None  # force a failure inside the load

        with pytest.raises(TypeError):
            cli.cmd_load(
                self._args("rentstab"), engine_factory=lambda: eng
            )
        assert any(
            "an error occurred loading the dataset `rentstab`" in m
            for m in eng.notifier.outbox
        )

    def test_no_dataset_argument_fails(self):
        with pytest.raises(SystemExit):
            cli.main(["load"])


def test_manifests_cover_every_registered_dataset(tmp_path, capsys):
    """``manifests`` writes a CronJob for every registered dataset,
    unslotted ones on the yearly default (reference scheduling.py:60)."""
    from nycdb_k8s_loader_spark.datasets import builtin_registry

    jobs = tmp_path / "jobs"
    assert cli.main(["manifests", str(jobs)]) == 0
    assert len(capsys.readouterr().out.splitlines()) == len(
        builtin_registry().names()
    )
    m = (jobs / "load_dataset_boundaries.yml").read_text()
    assert 'schedule: "@yearly"' in m
    assert '"load", "boundaries"' in m


def test_staging_cleanup(spark, capsys):
    from nycdb_k8s_loader_spark.publish.protocol import staging_db_name

    leaked = staging_db_name("leaky_ds", epoch=1700000000)
    other = staging_db_name("other_ds", epoch=1700000001)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {leaked}")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {other}")
    try:
        # narrowed sweep drops only the named dataset's staging dbs
        assert cli.main(["staging:cleanup", "leaky_ds"]) == 0
        out = capsys.readouterr().out
        assert leaked in out and other not in out
        dbs = {d.name for d in spark.catalog.listDatabases()}
        assert leaked not in dbs and other in dbs
        # full sweep drops the rest
        assert cli.main(["staging:cleanup"]) == 0
        assert other not in {d.name for d in spark.catalog.listDatabases()}
    finally:
        for db in (leaked, other):
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_cmd_load_streaming_end_to_end(spark, tmp_path):
    """cli load-streaming: drop -> incremental publish through the
    engine, unknown dataset exits 2."""
    from nycdb_k8s_loader_spark.cli import cmd_load_streaming
    from nycdb_k8s_loader_spark.datasets import wow_registry
    from nycdb_k8s_loader_spark.engine import Engine
    from nycdb_k8s_loader_spark.state.kvstore import DictKVStore
    from nycdb_k8s_loader_spark.state.lastmod import FetchResult

    eng = Engine(
        spark,
        wow_registry(),
        DictKVStore(),
        target_db="cli_stream_test",
        landing_root=str(tmp_path / "landing"),
        transport=lambda url, headers: FetchResult(200, etag='"c"'),
        downloader=lambda url, dest: None,
    )
    land = (
        tmp_path / "landing" / "hpd_violations" / "stream" / "hpd_violations"
    )
    land.mkdir(parents=True)
    (land / "drop1.csv").write_text(
        "violationid,bbl,class,inspectiondate,currentstatus\n"
        "1,BBL1,C,1997-07-01T00:00:00,Open\n"
    )

    class A:
        dataset = "hpd_violations"

    try:
        rc = cmd_load_streaming(A(), engine_factory=lambda: eng)
        assert rc == 0
        assert spark.table("cli_stream_test.hpd_violations").count() == 1

        class B:
            dataset = "not_a_dataset"

        assert cmd_load_streaming(B(), engine_factory=lambda: eng) == 2
    finally:
        spark.sql("DROP DATABASE IF EXISTS cli_stream_test CASCADE")
