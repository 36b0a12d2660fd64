"""Ops CLI — capability twin of /root/reference/dbtool.py.

Commands:
    load <dataset> [--force]    run one dataset load end-to-end — the
                                ``python load_dataset.py <dataset>``
                                entrypoint the k8s CronJob manifests
                                invoke (load_dataset.py:414-430), with
                                the reference's error-handling wrapper
                                (notify on failure, exit non-zero,
                                load_dataset.py:384-411)
    rowcounts <db> [table...]   row counts per published table (dbtool.py:61-87)
    lastmod:list                per-URL stored validators (dbtool.py:95-109)
    lastmod:reset [url...]      clear validators → next load refetches (dbtool.py:111-120)
    tracker:list                per-dataset last-refresh timestamps
    staging:list                stale staging namespaces (load_dataset.py:82-89)
    sql "<stmt>"                run one SQL statement, print rows (the
                                ``dbtool shell`` analog, dbtool.py:90-92 —
                                non-interactive: pipelines over pagers)
    grant-schema-read <db> <user>  record SELECT grants on every table in
                                <db> for <user> (dbtool.py:123-137; grants
                                are registry metadata here — printed as the
                                statements a Ranger/Unity deployment runs)
    manifests <jobs_dir>        write one k8s CronJob manifest per registered
                                dataset (k8s_build_jobs.py), print the paths

User management (dbtool.py:123-162) is catalog-ACL territory with no
OSS-Spark equivalent — `users:*` prints the statements a Ranger/Unity
deployment would run (SURVEY.md §2 K10/K11: record + no-op).
"""

from __future__ import annotations

import argparse
import os
import sys


def _default_kv():
    from nycdb_k8s_loader_spark.state.kvstore import ParquetKVStore

    return ParquetKVStore(
        os.environ.get("NYCDB_SPARK_STATE", "/tmp/nycdb_spark_state/kv.parquet")
    )


def _default_notifier():
    """SlackNotifier when SLACK_WEBHOOK_URL is configured, else the
    log-only default (reference: slack.sendmsg no-ops without the
    webhook env, lib/slack.py)."""
    from nycdb_k8s_loader_spark.engine import Notifier
    from nycdb_k8s_loader_spark.notify import SlackNotifier

    url = os.environ.get("SLACK_WEBHOOK_URL")
    return SlackNotifier(url) if url else Notifier()


def cmd_load(args, engine_factory=None) -> int:
    """The main ingestion entrypoint (reference load_dataset.py main:
    dispatch to load_dataset under the error_handling context that
    notifies and exits non-zero on any failure). ``engine_factory`` is
    injectable for tests."""
    if engine_factory is None:  # pragma: no cover - wiring

        def engine_factory():
            from nycdb_k8s_loader_spark.datasets import builtin_registry
            from nycdb_k8s_loader_spark.engine import Engine
            from nycdb_k8s_loader_spark.session import get_spark

            return Engine(
                get_spark(app_name=f"nycdb-load-{args.dataset}"),
                builtin_registry(),
                _default_kv(),
                landing_root=os.environ.get(
                    "LANDING_DIR", "/tmp/nycdb_landing"
                ),
                notifier=_default_notifier(),
            )

    eng = engine_factory()
    if args.dataset not in eng.registry:
        print(
            f"unknown dataset {args.dataset!r}; known: "
            f"{', '.join(sorted(eng.registry.names()))}",
            file=sys.stderr,
        )
        return 2
    try:
        results = eng.load_all([args.dataset]) if not args.force else [
            eng.load(args.dataset, force=True)
        ]
    except Exception as exc:  # noqa: BLE001 - reference error_handling
        # load_dataset.py:403-406: failures notify, then propagate as
        # a non-zero exit so the CronJob backoff retries.
        eng.notifier.safe_notify(
            f"Alas, an error occurred loading the dataset "
            f"`{args.dataset}`: {type(exc).__name__}: {exc}"
        )
        raise
    for r in results:
        state = "skipped (unchanged)" if r.skipped else (
            f"published {len(r.published)} tables"
        )
        print(f"{r.dataset}\t{state}")
    return 0


def _catalog_tables(spark, db: str) -> list[str]:
    """Tables of ``db``. ``listTables`` also returns the session's temp
    views (e.g. the ``__tablefn_*`` views of table-function calls),
    which do not live in ``db``."""
    return [t.name for t in spark.catalog.listTables(db) if not t.isTemporary]


def cmd_rowcounts(args) -> int:
    from nycdb_k8s_loader_spark.session import get_spark

    spark = get_spark(app_name="nycdb-cli")
    db = args.database
    tables = args.tables or _catalog_tables(spark, db)
    for t in sorted(tables):
        n = spark.table(f"`{db}`.`{t}`").count()
        print(f"{db}.{t}\t{n}")
    return 0


def cmd_lastmod_list(args) -> int:
    kv = _default_kv()
    for key in sorted(kv):
        if key.startswith(("etag:", "last_modified:")):
            print(f"{key}\t{kv[key]}")
    return 0


def cmd_lastmod_reset(args) -> int:
    from nycdb_k8s_loader_spark.state.lastmod import LastmodInfo

    kv = _default_kv()
    urls = args.urls or sorted(
        {k.split(":", 1)[1] for k in kv if k.startswith("etag:")}
        | {k.split(":", 1)[1] for k in kv if k.startswith("last_modified:")}
    )
    for url in urls:
        LastmodInfo.write(kv, url, None, None)
        print(f"reset {url}")
    return 0


def cmd_tracker_list(args) -> int:
    kv = _default_kv()
    for key in sorted(kv):
        if key.startswith("dataset_tracker:"):
            print(f"{key.split(':', 1)[1]}\t{kv[key]}")
    return 0


def cmd_staging_list(args) -> int:
    from nycdb_k8s_loader_spark.publish.protocol import Publisher
    from nycdb_k8s_loader_spark.session import get_spark

    spark = get_spark(app_name="nycdb-cli")
    for db in Publisher(spark).list_staging_dbs():
        print(db)
    return 0


def cmd_staging_cleanup(args) -> int:
    """Drop leaked staging namespaces (a crashed driver skips the
    context-manager cleanup; the reference has the same leak mode with
    temp schemas — its get_temp_schemas listing is how operators found
    them, load_dataset.py:82-89). ``dataset`` narrows the sweep."""
    from nycdb_k8s_loader_spark.publish.protocol import Publisher
    from nycdb_k8s_loader_spark.session import get_spark

    spark = get_spark(app_name="nycdb-cli")
    pub = Publisher(spark)
    for db in pub.list_staging_dbs(args.dataset):
        pub.drop_db(db)
        print(f"dropped {db}")
    return 0


def cmd_sql(args) -> int:
    from nycdb_k8s_loader_spark.session import get_spark

    spark = get_spark(app_name="nycdb-cli")
    df = spark.sql(args.statement)
    if df.columns:
        print("\t".join(df.columns))
        for row in df.collect():
            print("\t".join("" if v is None else str(v) for v in row))
    return 0


def cmd_grant_schema_read(args) -> int:
    from nycdb_k8s_loader_spark.publish.grants import Grant, GrantRegistry
    from nycdb_k8s_loader_spark.session import get_spark

    spark = get_spark(app_name="nycdb-cli")
    reg = GrantRegistry(_default_kv())
    for t in sorted(_catalog_tables(spark, args.database)):
        g = Grant(args.database, t, args.user, ("SELECT",))
        reg.add(g)
        print(g.sql)
    return 0


def cmd_manifests(args) -> int:
    """One CronJob manifest per registered dataset, each running
    ``load <dataset>`` on its schedule (reference k8s_build_jobs.py)."""
    from nycdb_k8s_loader_spark.scheduling import build_all_manifests

    for path in build_all_manifests(args.jobs_dir):
        print(path)
    return 0


def cmd_load_streaming(args, engine_factory=None) -> int:
    """Checkpointed streaming ingestion of one dataset
    (Engine.load_streaming): process new file drops under
    <landing>/<dataset>/stream/<table>/ and republish the accumulated
    tables — the cron unit of work as an incremental stream. Same
    error-notify contract as ``load``."""
    if engine_factory is None:  # pragma: no cover - wiring

        def engine_factory():
            from nycdb_k8s_loader_spark.datasets import builtin_registry
            from nycdb_k8s_loader_spark.engine import Engine
            from nycdb_k8s_loader_spark.session import get_spark

            return Engine(
                get_spark(app_name=f"nycdb-stream-{args.dataset}"),
                builtin_registry(),
                _default_kv(),
                landing_root=os.environ.get(
                    "LANDING_DIR", "/tmp/nycdb_landing"
                ),
                notifier=_default_notifier(),
            )

    eng = engine_factory()
    if args.dataset not in eng.registry:
        print(
            f"unknown dataset {args.dataset!r}; known: "
            f"{', '.join(sorted(eng.registry.names()))}",
            file=sys.stderr,
        )
        return 2
    try:
        r = eng.load_streaming(args.dataset)
    except Exception as exc:  # noqa: BLE001 - reference error_handling
        eng.notifier.safe_notify(
            f"Alas, an error occurred streaming the dataset "
            f"`{args.dataset}`: {type(exc).__name__}: {exc}"
        )
        raise
    print(f"{r.dataset}: published {len(r.published)} tables")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="nycdb-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    ls = sub.add_parser("load-streaming")
    ls.add_argument("dataset")
    ls.set_defaults(fn=cmd_load_streaming)

    ld = sub.add_parser("load")
    ld.add_argument("dataset")
    ld.add_argument(
        "--force", action="store_true",
        help="load even if no source URL changed (skips the "
             "conditional-GET short-circuit and dependency closure)",
    )
    ld.set_defaults(fn=cmd_load)

    rc = sub.add_parser("rowcounts")
    rc.add_argument("database")
    rc.add_argument("tables", nargs="*")
    rc.set_defaults(fn=cmd_rowcounts)

    sub.add_parser("lastmod:list").set_defaults(fn=cmd_lastmod_list)

    lr = sub.add_parser("lastmod:reset")
    lr.add_argument("urls", nargs="*")
    lr.set_defaults(fn=cmd_lastmod_reset)

    sub.add_parser("tracker:list").set_defaults(fn=cmd_tracker_list)
    sub.add_parser("staging:list").set_defaults(fn=cmd_staging_list)

    sc = sub.add_parser("staging:cleanup")
    sc.add_argument("dataset", nargs="?", default=None)
    sc.set_defaults(fn=cmd_staging_cleanup)

    sq = sub.add_parser("sql")
    sq.add_argument("statement")
    sq.set_defaults(fn=cmd_sql)

    gr = sub.add_parser("grant-schema-read")
    gr.add_argument("database")
    gr.add_argument("user")
    gr.set_defaults(fn=cmd_grant_schema_read)

    mf = sub.add_parser("manifests")
    mf.add_argument("jobs_dir")
    mf.set_defaults(fn=cmd_manifests)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
