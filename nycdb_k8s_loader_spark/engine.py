"""Engine orchestration: the full per-dataset load lifecycle.

Spark re-expression of /root/reference/load_dataset.py:308-381. Every
load, batch or stream, runs one skeleton (``Engine._standard_load``):

    load:            check URLs (conditional GET) ── unchanged? → skip
                     download to landing dir
    load_streaming:  new file drops → checkpointed availableNow pass
                     → pending increment (store ∪ pending is the input)
        │
    staging namespace:  write typed source tables
                        run SQL transforms and populate hooks
                        validate staging copies
        │
    atomic publish staging → target namespace (grants kept)
        │
    replay function DDL, after_publish hook
        │
    update lastmod validators (load) / commit the increment
    (load_streaming), then the dataset tracker     (only after publish)

The two entry points differ only in where each typed table's rows come
from and in what they persist after the publish. Boundary behavior
mirrors the reference exactly: 304-everywhere skips the Spark job
entirely (work avoidance, lastmod.py:49-62 + load_dataset.py:352-357);
state is persisted only after a successful publish so a crashed load
retries from scratch. The reference's custom datasets
(wow/oca/signature/good-cause, load_dataset.py:319-338) run the same
lifecycle: they are registry entries with their own target schema and
Python populate hooks among their scripts, so every dataset validates,
publishes and honours the version pointer in one place.

Concurrency. The reference runs all of this one statement at a time on
one connection; here every step that starts Spark jobs is a node of
one dependency scheduler (publish/scheduler.py), so independent jobs
overlap and Spark interleaves them:

- ``load_all``: a dataset starts once every dataset it depends on has
  loaded;
- inside a load: each typed staging write, each script statement, each
  populate hook and each validation starts once the nodes creating the
  tables it names have finished. A statement's reads are every
  identifier it contains (a safe over-approximation); anything but a
  plain ``CREATE TABLE … AS`` — ALTER/RENAME, DROP, INSERT, temp
  functions, registered table-function calls — is a barrier that runs
  alone in its script position. Names are resolved through the search
  path only when the statement starts, so it always sees the staging
  copy a predecessor made, never an older published one;
- publish: one concurrent metadata flip per table (a directory
  rename plus DROP/CREATE; publish/protocol.py).

Failure semantics are the serial ones: after the first failure nothing
new starts, running nodes finish before the staging namespace drops,
the first error propagates, and nothing is published.
"""

from __future__ import annotations

import logging
import threading
from collections.abc import Callable
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from nycdb_k8s_loader_spark.functions.registry import (
    FunctionRegistry,
    default_registry,
)
from nycdb_k8s_loader_spark.publish.parse_created_tables import (
    parse_created_tables_in_dir,
)
from nycdb_k8s_loader_spark.publish.protocol import Publisher
from nycdb_k8s_loader_spark.publish.resolver import SearchPathResolver
from nycdb_k8s_loader_spark.publish.scheduler import Node, run_graph, script_nodes
from nycdb_k8s_loader_spark.registry import DatasetDef, Populate, Registry, TableDef
from nycdb_k8s_loader_spark.sources.readers import fetch_to_landing, read_source_table
from nycdb_k8s_loader_spark.state.lastmod import Transport, UrlModTracker, default_transport
from nycdb_k8s_loader_spark.state.tracker import DatasetTracker

log = logging.getLogger("nycdb_k8s_loader_spark")


@dataclass
class LoadResult:
    dataset: str
    skipped: bool
    published: list[str] = field(default_factory=list)


class Notifier:
    """Pluggable progress/error notifications (reference: lib/slack.py
    — webhook messages with HTML escaping, errors swallowed so a
    notification failure never fails a load, slack.py:63-76)."""

    def notify(self, message: str) -> None:  # pragma: no cover - iface
        log.info("%s", message)

    def safe_notify(self, message: str) -> None:
        try:
            self.notify(message)
        except Exception:  # noqa: BLE001 - by contract never raise
            log.warning("notifier failed for %r", message, exc_info=True)


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        registry: Registry,
        kv,
        target_db: str = "public",
        landing_root: str = "/tmp/nycdb_landing",
        transport: Transport = default_transport,
        downloader: Callable[[str, str], None] = fetch_to_landing,
        notifier: Notifier | None = None,
        search_path: list[str] | None = None,
        functions: FunctionRegistry | None = None,
        exporters: dict[str, Callable[[], None]] | None = None,
        publish_external_root: str | None = None,
        versioned_publish: bool = False,
    ) -> None:
        self.spark = spark
        self.registry = registry
        self.kv = kv
        # Every publish moves the staged files into a version dir and
        # re-points the target at them (publish/protocol.py module
        # docstring). publish_external_root keeps staging and version
        # dirs under <root> instead of the warehouse: the data lives
        # outside the catalog's ownership.
        self.publish_external_root = publish_external_root
        # versioned_publish opts into CROSS-TABLE-atomic publish: all
        # of a load's tables land in one fresh version database and
        # commit via one pointer flip in this engine's KV store — the
        # reference's single-transaction schema swap
        # (load_dataset.py:244-252). Readers go through
        # self.version_pointer (read_published / the resolvers below).
        from nycdb_k8s_loader_spark.publish.protocol import VersionPointer

        self.version_pointer = (
            VersionPointer(kv) if versioned_publish else None
        )
        # one Publisher per target database, all with this engine's
        # external root and version pointer (publisher_for)
        self._publishers: dict[str, Publisher] = {}
        self.publisher = self.publisher_for(target_db)
        self.landing_root = landing_root
        self.transport = transport
        self.downloader = downloader
        self.notifier = notifier or Notifier()
        self.tracker = DatasetTracker(kv)
        # Grant metadata survives publishes in the KV store (K10;
        # reference save_and_reapply_permissions wraps every swap,
        # load_dataset.py:172-200, wowutil.py:166).
        from nycdb_k8s_loader_spark.publish.grants import GrantRegistry

        self.grants = GrantRegistry(kv)
        self.search_path = search_path or [target_db]
        self.functions = functions or default_registry()
        # Reference-named table functions, bound to this engine's
        # namespaces and probed post-publish like the reference's
        # function-existence tests (tests/test_load_dataset.py:37-41,
        # tests/test_wowutil.py:42-44).
        from nycdb_k8s_loader_spark.functions.reference_fns import (
            register_reference_fns,
        )

        register_reference_fns(
            self.functions, target_db=target_db, pointer=self.version_pointer
        )
        # Named downstream exporters (reference: the Algolia landlord-
        # index client, wowutil.py:101-110 — "not configured" is a
        # notified skip, never an error). Builders gate these through
        # state/export_gate.py on source lastmod.
        self.exporters = exporters or {}
        # Concurrency guard for the concurrent load_all: KV state is
        # read-modify-write (a lost update would silently re-download
        # forever) so it serializes. Script execution does NOT — DDL
        # targets are qualified into each load's staging db by the
        # resolver (ddl_db), so no session-global state exists to
        # protect and every Spark job runs as soon as its inputs exist.
        self._state_lock = threading.Lock()
        # session-start registration (reference re-creates functions at
        # connect time via search-path scripts; O2/U2). Temp functions
        # are session-scoped and survive every publish, so this is the
        # only time the registry is applied.
        self.functions.apply(spark)

    def publisher_for(self, db: str | None) -> Publisher:
        """The Publisher for target database ``db`` (None → the
        engine's target_db)."""
        db = db or self.publisher.target_db
        if db not in self._publishers:
            # setdefault, not assignment: two loads starting at once
            # into one new schema must share one Publisher (its
            # sequence keeps their version names apart)
            self._publishers.setdefault(db, Publisher(
                self.spark, db,
                external_root=self.publish_external_root,
                version_pointer=self.version_pointer,
            ))
        return self._publishers[db]

    def read_published(self, table: str):
        """Read a published table the way a downstream consumer should:
        through the version pointer when versioned publish is on (one
        committed version, never a mid-publish mix), else the target
        database directly."""
        db = self.publisher.target_db
        if self.version_pointer is not None:
            db = self.version_pointer.resolve(db)
        return self.spark.table(f"`{db}`.`{table}`")

    # -- the lifecycle ---------------------------------------------------------

    def load(self, name: str, force: bool = False) -> LoadResult:
        ds = self.registry.get(name)
        self.notifier.safe_notify(f"Loading dataset {name}…")

        modtracker = UrlModTracker(self.registry.urls(name), self.kv, self.transport)
        if ds.files and not force and not modtracker.did_any_urls_change():
            # Reference short-circuit (load_dataset.py:352-357).
            self.notifier.safe_notify(f"{name} is unchanged; skipping load.")
            return LoadResult(dataset=name, skipped=True)

        dest_paths = self.land_sources(ds)
        formats = {f.dest: f.format for f in ds.files}
        published = self._standard_load(ds, lambda table: read_source_table(
            self.spark, table, dest_paths, formats, csv_options=ds.csv_options,
        ))
        with self._state_lock:
            modtracker.update_lastmods()
            self.tracker.update_tracker(name)
        self.notifier.safe_notify(f"Finished loading {name}.")
        return LoadResult(dataset=name, skipped=False, published=published)

    def land_sources(self, ds: DatasetDef) -> dict[str, str]:
        """Refresh the landing copy of EVERY source file and return
        ``{dest: landing path}``. The conditional-GET gate already
        decided the dataset changed, so an existing landing file may
        be stale — re-downloading only missing files would publish old
        bytes and then persist the new validators, silently losing the
        update forever."""
        import os

        dest_paths: dict[str, str] = {}
        for f in ds.files:
            dest = os.path.join(self.landing_root, ds.name, f.dest)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            self.downloader(f.url, dest)
            dest_paths[f.dest] = dest
        return dest_paths

    def sql_nodes(
        self, ds: DatasetDef, staging_db: str, function_stmts: list[str]
    ) -> list[Node]:
        """One node per statement of each script in ``ds.sql`` and one
        per populate hook, in list order. Names resolve staging first,
        then through the target schema of every dataset ``ds`` depends
        on, then the engine's search path; ddl_db qualifies
        CTAS/DROP/RENAME targets into THIS load's staging namespace —
        no session-global setCurrentDatabase, so concurrent loads and
        concurrent statements share no state."""
        deps = [self.registry.get(d).schema for d in ds.depends_on]
        resolver = SearchPathResolver(
            self.spark,
            list(dict.fromkeys(
                [staging_db, *filter(None, deps), *self.search_path]
            )),
            ddl_db=staging_db,
            pointer=self.version_pointer,
        )
        nodes: list[Node] = []
        for entry in ds.sql:
            if isinstance(entry, Populate):
                nodes.append(Node(
                    partial(entry.run, self.spark, staging_db),
                    creates=entry.creates, reads=entry.reads,
                ))
            else:
                nodes += script_nodes(
                    self.spark, resolver, [entry], function_stmts,
                    self.functions,
                )
        return nodes

    def replay_functions(self, function_stmts: list[str]) -> None:
        """Post-publish registration of the function DDL a load's
        scripts declare (reference: load_dataset.py:372-376): it runs
        if it is Spark-compatible DDL (CREATE TEMPORARY FUNCTION ...
        RETURN expr) — Postgres procedural bodies are logged and
        skipped. The FunctionRegistry is not re-applied: its temp
        functions were registered when the engine started and outlive
        every publish."""
        for stmt in function_stmts:
            try:
                self.spark.sql(stmt)
            except Exception:  # noqa: BLE001 - dialect gap, not fatal
                log.warning(
                    "function DDL is not Spark-compatible; register it "
                    "in the FunctionRegistry instead:\n%s", stmt[:200]
                )

    def _standard_load(
        self, ds: DatasetDef, read_table: Callable[[TableDef], DataFrame]
    ) -> list[str]:
        """The one load skeleton, batch and stream alike (the
        reference's custom builders included, wowutil.py:144-186):
        staging writes → scripts and populate hooks → validation →
        grant-snapshot publish → function-DDL replay →
        ``after_publish``. The caller supplies only ``read_table``: the
        frame each typed source table's staging copy is written from
        (``load``: the landed files; ``load_streaming``: the stream
        store plus its pending increment)."""
        from nycdb_k8s_loader_spark.publish.validate import validate_or_raise

        if ds.label:
            self.notifier.safe_notify(f"Rebuilding {ds.label}...")
        publisher = self.publisher_for(ds.schema)
        function_stmts: list[str] = []
        with publisher.staging(ds.name) as staging_db:
            # staging writes → SQL scripts (one node per statement,
            # staging-first resolution; function DDL is collected per
            # STATEMENT, so a mixed script's CREATE TABLEs still run)
            # and populate hooks → validation gate, as one dependency
            # graph: every Spark job starts once the tables it names
            # exist. A failed check raises before anything publishes;
            # the staging ctx drops and readers keep the last good
            # version.
            def stage(table) -> None:
                publisher.write_staging_table(
                    staging_db, table.name, read_table(table)
                )

            def validate(table) -> None:
                validate_or_raise(
                    table.name,
                    self.spark.table(f"`{staging_db}`.`{table.name}`"),
                    table.checks,
                )

            nodes = [
                Node(partial(stage, t), creates=(t.name,))
                for t in ds.tables
                if t.schema is not None
            ]
            nodes += self.sql_nodes(ds, staging_db, function_stmts)
            nodes += [
                Node(partial(validate, t), reads=(t.name,))
                for t in ds.tables
                if t.checks is not None
            ]
            run_graph(nodes, self.spark.sparkContext.defaultParallelism, self.spark)

            # atomic publish, grants snapshotted across the swap
            created = _created_tables(ds)
            with self.grants.save_and_reapply(publisher.target_db, created):
                published = publisher.publish_tables(staging_db, created)
        self.replay_functions(function_stmts)
        if ds.label:
            self.notifier.safe_notify(f"Finished rebuilding {ds.label}.")
        if ds.after_publish is not None:
            ds.after_publish(self)
        return published

    def load_streaming(
        self, name: str, max_files_per_trigger: int | None = None
    ) -> LoadResult:
        """Load a registry dataset from files DROPPED into
        ``<landing_root>/<name>/stream/<table>/`` (by an upstream
        fetcher, a transfer job, or tests) through the same lifecycle
        as ``load`` (``_standard_load``). What differs:

        - each typed table's staging frame comes from one checkpointed
          ``availableNow`` pass, which stages only the files earlier
          calls did not consume as ``batch-<id>`` parquet dirs under
          ``<landing_root>/<name>/_stream/<table>/pending/``; the frame
          is the durable store (``data/``) plus those pending batches.
          CSV tables stream through the typed CSV file source;
          Excel/shapefile tables stream as opaque files whose bytes are
          parsed on the executors (the driver never holds file
          content). A table mixing CSV and binary formats has no single
          stream shape and fails before anything runs;
        - a failed check moves the pending batches to
          ``_stream/<table>/quarantine/<n>/``: the failing table's
          when it was streamed, every table's when a derived table
          failed. The store keeps the last validated data, so the next
          call republishes it, and the quarantined files can be
          inspected and re-dropped;
        - pending batches move into the store only after the whole
          load has returned;
        - there is no conditional-GET gate; the refresh is recorded as
          ``load`` records it.

        ``max_files_per_trigger`` bounds every micro-batch (the file
        sources' maxFilesPerTrigger), so a large backlog drains across
        bounded triggers inside one pass. On a real cluster, point
        ``landing_root`` at durable shared storage.
        """
        import os

        from nycdb_k8s_loader_spark.publish.validate import ValidationError
        from nycdb_k8s_loader_spark.streaming.pipeline import (
            incremental_binary_source,
            incremental_csv_source,
            parse_binary_files,
            run_available_now_staged,
        )

        ds = self.registry.get(name)
        formats = {f.dest: f.format for f in ds.files}
        stream_formats: dict[str, str] = {}
        for table in ds.tables:
            if table.schema is None:
                continue
            dests = table.files if table.files is not None else list(formats)
            fmts = {formats.get(d, "csv") for d in dests} or {"csv"}
            if len(fmts) > 1:
                raise ValueError(
                    f"load_streaming({name!r}): table {table.name!r} "
                    f"mixes source formats {sorted(fmts)} — no single "
                    "stream shape; split the table or use the batch "
                    "load"
                )
            stream_formats[table.name] = fmts.pop()
        # table -> (stream root, durable store, pending batch dirs)
        pending: dict[str, tuple[str, str, list[str]]] = {}

        def read_stream(table):
            stream_root = os.path.join(
                self.landing_root, ds.name, "_stream", table.name
            )
            land = os.path.join(self.landing_root, ds.name, "stream", table.name)
            store = os.path.join(stream_root, "data")
            pending_dir = os.path.join(stream_root, "pending")
            os.makedirs(land, exist_ok=True)
            os.makedirs(store, exist_ok=True)
            fmt = stream_formats[table.name]
            if fmt == "csv":
                src = incremental_csv_source(
                    self.spark, land, table.schema,
                    max_files_per_trigger=max_files_per_trigger,
                )
            else:
                src = parse_binary_files(
                    incremental_binary_source(
                        self.spark, land,
                        max_files_per_trigger=max_files_per_trigger,
                    ),
                    self._binary_row_parser(fmt, table.schema),
                    table.schema,
                )
            run_available_now_staged(
                src, pending_dir, os.path.join(stream_root, "ckpt")
            )
            # pending = this call's increment plus any batches an
            # aborted earlier call staged but never committed — both
            # re-enter validation here
            batch_dirs = sorted(
                os.path.join(pending_dir, d)
                for d in os.listdir(pending_dir)
                if d.startswith("batch-")
            ) if os.path.isdir(pending_dir) else []
            pending[table.name] = (stream_root, store, batch_dirs)
            return self.spark.read.schema(table.schema).parquet(
                store, *batch_dirs
            )

        try:
            published = self._standard_load(ds, read_stream)
        except ValidationError as err:
            # a streamed table's check indicts its own increment; a
            # derived table's indicts every increment it read
            failed = (
                [pending[err.table]] if err.table in pending
                else list(pending.values())
            )
            qdirs = [
                self._quarantine_pending(root, dirs)
                for root, _store, dirs in failed
                if dirs
            ]
            err.args = (
                f"{err.args[0]} — increments quarantined to {qdirs}; the "
                "durable stores keep the last validated data and the "
                "next load_streaming call republishes it (inspect/fix/"
                "re-drop the quarantined files to recover the increment)",
            )
            raise
        # A crash before this point leaves the batches pending; the
        # next call re-validates and re-publishes the same data, then
        # commits.
        for _root, store, batch_dirs in pending.values():
            self._commit_pending(store, batch_dirs)
        with self._state_lock:
            self.tracker.update_tracker(name)
        return LoadResult(dataset=name, skipped=False, published=published)

    @staticmethod
    def _binary_row_parser(fmt: str, schema):
        """row_parser for ``parse_binary_files``: a pure
        picklable ``(path, content) -> list[string-row tuples]``
        closing over nothing but the format tag and the (picklable)
        schema, so it ships to executors under ``mapInPandas``. Routes
        to the same stdlib parser cores as the batch readers
        (sources/xlsx.read_xlsx_rows, sources/shapefile.parse_shp/
        parse_dbf) — one parse rule, two execution sites."""
        if fmt == "excel":
            def parse(path: str, content: bytes) -> list:
                from nycdb_k8s_loader_spark.sources.readers import (
                    excel_string_rows,
                )

                return excel_string_rows(content, schema, label=path)

            return parse
        if fmt == "shapefile":
            def parse(path: str, content: bytes) -> list:
                import io

                from nycdb_k8s_loader_spark.sources.shapefile import (
                    shapefile_string_rows,
                )

                try:
                    return shapefile_string_rows(io.BytesIO(content), schema)
                except ValueError as e:
                    raise ValueError(f"{path}: {e}") from e

            return parse
        raise ValueError(f"no streaming parser for source format {fmt!r}")

    @staticmethod
    def _commit_pending(store: str, batch_dirs: list[str]) -> None:
        """Move a validated pending increment's parquet files into the
        durable stream store. Files are renamed (same filesystem under
        ``_stream/``) with a ``b<batch>-`` prefix so names stay unique
        and attributable; the emptied batch dir is removed. Plain
        parquet dirs on both sides — no ``_spark_metadata`` log to
        invalidate (see run_available_now_staged)."""
        import os
        import shutil

        for bdir in batch_dirs:
            tag = os.path.basename(bdir).replace("batch-", "b")
            for fname in os.listdir(bdir):
                if fname.startswith(("_", ".")):
                    continue  # _SUCCESS markers, hidden CRCs
                os.rename(
                    os.path.join(bdir, fname),
                    os.path.join(store, f"{tag}-{fname}"),
                )
            shutil.rmtree(bdir)

    @staticmethod
    def _quarantine_pending(stream_root: str, batch_dirs: list[str]) -> str:
        """Move a failing pending increment to a fresh
        ``quarantine/<n>/`` under the table's stream root and return
        that path. The checkpoint has already consumed the source
        files, so quarantining (rather than deleting) preserves the
        only remaining copy of the increment for inspection/re-drop."""
        import os
        import shutil

        qroot = os.path.join(stream_root, "quarantine")
        os.makedirs(qroot, exist_ok=True)
        # max+1, not len(): an operator deleting older quarantine dirs
        # non-contiguously (rm 0/ keep 1/) must not make the next
        # quarantine collide and mask the original ValidationError
        existing = [
            int(d) for d in os.listdir(qroot) if d.isdigit()
        ]
        qdir = os.path.join(qroot, str(max(existing, default=-1) + 1))
        os.makedirs(qdir)
        for bdir in batch_dirs:
            shutil.move(bdir, os.path.join(qdir, os.path.basename(bdir)))
        return qdir

    def load_all(
        self,
        targets: list[str] | None = None,
        max_parallel: int = 4,
    ) -> list[LoadResult]:
        """Dependency-ordered multi-dataset load (reference O4). Each
        dataset is one node of a dependency graph (edges from
        ``depends_on``, publish/scheduler.py) and starts on one of up
        to ``max_parallel`` driver threads as soon as every dataset it
        depends on has loaded — independent datasets load
        concurrently and Spark interleaves their jobs. Inside each
        load, staging writes, script statements, validations and
        per-table publish flips run concurrently in turn, ordered
        only by the tables they create and read.

        After the first failure no further dataset starts (so nothing
        ever loads on a broken prerequisite), the loads already
        running finish, and the first error is re-raised. Results are
        returned in topo_order regardless of completion order.
        ``max_parallel=1`` loads one dataset at a time."""
        nodes = [
            Node(
                partial(self.load, n),
                creates=(n,),
                reads=tuple(self.registry.get(n).depends_on),
            )
            for n in self.registry.topo_order(targets)
        ]
        return run_graph(nodes, max_parallel, self.spark)


def _created_tables(ds: DatasetDef) -> list[str]:
    """Tables a load publishes: its typed source tables, then every
    table its scripts (renames applied) and populate hooks create, in
    ``sql`` order — minus the dataset's scratch tables."""
    created = [t.name for t in ds.tables if t.schema is not None]
    for entry in ds.sql:
        made = (
            entry.creates if isinstance(entry, Populate)
            else parse_created_tables_in_dir([entry])
        )
        created += [t for t in made if t not in created]
    return [t for t in created if t not in ds.scratch]
