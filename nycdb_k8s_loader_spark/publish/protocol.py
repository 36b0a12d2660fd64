"""Shadow-write + atomic-publish protocol.

Capability twin of the reference's temporary-schema dance
(/root/reference/load_dataset.py:209-252, 365-370): load into
``staging_<dataset>_<epoch>``, and only after everything succeeds move
the results into the target namespace; on any error the staging
namespace is dropped and readers never saw a thing.

Publish moves files; it never rewrites them (SURVEY.md §2 K3/O1).
Spark's catalog cannot move a table across databases (``ALTER TABLE
... SET SCHEMA`` has no equivalent), but the filesystem can move the
table's directory. Every staged table publishes the same way:

1. one catalog lookup of the staged table: location, schema,
   partition and bucket spec;
2. one Hadoop ``FileSystem.rename`` of its directory into a fresh
   version dir ``<db location>/<table>/v_<epoch>_<seq>_<nonce>``
   (``<external_root>/<target_db>/<table>/v_…`` when a root is set).
   Readers keep the old version meanwhile. A failed rename raises;
   nothing is copied instead (an object store's own rename is a
   server-side copy, still without a Spark job);
3. ``DROP TABLE`` of the target (metadata only: published tables are
   external tables at their version dirs) and one explicit-schema
   ``CREATE TABLE … LOCATION`` from the staged table's own DDL — the
   shape ``SHOW CREATE TABLE`` prints: columns, ``PARTITIONED BY``,
   ``CLUSTERED BY … SORTED BY … INTO n BUCKETS``. Partitioned tables
   also recover their partitions;
4. after the flip, old version dirs are pruned through the same
   FileSystem API (object-store warehouses included). A crash strands
   files, never live data.

No Spark job runs and no byte is rewritten: the Spark analog of the
reference's metadata-only ``ALTER TABLE ... SET SCHEMA``
(load_dataset.py:244-252), with the same brief reader gap between drop
and re-create. A managed target (an older layout) is dropped BEFORE the
rename, because dropping a managed table deletes its directory — the
one the new version moves into. With ``external_root`` set, the
staging database and the version dirs both live under the root, so the
rename never crosses filesystems.

Cross-*table* atomicity of these per-table flips is weaker than the
reference's single-schema swap (a reader between per-table flips can
see table A new + table B old). **Versioned mode** restores the
reference's all-tables-one-commit semantics
(/root/reference/load_dataset.py:244-252 — every ALTER TABLE SET
SCHEMA shares ONE ``conn.commit()``): construct the Publisher with a
:class:`VersionPointer` and every publish moves ALL tables, the same
way, into a fresh ``<target>__v_<epoch>_<seq>`` database, then flips
ONE pointer (an atomic KV write — ParquetKVStore's temp-file +
``os.replace``). Readers resolve the logical database through the
pointer (:meth:`VersionPointer.resolve`, honored by
``SearchPathResolver(pointer=...)``), so mid-publish they keep the
previous version in full and post-flip they see the new version in
full — never a mix. Old version databases are pruned AFTER the flip,
never the pointed-at one.

Idempotency (reference O3, tests/test_load_dataset.py:78-84): rerunning
a load is a deterministic overwrite — same inputs, same tables.
"""

from __future__ import annotations

import itertools
import re
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import partial
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # import cycle: validate imports nothing from here,
    # but keep the runtime import lazy inside load_and_publish anyway
    from nycdb_k8s_loader_spark.publish.validate import TableChecks

from pyspark.sql import DataFrame, SparkSession

from nycdb_k8s_loader_spark.publish.scheduler import Node, run_graph

STAGING_PREFIX = "staging_"


@dataclass
class TableLayout:
    """Physical layout for a staged table, carried into the published
    table by its DDL — the Spark substitute for the reference's CREATE
    INDEX tuning (wow_2021 sql:130-131; SURVEY §2 K7). ``partition_by`` prunes scans on the partition predicate;
    ``bucket_by`` pre-shuffles on the hot join/agg key so downstream
    equi-joins between co-bucketed tables run with ZERO exchange
    (verified in tests/test_publish_engine.py)."""

    partition_by: list[str] = field(default_factory=list)
    bucket_by: list[str] = field(default_factory=list)
    n_buckets: int = 8
    sort_by: list[str] = field(default_factory=list)

    def apply(self, writer):
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        if self.bucket_by:
            writer = writer.bucketBy(self.n_buckets, *self.bucket_by)
            if self.sort_by:
                writer = writer.sortBy(*self.sort_by)
        return writer


class VersionPointer:
    """ONE current-version pointer per logical database — the atomic
    commit of versioned publish (the Spark twin of the reference's
    single transaction around all SET SCHEMAs, load_dataset.py:244-252).

    Backed by any str→str MutableMapping with ``get_or_none`` /
    write-through mutation (``state.kvstore.ParquetKVStore`` persists
    each flip via temp-file + ``os.replace`` — readers see the old
    value or the new value, never a torn one; ``DictKVStore`` for
    tests). The pointer is the ONLY shared mutable state: version
    databases themselves are immutable once pointed at.
    """

    _PREFIX = "current_db_version:"

    def __init__(self, kv) -> None:
        self.kv = kv

    def current(self, logical_db: str) -> str | None:
        get = getattr(self.kv, "get_or_none", self.kv.get)
        return get(self._PREFIX + logical_db)

    def flip(self, logical_db: str, physical_db: str) -> None:
        """THE commit: one atomic KV write."""
        self.kv[self._PREFIX + logical_db] = physical_db

    def resolve(self, logical_db: str) -> str:
        """Physical database readers should use for ``logical_db`` —
        the pointed-at version, or the name itself when the logical db
        has never been version-published (non-versioned tables keep
        working through the same resolver)."""
        return self.current(logical_db) or logical_db


def version_db_name(target_db: str, epoch: int, seq: int) -> str:
    """``<target>__v_<epoch>_<seq>`` — lexically ordered so pruning can
    sort; double underscore keeps it unambiguous vs user databases."""
    return f"{target_db}__v_{epoch}_{seq:06d}"


_VERSION_DB = re.compile(r"(.+)__v_(\d+)_(\d{6})$")


def parse_version_db(db: str) -> str | None:
    """Logical database a version-db name belongs to, else None."""
    m = _VERSION_DB.fullmatch(db)
    return m.group(1) if m else None


def staging_db_name(dataset: str, epoch: int | None = None) -> str:
    """``staging_<ds>_<epoch>`` (reference naming: load_dataset.py:69-74)."""
    epoch = int(time.time()) if epoch is None else epoch
    safe = re.sub(r"\W+", "_", dataset)
    return f"{STAGING_PREFIX}{safe}_{epoch}"


def parse_staging_dataset(db: str) -> str | None:
    m = re.fullmatch(rf"{STAGING_PREFIX}(.+)_(\d+)", db)
    return m.group(1) if m else None


def _literal(text: str) -> str:
    """``text`` escaped for a single-quoted SQL string literal."""
    return text.replace("\\", "\\\\").replace("'", "\\'")


class Publisher:
    def __init__(
        self,
        spark: SparkSession,
        target_db: str = "public",
        external_root: str | None = None,
        keep_versions: int = 1,
        version_pointer: VersionPointer | None = None,
    ) -> None:
        self.spark = spark
        self.target_db = target_db
        self.external_root = external_root.rstrip("/") if external_root else None
        self.keep_versions = max(1, keep_versions)
        # versioned mode: publishes move into a fresh version DATABASE
        # and commit with one pointer flip (cross-table atomic — see
        # the module docstring); None keeps the per-table flips.
        self.version_pointer = version_pointer
        # version names sort by (second, sequence) — the prune order;
        # the random suffix keeps two Publishers apart in one second
        self._version_seq = itertools.count()

    # -- namespace management (K5) -------------------------------------------

    def _sql(self, stmt: str) -> None:
        self.spark.sql(stmt)

    def list_staging_dbs(self, dataset: str | None = None) -> list[str]:
        """Stale staging namespaces, optionally for one dataset
        (reference: get_temp_schemas, load_dataset.py:82-89)."""
        dbs = [d.name for d in self.spark.catalog.listDatabases()]
        out = []
        for d in dbs:
            ds = parse_staging_dataset(d)
            if ds is not None and (dataset is None or ds == dataset):
                out.append(d)
        return out

    def drop_db(self, db: str) -> None:
        self._sql(f"DROP DATABASE IF EXISTS `{db}` CASCADE")

    @contextmanager
    def staging(self, dataset: str):
        """Create a staging namespace; always drop it on exit — success
        or failure (reference: create_and_enter_temporary_schema,
        load_dataset.py:209-241, rollback at :230-232). With an
        external root it lives under the root, so every staged table
        renames into its version dir within one filesystem."""
        db = staging_db_name(dataset)
        self.drop_db(db)
        where = (
            f" LOCATION '{_literal(f'{self.external_root}/_staging/{db}.db')}'"
            if self.external_root else ""
        )
        self._sql(f"CREATE DATABASE `{db}`{where}")
        try:
            yield db
        finally:
            self.drop_db(db)

    # -- writes ----------------------------------------------------------------

    def _reclaim_orphan_location(self, db: str, table: str) -> None:
        """In-memory catalogs (the Spark default, and what a fresh
        driver session runs) forget managed tables across sessions
        while the warehouse DIRECTORY persists — the next session's
        saveAsTable sees a 'new' table whose location already exists
        and dies with LOCATION_ALREADY_EXISTS. When the catalog has no
        record of the table but its managed location survives, the
        directory is orphaned by definition: delete it (Hadoop FS API,
        so object-store warehouses behave the same as file:)."""
        if self.spark.catalog.tableExists(f"`{db}`.`{table}`"):
            return  # live table — overwrite semantics handle it
        try:
            loc = self.spark.catalog.getDatabase(db).locationUri
        except Exception:  # noqa: BLE001 - db missing: nothing to do
            return
        path, fs = self._hpath(f"{loc}/{table}")
        fs.delete(path, True)

    def write_staging_table(
        self,
        db: str,
        table: str,
        df: DataFrame,
        layout: TableLayout | None = None,
    ) -> None:
        """Stage one source table as a catalog table that carries its
        own layout — publish re-creates the target from it."""
        self._reclaim_orphan_location(db, table)
        w = df.write.mode("overwrite")
        if layout:
            w = layout.apply(w)
        w.saveAsTable(f"`{db}`.`{table}`")

    # -- the flip: rename + explicit DDL ----------------------------------------

    def _version_name(self) -> str:
        return (
            f"v_{int(time.time())}_{next(self._version_seq):06d}_"
            f"{uuid.uuid4().hex[:8]}"
        )

    def _version_root(self, db: str) -> str:
        """Directory holding ``<table>/v_*`` for tables published into
        ``db``: the external root's ``<target_db>`` dir, else ``db``'s
        own location."""
        if self.external_root:
            return f"{self.external_root}/{self.target_db}"
        return self.spark.catalog.getDatabase(db).locationUri

    def _hpath(self, uri):
        """(Hadoop Path, its FileSystem) for ``uri``."""
        path = self.spark._jvm.org.apache.hadoop.fs.Path(uri)
        return path, path.getFileSystem(self.spark._jsc.hadoopConfiguration())

    def _catalog_table(self, db: str, table: str):
        """The catalog's metadata of ``db.table`` (a JVM CatalogTable:
        type, location, schema, partition and bucket spec), or None —
        one catalog lookup, no SQL statement."""
        state = self.spark._jsparkSession.sessionState()
        ident = state.sqlParser().parseTableIdentifier(f"`{db}`.`{table}`")
        catalog = state.catalog()
        return catalog.getTableMetadata(ident) if catalog.tableExists(ident) else None

    def _table_location(self, db: str, table: str) -> str | None:
        meta = self._catalog_table(db, table)
        return str(meta.location()) if meta is not None else None

    def _create_sql(self, meta, db: str, table: str, location: str) -> str:
        """``CREATE TABLE db.table … LOCATION`` re-creating ``meta``'s
        columns and layout at ``location`` (SHOW CREATE TABLE's shape).
        The explicit schema spares the schema-inference job an
        inferred ``CREATE TABLE … LOCATION`` runs."""
        as_list = self.spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava

        def names(seq) -> str:
            return ", ".join(f"`{c}`" for c in as_list(seq))

        ddl = (
            f"CREATE TABLE `{db}`.`{table}` ({meta.schema().toDDL()}) "
            f"USING {meta.provider().get()}"
        )
        if meta.partitionColumnNames().nonEmpty():
            ddl += f" PARTITIONED BY ({names(meta.partitionColumnNames())})"
        if meta.bucketSpec().isDefined():
            spec = meta.bucketSpec().get()
            ddl += f" CLUSTERED BY ({names(spec.bucketColumnNames())})"
            if spec.sortColumnNames().nonEmpty():
                ddl += f" SORTED BY ({names(spec.sortColumnNames())})"
            ddl += f" INTO {spec.numBuckets()} BUCKETS"
        return f"{ddl} LOCATION '{_literal(location)}'"

    def _flip(
        self, staging_db: str, table: str, db: str, root: str,
        replace: bool,
    ) -> str:
        """Publish staged ``table`` into ``db`` (module docstring steps
        1-3) and return its version dir's name. ``replace`` looks up
        and drops a target already there (the versioned mode's fresh
        database has none)."""
        staged = self._catalog_table(staging_db, table)
        if staged is None:
            raise ValueError(f"`{staging_db}`.`{table}` was never staged")
        live = self._catalog_table(db, table) if replace else None
        if live is not None and live.tableType().name() == "MANAGED":
            # dropping a managed table deletes its directory: the base
            # the new version is about to move into
            self._sql(f"DROP TABLE `{db}`.`{table}`")
            live = None
        base, fs = self._hpath(f"{root}/{table}")
        dst = self.spark._jvm.org.apache.hadoop.fs.Path(base, self._version_name())
        fs.mkdirs(base)
        if not fs.rename(self._hpath(staged.location())[0], dst):
            raise OSError(f"publish {table}: could not move {staged.location()} to {dst}")
        if live is not None:
            self._sql(f"DROP TABLE `{db}`.`{table}`")
        self._sql(self._create_sql(staged, db, table, dst.toString()))
        if staged.partitionColumnNames().nonEmpty():
            self.spark.catalog.recoverPartitions(f"`{db}`.`{table}`")
        return dst.getName()

    def _prune(self, base: str, keep: set[str], spare: int = 0) -> None:
        """Delete every entry of the version base ``base`` except the
        names in ``keep`` and the ``spare`` newest other ``v_`` dirs —
        old versions, and orphan files a forgotten managed table of an
        earlier session left there. Runs only after the flip."""
        path, fs = self._hpath(base)
        if not fs.exists(path):
            return
        entries = [st.getPath() for st in fs.listStatus(path)]
        older = sorted(
            p.getName() for p in entries
            if p.getName().startswith("v_") and p.getName() not in keep
        )
        keep = keep | set(older[len(older) - spare:] if spare else ())
        for p in entries:
            if p.getName() not in keep:
                fs.delete(p, True)

    def publish_tables(
        self,
        staging_db: str,
        tables: list[str],
        on_table_published=None,
    ) -> list[str]:
        """Move results staging → target, one flip per table
        (reference: drop_tables_if_they_exist + change_table_schemas,
        load_dataset.py:163-169, 244-252). The staged table's layout
        (partitioning, bucketing) carries over with its DDL.
        ``on_table_published(table)`` fires after each table lands
        (progress hooks; the versioned-mode atomicity test interleaves
        a reader here). With a :class:`VersionPointer` configured this
        routes to the cross-table-atomic versioned publish.

        Per-table flips run concurrently, one node of the load
        scheduler (publish/scheduler.py) per table: a failure stops
        every flip not yet started."""
        self._sql(f"CREATE DATABASE IF NOT EXISTS `{self.target_db}`")
        if self.version_pointer is not None:
            return self._publish_tables_versioned(
                staging_db, tables, on_table_published
            )
        root = self._version_root(self.target_db)

        def publish(t: str) -> None:
            version = self._flip(staging_db, t, self.target_db, root, replace=True)
            self._prune(f"{root}/{t}", {version}, self.keep_versions - 1)
            if on_table_published:
                on_table_published(t)

        nodes = [Node(partial(publish, t), creates=(t,)) for t in tables]
        run_graph(nodes, self.spark.sparkContext.defaultParallelism, self.spark)
        return [f"{self.target_db}.{t}" for t in tables]

    # -- versioned (cross-table atomic) publish --------------------------------

    def _publish_tables_versioned(
        self,
        staging_db: str,
        tables: list[str],
        on_table_published=None,
    ) -> list[str]:
        """All-tables-one-commit publish: flip EVERY table into a fresh
        version database, then commit with ONE
        :meth:`VersionPointer.flip`. Readers resolving through the
        pointer see the previous version in full until the flip and
        the new version in full after it — the reference's
        single-transaction schema swap (load_dataset.py:244-252),
        which the per-table flips above cannot give.

        The logical database keeps existing (empty) so unpointed
        readers fail on a missing table instead of a missing database;
        returned names are LOGICAL (``target.table``) — callers
        address tables through the pointer, not the version db."""
        phys = version_db_name(
            self.target_db, int(time.time()), next(self._version_seq)
        )
        self._sql(f"CREATE DATABASE `{phys}`")
        root = self._version_root(phys)
        try:
            for t in tables:
                self._flip(staging_db, t, phys, root, replace=False)
                if on_table_published:
                    on_table_published(t)
        except BaseException:
            # abort: the pointer never flipped, readers never saw the
            # partial version — drop it and re-raise
            self.drop_db(phys)
            raise
        self.version_pointer.flip(self.target_db, phys)  # THE commit
        survivors = self._prune_version_dbs()
        # version dirs under an external root outlive DROP DATABASE:
        # delete every one no surviving version database references
        # (without a root they live in their database's directory and
        # go with it)
        if self.external_root:
            for t in tables:
                refs = {self._table_location(db, t) for db in survivors}
                self._prune(
                    f"{root}/{t}",
                    {loc.rstrip("/").rsplit("/", 1)[-1] for loc in refs if loc},
                )
        return [f"{self.target_db}.{t}" for t in tables]

    def _prune_version_dbs(self) -> list[str]:
        """Drop version databases beyond the retention window, oldest
        first, NEVER the pointed-at one (runs after the flip — a crash
        strands extra versions, never the live one). Returns the
        surviving version-db names.

        The window is ``max(keep_versions, 2)``: the just-superseded
        version always survives ONE publish cycle as the grace window
        for in-flight readers — a reader that resolved the pointer
        moments before the flip is still executing against the old
        version db, and dropping it mid-query is exactly the partial
        state the versioned mode exists to prevent. (It is reclaimed
        on the NEXT publish; a reader outliving a full publish cycle
        is the documented residual risk.)"""
        keep = max(self.keep_versions, 2)
        live = self.version_pointer.resolve(self.target_db)
        versions = sorted(
            d.name
            for d in self.spark.catalog.listDatabases()
            if parse_version_db(d.name) == self.target_db
        )
        excess = versions[:-keep] if len(versions) > keep else []
        for db in excess:
            if db != live:
                self.drop_db(db)
        dropped = {db for db in excess if db != live}
        return [db for db in versions if db not in dropped]

    # -- whole-protocol convenience ---------------------------------------------

    def load_and_publish(
        self,
        dataset: str,
        builders: dict[str, "callable"],
        checks: dict[str, "TableChecks"] | None = None,
    ) -> list[str]:
        """Run each ``{table: fn() -> DataFrame}`` into staging,
        validate the STAGING copies (``checks``: per-table
        publish/validate.TableChecks), then publish all-or-nothing.
        A failed check raises before any table swaps — readers keep
        the last good version (errors roll back by dropping staging).
        """
        from nycdb_k8s_loader_spark.publish.validate import (
            validate_or_raise,
        )

        with self.staging(dataset) as db:

            def stage(table: str, build) -> None:
                self.write_staging_table(db, table, build())

            def check(table: str, tc) -> None:
                validate_or_raise(
                    table, self.spark.table(f"`{db}`.`{table}`"), tc
                )

            nodes = [
                Node(partial(stage, t, b), creates=(t,))
                for t, b in builders.items()
            ] + [
                Node(partial(check, t, tc), reads=(t,))
                for t, tc in (checks or {}).items()
            ]
            run_graph(nodes, self.spark.sparkContext.defaultParallelism, self.spark)
            return self.publish_tables(db, list(builders))
