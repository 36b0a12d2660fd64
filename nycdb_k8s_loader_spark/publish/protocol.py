"""Shadow-write + atomic-publish protocol.

Capability twin of the reference's temporary-schema dance
(/root/reference/load_dataset.py:209-252, 365-370): load into
``staging_<dataset>_<epoch>``, and only after everything succeeds move
the results into the target namespace; on any error the staging
namespace is dropped and readers never saw a thing.

Spark mapping (SURVEY.md §2 K3/O1): Spark's catalog cannot move a
table across databases (`ALTER TABLE ... SET SCHEMA` has no
equivalent), so publish is one of two modes:

- **copy mode** (default): per-table ``saveAsTable`` overwrite from
  staging into the target. Each table swap is atomic (new data files
  written first, catalog pointer flipped last) but the data is
  WRITTEN TWICE — fine for small/derived tables, wrong as the only
  option at 100 TB.
- **external mode** (``external_root=...``): source data is written
  ONCE to a versioned location
  ``<root>/<target_db>/<table>/v_<epoch>``, the staging table is an
  external pointer at it, and publish re-points an external table in
  the target database at the same files — two catalog statements,
  ZERO data movement. This is the true Spark analog of the
  reference's metadata-only ``ALTER TABLE ... SET SCHEMA``
  (load_dataset.py:244-252): both have the same brief reader gap
  between drop and re-create, and both leave the previous version's
  files on disk until pruned (prune runs only AFTER the flip, so a
  crash strands extra files, never live-table data). Derived CTAS
  tables created inside the staging db are managed and publish via
  copy mode automatically — mixed datasets just work.

Cross-*table* atomicity in these two modes is weaker than the
reference's single-schema swap (a reader between per-table flips can
see table A new + table B old). **Versioned mode** restores the
reference's all-tables-one-commit semantics
(/root/reference/load_dataset.py:244-252 — every ALTER TABLE SET
SCHEMA shares ONE ``conn.commit()``): construct the Publisher with a
:class:`VersionPointer` and every publish writes ALL tables into a
fresh ``<target>__v_<epoch>_<seq>`` database, then flips ONE pointer
(an atomic KV write — ParquetKVStore's temp-file + ``os.replace``).
Readers resolve the logical database through the pointer
(:meth:`VersionPointer.resolve`, honored by
``SearchPathResolver(pointer=...)``), so mid-publish they keep the
previous version in full and post-flip they see the new version in
full — never a mix. Old version databases are pruned AFTER the flip,
never the pointed-at one.

Idempotency (reference O3, tests/test_load_dataset.py:78-84): rerunning
a load is a deterministic overwrite — same inputs, same tables.
"""

from __future__ import annotations

import re
import time
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
    """Physical layout for a published table — the Spark substitute for
    the reference's CREATE INDEX tuning (wow_2021 sql:130-131; SURVEY
    §2 K7). ``partition_by`` prunes scans on the partition predicate;
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
        # versioned mode: publishes write a fresh version DATABASE and
        # commit with one pointer flip (cross-table atomic — see the
        # module docstring); None keeps the per-table modes.
        self.version_pointer = version_pointer
        # per-write version sequence: a reload in the same second must
        # NEVER overwrite the dir the live table points at (lexical
        # sort order is the prune order, so zero-pad the counter)
        import itertools

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
        load_dataset.py:209-241, rollback at :230-232)."""
        db = staging_db_name(dataset)
        self.drop_db(db)
        self._sql(f"CREATE DATABASE `{db}`")
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
        jvm = self.spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(f"{loc}/{table}")
        fs = path.getFileSystem(self.spark._jsc.hadoopConfiguration())
        fs.delete(path, True)

    def write_staging_table(
        self,
        db: str,
        table: str,
        df: DataFrame,
        layout: TableLayout | None = None,
    ) -> None:
        """Stage one source table. Copy mode: managed saveAsTable in
        the staging db. External mode: ONE parquet write to the next
        version dir + an external staging table pointing at it (the
        same files the publish flip will re-point the target at —
        the staging DROP DATABASE CASCADE removes only metadata).
        Bucketed layouts force copy mode: Spark cannot attach a
        bucketing spec to a path-first write."""
        self._reclaim_orphan_location(db, table)
        if self.external_root and not (layout and layout.bucket_by):
            path = self._version_path(table)
            w = df.write.mode("overwrite")
            if layout and layout.partition_by:
                w = w.partitionBy(*layout.partition_by)
            w.parquet(path)
            self._sql(f"DROP TABLE IF EXISTS `{db}`.`{table}`")
            self._create_external(db, table, path)
            return
        w = df.write.mode("overwrite")
        if layout:
            w = layout.apply(w)
        w.saveAsTable(f"`{db}`.`{table}`")

    # -- external (metadata-only) publish machinery ---------------------------

    def _version_path(self, table: str) -> str:
        return (
            f"{self.external_root}/{self.target_db}/{table}/"
            f"v_{int(time.time())}_{next(self._version_seq):06d}"
        )

    def _create_external(self, db: str, table: str, path: str) -> None:
        # partition discovery: a partitioned path needs MSCK-style
        # repair; USING PARQUET LOCATION infers both schema and
        # partitions at create time for the unpartitioned case, and
        # partitioned dirs are handled by recoverPartitions below.
        self._sql(
            f"CREATE TABLE `{db}`.`{table}` USING PARQUET "
            f"LOCATION '{path}'"
        )
        try:
            self.spark.catalog.recoverPartitions(f"`{db}`.`{table}`")
        except Exception:  # noqa: BLE001 - unpartitioned table
            pass

    def _table_location(self, db: str, table: str) -> str | None:
        if not self.spark.catalog.tableExists(f"`{db}`.`{table}`"):
            return None
        rows = self.spark.sql(
            f"DESCRIBE TABLE EXTENDED `{db}`.`{table}`"
        ).collect()
        for r in rows:
            if r["col_name"] == "Location":
                return r["data_type"]
        return None

    @staticmethod
    def _fs_path(uri: str) -> str:
        """file:/x, file:///x and /x all normalize to /x (DESCRIBE and
        input_file_name disagree on slash count)."""
        from urllib.parse import urlparse

        parsed = urlparse(uri)
        return parsed.path if parsed.scheme else uri

    def _is_external(self, db: str, table: str) -> bool:
        loc = self._table_location(db, table)
        return bool(
            loc
            and self.external_root
            and self._fs_path(loc).startswith(self.external_root)
        )

    def _prune_versions(
        self, table: str, protect: set[str] | None = None
    ) -> None:
        """Delete version dirs beyond keep_versions, oldest first,
        never the one the live table points at. Runs only after the
        pointer flip: a crash strands extra files, never live data.
        Local-FS/NFS only (os.listdir): on an object-store root this
        is a silent no-op and version GC belongs to a lifecycle rule
        on the bucket — stranded versions are still never wrong, just
        unreclaimed.

        ``protect`` (versioned mode): the set of absolute paths still
        referenced by any SURVIVING version database — every v_ dir
        outside it is dropped, every dir inside it kept regardless of
        count. The default per-table resolution (``target_db.table``'s
        location) does not exist in versioned mode, so the caller must
        supply the reference set."""
        import os
        import shutil

        base = f"{self.external_root}/{self.target_db}/{table}"
        if not os.path.isdir(base):
            return
        versions = sorted(
            d for d in os.listdir(base) if d.startswith("v_")
        )
        if protect is not None:
            for v in versions:
                path = os.path.abspath(os.path.join(base, v))
                if path not in protect:
                    shutil.rmtree(path, ignore_errors=True)
            return
        live = self._fs_path(
            self._table_location(self.target_db, table) or ""
        )
        excess = versions[: -self.keep_versions] if len(
            versions
        ) > self.keep_versions else []
        for v in excess:
            path = os.path.join(base, v)
            if os.path.abspath(path) != os.path.abspath(live):
                shutil.rmtree(path, ignore_errors=True)

    def publish_tables(
        self,
        staging_db: str,
        tables: list[str],
        layouts: dict[str, TableLayout] | None = None,
        on_table_published=None,
    ) -> list[str]:
        """Move results staging → target: drop-and-replace per table
        (reference: drop_tables_if_they_exist + change_table_schemas,
        load_dataset.py:163-169, 244-252). ``layouts`` re-applies
        per-table partitioning/bucketing on the published copy.
        ``on_table_published(table)`` fires after each table lands
        (progress hooks; the versioned-mode atomicity test interleaves
        a reader here). With a :class:`VersionPointer` configured this
        routes to the cross-table-atomic versioned publish.

        The per-table modes copy every table concurrently: each table
        is one node of the load scheduler (publish/scheduler.py) that
        publishes that table alone through this method, so the tables
        are independent and a failure stops every copy not yet
        started."""
        if self.version_pointer is not None:
            return self._publish_tables_versioned(
                staging_db, tables, layouts, on_table_published
            )
        self._sql(f"CREATE DATABASE IF NOT EXISTS `{self.target_db}`")
        if len(tables) != 1:
            nodes = [
                Node(partial(
                    self.publish_tables, staging_db, [t], layouts,
                    on_table_published,
                ), creates=(t,))
                for t in tables
            ]
            width = self.spark.sparkContext.defaultParallelism
            return [p for ps in run_graph(nodes, width, self.spark) for p in ps]
        (t,) = tables
        if self._is_external(staging_db, t):
            # metadata-only flip (the SET SCHEMA analog): target
            # external table re-created at the staged files — no data
            # movement; previous versions pruned AFTER.
            path = self._table_location(staging_db, t)
            self._sql(f"DROP TABLE IF EXISTS `{self.target_db}`.`{t}`")
            self._create_external(self.target_db, t, path)
            self._prune_versions(t)
        else:
            self._reclaim_orphan_location(self.target_db, t)
            src = self.spark.table(f"`{staging_db}`.`{t}`")
            w = src.write.mode("overwrite")
            if layouts and t in layouts:
                w = layouts[t].apply(w)
                if layouts[t].bucket_by:
                    # saveAsTable cannot overwrite across a bucketing-
                    # spec change, so bucketed publishes drop first.
                    # This narrows per-table atomicity (reader gap +
                    # loss-on-crash window) — accepted ONLY for tables
                    # that opted into bucketing; plain tables keep the
                    # atomic overwrite (files first, catalog flip last).
                    self._sql(f"DROP TABLE IF EXISTS `{self.target_db}`.`{t}`")
            w.saveAsTable(f"`{self.target_db}`.`{t}`")
        if on_table_published:
            on_table_published(t)
        return [f"{self.target_db}.{t}"]

    # -- versioned (cross-table atomic) publish --------------------------------

    def _publish_tables_versioned(
        self,
        staging_db: str,
        tables: list[str],
        layouts: dict[str, TableLayout] | None = None,
        on_table_published=None,
    ) -> list[str]:
        """All-tables-one-commit publish: land EVERY table in a fresh
        version database (external tables re-point at the staged files
        — metadata only; managed tables copy), then commit with ONE
        :meth:`VersionPointer.flip`. Readers resolving through the
        pointer see the previous version in full until the flip and
        the new version in full after it — the reference's
        single-transaction schema swap (load_dataset.py:244-252),
        which the per-table modes above cannot give.

        The logical database keeps existing (empty) so unpointed
        readers fail on a missing table instead of a missing database;
        returned names are LOGICAL (``target.table``) — callers
        address tables through the pointer, not the version db."""
        self._sql(f"CREATE DATABASE IF NOT EXISTS `{self.target_db}`")
        phys = version_db_name(
            self.target_db, int(time.time()), next(self._version_seq)
        )
        self._sql(f"CREATE DATABASE `{phys}`")
        try:
            for t in tables:
                if self._is_external(staging_db, t):
                    path = self._table_location(staging_db, t)
                    self._create_external(phys, t, path)
                else:
                    # a same-named version db from a crashed PREVIOUS
                    # session can leave orphaned warehouse dirs
                    self._reclaim_orphan_location(phys, t)
                    w = self.spark.table(
                        f"`{staging_db}`.`{t}`"
                    ).write.mode("overwrite")
                    if layouts and t in layouts:
                        w = layouts[t].apply(w)
                    w.saveAsTable(f"`{phys}`.`{t}`")
                if on_table_published:
                    on_table_published(t)
        except BaseException:
            # abort: the pointer never flipped, readers never saw the
            # partial version — drop it and re-raise
            self.drop_db(phys)
            raise
        self.version_pointer.flip(self.target_db, phys)  # THE commit
        survivors = self._prune_version_dbs()
        # external-table FILE versions: a dropped version db leaves
        # its files behind (DROP on an external table is metadata
        # only) — delete every v_ dir no surviving version database
        # still references, and never one that is
        if self.external_root:
            import os

            for t in tables:
                if not self._is_external(phys, t):
                    continue
                protect = set()
                for db in survivors:
                    loc = self._table_location(db, t)
                    if loc:
                        protect.add(os.path.abspath(self._fs_path(loc)))
                self._prune_versions(t, protect=protect)
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
