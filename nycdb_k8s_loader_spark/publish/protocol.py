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

Publishing has this one path. Cross-*table* atomicity of the
per-table flips is weaker than the reference's single-schema swap
(/root/reference/load_dataset.py:244-252 — every ALTER TABLE SET
SCHEMA shares ONE ``conn.commit()``): a reader between two flips of
one load can see table A new next to table B old. Every reader
addresses ``<target_db>.<table>`` directly, as the reference's
readers address ``public.<table>``.

Idempotency (reference O3, tests/test_load_dataset.py:78-84): rerunning
a load is a deterministic overwrite — same inputs, same tables.
"""

from __future__ import annotations

import itertools
import re
import time
import uuid
from contextlib import contextmanager
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from nycdb_k8s_loader_spark.publish.scheduler import Node, run_graph

STAGING_PREFIX = "staging_"


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
    ) -> None:
        self.spark = spark
        self.target_db = target_db
        self.external_root = external_root.rstrip("/") if external_root else None
        # version names carry (second, sequence); the random suffix
        # keeps two Publishers apart in one second
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

    def write_staging_table(self, db: str, table: str, df: DataFrame) -> None:
        """Stage one source table as a catalog table — publish
        re-creates the target from its DDL."""
        self._reclaim_orphan_location(db, table)
        df.write.mode("overwrite").saveAsTable(f"`{db}`.`{table}`")

    # -- the flip: rename + explicit DDL ----------------------------------------

    def _version_name(self) -> str:
        return (
            f"v_{int(time.time())}_{next(self._version_seq):06d}_"
            f"{uuid.uuid4().hex[:8]}"
        )

    def _version_root(self) -> str:
        """Directory holding ``<table>/v_*`` for every table published
        into ``target_db``: the external root's ``<target_db>`` dir,
        else ``target_db``'s own location."""
        if self.external_root:
            return f"{self.external_root}/{self.target_db}"
        return self.spark.catalog.getDatabase(self.target_db).locationUri

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

    def _flip(self, staging_db: str, table: str, db: str, root: str) -> str:
        """Publish staged ``table`` into ``db`` (module docstring steps
        1-3) and return its version dir's name."""
        staged = self._catalog_table(staging_db, table)
        if staged is None:
            raise ValueError(f"`{staging_db}`.`{table}` was never staged")
        live = self._catalog_table(db, table)
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

    def _prune(self, base: str, keep: str) -> None:
        """Delete every entry of the version base ``base`` except the
        version dir ``keep`` — old versions, and orphan files a
        forgotten managed table of an earlier session left there. Runs
        only after the flip."""
        path, fs = self._hpath(base)
        if not fs.exists(path):
            return
        for st in fs.listStatus(path):
            if st.getPath().getName() != keep:
                fs.delete(st.getPath(), True)

    def publish_tables(self, staging_db: str, tables: list[str]) -> list[str]:
        """Move results staging → target, one flip per table
        (reference: drop_tables_if_they_exist + change_table_schemas,
        load_dataset.py:163-169, 244-252). The staged table's layout
        (partitioning, bucketing) carries over with its DDL.

        Per-table flips run concurrently, one node of the load
        scheduler (publish/scheduler.py) per table: a failure stops
        every flip not yet started. A reader between two flips can see
        one table new and another old (module docstring)."""
        self._sql(f"CREATE DATABASE IF NOT EXISTS `{self.target_db}`")
        root = self._version_root()

        def publish(t: str) -> None:
            version = self._flip(staging_db, t, self.target_db, root)
            self._prune(f"{root}/{t}", version)

        nodes = [Node(partial(publish, t), creates=(t,)) for t in tables]
        run_graph(nodes, self.spark.sparkContext.defaultParallelism, self.spark)
        return [f"{self.target_db}.{t}" for t in tables]
