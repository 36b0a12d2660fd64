"""The benchmark workloads and their output checks.

Every workload is a closed loop with one client: the next op starts
when the previous one has returned. The package receives only the
inputs generated here:

- base tables come from ``tools/gen_scale_data.py`` (deterministic in
  scale factor and row id) and are cached in the checkout;
- ``--seed`` decides the per-run inputs: the calendar day the
  ``refresh`` cycles start on (the package's own schedule then says
  which sources change), the query order of ``analytics`` and the
  geometries of its distinct-WKT join.

Reference results come from DuckDB running each query's oracle twin
on the same files; they are computed once per checkout and cached.
Every cache entry is keyed on a hash of the code that produced it
(the generator, the fixture helpers, the oracle SQL text), so a
change to any of them builds a fresh entry instead of reusing a
stale one.
"""

from __future__ import annotations

import contextlib
import datetime
import hashlib
import importlib.util
import inspect
import json
import math
import os
import random
import shutil
import sys
import time

from perfbench.tracing import maybe_span

#: scale factor of the base tables (see NOTES.md for the sizing); the
#: self-test's smoke runs lower it through PERFBENCH_SF
SF = float(os.environ.get("PERFBENCH_SF", "0.01"))

#: source datasets of a refresh cycle; ``wow`` has no source files and
#: rebuilds every cycle
REFRESH_SOURCES = (
    "hpd_registrations", "hpd_contacts", "hpd_violations",
    "hpd_complaints", "acris", "rentstab", "dof_annual_sales",
)
REFRESH_TARGETS = ["wow", "dof_annual_sales"]
#: the year warm refresh cycles are placed in; the first day a seed
#: may pick is Jan 2 and the last leaves room for a traced run's
#: cycles before Dec 31, so no run crosses the yearly slot (Jan 1)
REFRESH_YEAR = 2021
REFRESH_START_DAYS = 355

#: one catalog query per operator layer, curation side then housing
#: side; NOTES.md lists the queries left out and what each costs
CURATION_QUERIES = (
    "d09_fuzzy_dedup_e2e", "t17_gopher_quality_rules",
    "s01_ann_cosine_topk", "p07_token_budget_mixture",
)
HOUSING_QUERIES = ("flagship_bldgs", "geo07_binned_polygon_join")
#: the benchmark's own geometry join: geo07's operator, arguments,
#: shapes, row counts and domains, but no WKT repeats
DISTINCT_GEO = "geo_distinct_binned_join"

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
WOW_COLUMNS = (
    "bbl", "boro", "ownername", "portfolio_id", "total_violations",
    "classa_violations", "classb_violations", "classc_violations",
    "open_violations", "recent_violations", "total_complaints",
    "recent_complaints", "lastsale_docid", "lastsale_date",
    "lastsale_amount", "rsunits2007", "rsunitslatest",
)


def vhash(pdf) -> str:
    """Order-insensitive value hash of a pandas frame: the
    ``bench.py --sweep`` compare (columns by name, floats at 6 dp)."""
    import pandas as pd

    pdf = pdf[sorted(pdf.columns)]
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]")
    rows = [
        "|".join(
            "%.6f" % v if isinstance(v, float) and not math.isnan(v)
            else str(v)
            for v in r
        )
        for r in pdf.itertuples(index=False)
    ]
    return hashlib.md5("\n".join(sorted(rows)).encode()).hexdigest()


def digest(pdf) -> dict:
    return {"rows": len(pdf), "vhash": vhash(pdf)}


GENERATOR = "tools/gen_scale_data.py"
#: package files the refresh sources are derived with
REFRESH_HELPERS = (
    GENERATOR,
    "nycdb_k8s_loader_spark/plans/wow_pipeline.py",
    "nycdb_k8s_loader_spark/plans/xlsx_pipeline.py",
    "nycdb_k8s_loader_spark/plans/fixture_cache.py",
)


def code_key(repo: str, files=(), texts=()) -> str:
    """Short hash of the given repository files and source texts."""
    h = hashlib.md5()
    for rel in files:
        with open(os.path.join(repo, rel), "rb") as f:
            h.update(f.read())
    for text in texts:
        h.update(text.encode())
    return h.hexdigest()[:12]


class Cache:
    """Inputs and reference digests shared by every run in a checkout.
    Base tables do not depend on the seed, so they are built once per
    scale factor and generator version."""

    def __init__(self, root: str, repo: str) -> None:
        self.root = root
        self.repo = repo
        self.oracle_path = os.path.join(root, "oracle.json")
        os.makedirs(root, exist_ok=True)

    def base_path(self, sf: float) -> str:
        key = code_key(self.repo, [GENERATOR])
        return os.path.join(self.root, f"sf{sf:g}-{key}")

    def base(self, spark, sf: float) -> str:
        out = self.base_path(sf)
        if not done(out):
            shutil.rmtree(out, ignore_errors=True)
            spec = importlib.util.spec_from_file_location(
                "gen_scale_data", os.path.join(self.repo, GENERATOR))
            gen = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(gen)
            key = "spark.sql.parquet.outputTimestampType"
            spark.conf.set(key, "TIMESTAMP_MICROS")
            try:
                # the generator reports each table on stdout, which
                # carries the benchmark's result
                with contextlib.redirect_stdout(sys.stderr):
                    gen.generate(spark, sf, out)
            finally:
                spark.conf.unset(key)
            open(os.path.join(out, "_DONE"), "w").close()
        return out

    def oracle_key(self, sf: float, name: str, sql: str) -> str:
        base = os.path.basename(self.base_path(sf))
        return f"{base}:{name}:{code_key(self.repo, texts=[sql])}"

    def known_oracles(self) -> dict:
        if not os.path.exists(self.oracle_path):
            return {}
        with open(self.oracle_path) as f:
            return json.load(f)

    def oracle(self, key: str, compute) -> dict:
        known = self.known_oracles()
        if key not in known:
            known[key] = compute()
            tmp = self.oracle_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(known, f, indent=1, sort_keys=True)
            os.replace(tmp, self.oracle_path)
        return known[key]


def done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


class Workload:
    """Cache handling shared by the workloads. ``fill`` builds every
    missing input and reference (a run does it in a child process,
    so the timed JVM has run nothing before); ``locate`` only reads
    them."""

    sf = SF

    def __init__(self, cache: Cache, seed: int) -> None:
        self.cache = cache
        self.seed = seed

    def oracle_specs(self) -> dict[str, tuple[str, str]]:
        """Query name -> (cache key, oracle SQL)."""
        from nycdb_k8s_loader_spark.plans.catalog import oracle_sql

        sqls = oracle_sql()
        return {
            name: (self.cache.oracle_key(self.sf, name, sqls[name]),
                   sqls[name])
            for name in self.oracle_names
        }

    def input_dirs(self) -> list[str]:
        return [self.cache.base_path(self.sf)]

    def cached(self) -> bool:
        known = self.cache.known_oracles()
        return (all(done(d) for d in self.input_dirs())
                and all(k in known for k, _ in self.oracle_specs().values()))

    def fill(self, spark) -> None:
        base = self.cache.base(spark, self.sf)
        for key, sql in self.oracle_specs().values():
            self.cache.oracle(
                key, lambda sql=sql: digest(duck(base).execute(sql).fetchdf()))

    def locate(self) -> None:
        self.base = self.cache.base_path(self.sf)
        known = self.cache.known_oracles()
        self.oracles = {
            name: known[key] for name, (key, _) in self.oracle_specs().items()
        }


def duck(base: str, extra: dict[str, str] | None = None):
    """DuckDB connection with a view per base table (plus ``extra``
    name -> parquet path views)."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{base}/{t}.parquet/*.parquet')"
        )
    for name, path in (extra or {}).items():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


def input_rows_bytes(base: str) -> dict:
    out = {}
    import pyarrow.parquet as pq

    for t in TABLES:
        d = os.path.join(base, f"{t}.parquet")
        files = [
            os.path.join(d, f) for f in os.listdir(d)
            if f.endswith(".parquet")
        ]
        out[t] = {
            "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            "bytes": sum(os.path.getsize(f) for f in files),
        }
    return out


# -- analytics -------------------------------------------------------------------


class Analytics(Workload):
    """Analysts' queries over the base tables: the curation family
    (eager stage chains, an iterative loop, similarity and sampling
    operators) and the housing read path (relational rollup, geometry
    joins). One op = build then execute every query once, in the
    run's seeded order; each query is written to the ``noop`` sink, as
    ``bench.py`` does, so the timing covers the full plan and no
    driver-side collect."""

    #: queries with a catalog entry and a DuckDB oracle twin
    oracle_names = CURATION_QUERIES + HOUSING_QUERIES
    names = oracle_names + (DISTINCT_GEO,)
    warm_ops = 2

    def __init__(self, cache: Cache, seed: int) -> None:
        super().__init__(cache, seed)
        self.order = list(self.names)
        random.Random(seed).shuffle(self.order)
        self.last: dict = {}

    def prepare(self, spark, work: str) -> None:
        from nycdb_k8s_loader_spark.plans.catalog import queries

        self.spark = spark
        catalog = queries()
        self.fns = {n: catalog[n] for n in self.oracle_names}
        self.fns[DISTINCT_GEO] = self._distinct_join
        self.lots_path, self.parcels_path = write_distinct_geoms(
            work, self.seed, input_rows_bytes(self.base)
        )

    def _distinct_join(self, spark, base, dedup_geoms=True):
        from nycdb_k8s_loader_spark.operators.geo import (
            polygon_intersection_join_binned,
        )

        lots = spark.read.parquet(self.lots_path)
        parcels = spark.read.parquet(self.parcels_path)
        return polygon_intersection_join_binned(
            lots.select("c_custkey", "lot_wkt"),
            parcels.select("o_orderkey", "parcel_wkt"),
            wkt_a="lot_wkt", wkt_b="parcel_wkt", dedup_geoms=dedup_geoms,
        ).select("c_custkey", "o_orderkey")

    def op(self, tracer) -> dict:
        parts = {}
        self.last = {}
        for name in self.order:
            t0 = time.perf_counter()
            with maybe_span(tracer, f"plans.build.{name}"):
                df = self.fns[name](self.spark, self.base)
            t1 = time.perf_counter()
            with maybe_span(tracer, f"plans.exec.{name}"):
                df.write.format("noop").mode("overwrite").save()
            parts[name] = (t1 - t0, time.perf_counter() - t1)
            self.last[name] = df
        return {"queries": parts}

    def check_op(self, result: dict) -> list[str]:
        return []

    def final_check(self) -> list[str]:
        """Untimed: collect the frames the last op built (re-running
        only their lazy part) and compare row count and value hash
        with the DuckDB twin. The distinct join's twin is rectangle
        bounds arithmetic on the same files; the same operator with
        ``dedup_geoms=False`` on the same input must match it too."""
        con = duck(self.base, {"lots": self.lots_path,
                               "parcels": self.parcels_path})
        self.oracles[DISTINCT_GEO] = digest(con.execute("""
            SELECT l.c_custkey, p.o_orderkey FROM lots l JOIN parcels p
              ON l.x0 < p.x1 AND p.x0 < l.x1 AND l.y0 < p.y1 AND p.y0 < l.y1
        """).fetchdf())
        results = {n: self.last[n] for n in self.names}
        results[f"{DISTINCT_GEO} dedup_geoms=False"] = self._distinct_join(
            self.spark, self.base, dedup_geoms=False)
        bad = []
        for name, df in results.items():
            want = self.oracles[name.split()[0]]
            got = digest(df.toPandas())
            if got != want:
                bad.append(f"{name}: {got} != oracle {want}")
        return bad

    def environment(self) -> dict:
        return {"sf": self.sf, "query_order": self.order,
                "inputs": input_rows_bytes(self.base),
                "distinct_wkt_share": self.distinct_wkt_share()}

    def distinct_wkt_share(self) -> dict:
        """Distinct WKT strings / rows for each geometry input. The
        catalog fixtures derive a lot's shape from ``c_custkey % m``
        and a parcel's from ``o_orderkey % m`` (their oracle SQL
        spells the formulas out), so the shares are computed from the
        keys."""
        con = duck(self.base, {"lots": self.lots_path,
                               "parcels": self.parcels_path})

        def share(sql: str) -> float:
            d, n = con.execute(sql).fetchone()
            return d / n

        return {
            "geo07.lots": share("SELECT count(DISTINCT c_custkey % 50), "
                                "count(*) FROM customer"),
            "geo07.parcels": share("SELECT count(DISTINCT o_orderkey % 500),"
                                   " count(*) FROM orders"),
            f"{DISTINCT_GEO}.lots": share(
                "SELECT count(DISTINCT lot_wkt), count(*) FROM lots"),
            f"{DISTINCT_GEO}.parcels": share(
                "SELECT count(DISTINCT parcel_wkt), count(*) FROM parcels"),
        }


def _rect_wkt(x0: float, y0: float, size: float) -> str:
    x1, y1 = x0 + size, y0 + size
    return (f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, "
            f"{x0} {y1}, {x0} {y0}))")


def write_distinct_geoms(
    work: str, seed: int, inputs: dict
) -> tuple[str, str]:
    """Seeded lot and parcel rectangles in which no WKT repeats. As in
    geo07's fixture there is a lot per customer and a parcel per
    order; lots are 1.5-unit squares at quarter offsets in [0, 50)²
    and parcels 0.75-unit squares at eighth offsets in [0, 500)², so
    no parcel edge ever touches a lot edge. Each shape sits on its
    own grid corner, picked by the seed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)

    def table(n, domain, pitch, offset, size, key, wkt_col):
        cells = int(domain / pitch)
        picks = rng.sample(range(cells * cells), n)
        x0 = [offset + pitch * (c % cells) for c in picks]
        y0 = [offset + pitch * (c // cells) for c in picks]
        return pa.table({
            key: list(range(n)),
            "x0": x0, "y0": y0,
            "x1": [x + size for x in x0], "y1": [y + size for y in y0],
            wkt_col: [_rect_wkt(x, y, size) for x, y in zip(x0, y0)],
        })

    paths = (os.path.join(work, "lots.parquet"),
             os.path.join(work, "parcels.parquet"))
    pq.write_table(table(inputs["customer"]["rows"], 50, 0.5, 0.25, 1.5,
                         "c_custkey", "lot_wkt"), paths[0])
    pq.write_table(table(inputs["orders"]["rows"], 500, 0.25, 0.125, 0.75,
                         "o_orderkey", "parcel_wkt"), paths[1])
    return paths


# -- refresh -----------------------------------------------------------------


def fires(schedule, day: datetime.date) -> bool:
    """Whether a dataset on ``schedule`` (a ``scheduling.Schedule``)
    loads on ``day``, read from its cron expression: ``@yearly`` on
    Jan 1, ``m h <dom> * *`` on the days of month ``<dom>`` names
    (``*`` or ``first-last/step``)."""
    if schedule.cron == "@yearly":
        return (day.month, day.day) == (1, 1)
    fields = schedule.cron.split()
    if len(fields) != 5 or fields[3:] != ["*", "*"]:
        raise ValueError(f"no calendar rule for schedule {schedule.cron!r}")
    if fields[2] == "*":
        return True
    span, step = fields[2].split("/")
    first, last = (int(v) for v in span.split("-"))
    return first <= day.day <= last and (day.day - first) % int(step) == 0


class Refresh(Workload):
    """One op = one ``Engine.load_all(["wow", "dof_annual_sales"])``
    on a long-lived Engine with a parquet KV state file and copy-mode
    publish. The first cycle finds empty state and loads everything.
    Each later cycle is the next calendar day after a seeded start
    day: the sources whose slot in ``scheduling.DATASET_SCHEDULES``
    fires that day answer 200, the rest 304."""

    oracle_names = ("w01_wow_bldgs_e2e", "w02_dof_annual_sales_e2e")
    #: an odd and an even day, so each run's median holds both slots
    warm_ops = 2

    def __init__(self, cache: Cache, seed: int) -> None:
        super().__init__(cache, seed)
        self.start_day = datetime.date(REFRESH_YEAR, 1, 2) + datetime.timedelta(
            days=random.Random(seed).randrange(REFRESH_START_DAYS))
        self.cycle = 0
        self.changed: set[str] = set(REFRESH_SOURCES)
        self.history: list[dict] = []
        self.tracer = None

    def sources_path(self) -> str:
        key = code_key(self.cache.repo, REFRESH_HELPERS,
                       [inspect.getsource(write_refresh_sources)])
        return os.path.join(self.cache.root,
                            f"refresh_sf{self.sf:g}-{key}")

    def input_dirs(self) -> list[str]:
        return super().input_dirs() + [self.sources_path()]

    def fill(self, spark) -> None:
        super().fill(spark)
        if not done(self.sources_path()):
            write_refresh_sources(spark, self.cache.base_path(self.sf),
                                  self.sources_path())

    def locate(self) -> None:
        super().locate()
        self.sources = self.sources_path()

    def day(self, cycle: int) -> datetime.date:
        """The calendar day of warm cycle ``cycle`` (1, 2, ...)."""
        return self.start_day + datetime.timedelta(days=cycle - 1)

    def scheduled(self, day: datetime.date) -> set[str]:
        from nycdb_k8s_loader_spark.scheduling import schedule_for

        return {d for d in REFRESH_SOURCES if fires(schedule_for(d), day)}

    def prepare(self, spark, work: str) -> None:
        from nycdb_k8s_loader_spark.datasets import wow_registry
        from nycdb_k8s_loader_spark.engine import Engine
        from nycdb_k8s_loader_spark.state.kvstore import ParquetKVStore

        self.spark = spark
        self.registry = wow_registry()
        self.dataset_of = {
            url: d for d in REFRESH_SOURCES for url in self.registry.urls(d)
        }
        self.warehouse = os.path.join(work, "warehouse")
        self.engine = _job_grouped(Engine)(
            spark,
            self.registry,
            ParquetKVStore(os.path.join(work, "state", "kv.parquet")),
            landing_root=os.path.join(work, "landing"),
            transport=self.transport,
            downloader=self.download,
        )
        self.engine.group_prefix = "perfbench"

    def transport(self, url: str, headers: dict):
        from nycdb_k8s_loader_spark.state.lastmod import FetchResult

        ds = self.dataset_of[url]
        if ds in self.changed:
            return FetchResult(200, etag=f'"{ds}-{self.cycle}"')
        return FetchResult(304)

    def download(self, url: str, dest: str) -> None:
        with maybe_span(self.tracer, "sources.landing"):
            shutil.copyfile(
                os.path.join(self.sources, os.path.basename(dest)), dest
            )

    def op(self, tracer) -> dict:
        self.tracer = tracer
        if self.cycle > 0:
            self.changed = self.scheduled(self.day(self.cycle))
        self.before = self._fingerprints()
        self.engine.cycle = self.cycle
        results = self.engine.load_all(REFRESH_TARGETS)
        out = {
            "cycle": self.cycle,
            "day": self.day(self.cycle).isoformat() if self.cycle else None,
            "changed": sorted(self.changed),
            "skipped": sorted(r.dataset for r in results if r.skipped),
            "loaded": sorted(r.dataset for r in results if not r.skipped),
        }
        self.cycle += 1
        return out

    def _table_dirs(self, ds: str) -> list[str]:
        db = self.engine.publisher.target_db
        return [
            os.path.join(self.warehouse, f"{db}.db", t)
            for t in self.registry.tables_for(ds)
        ]

    def _fingerprints(self) -> dict:
        out = {}
        for ds in REFRESH_SOURCES:
            files = []
            for d in self._table_dirs(ds):
                if os.path.isdir(d):
                    for f in sorted(os.listdir(d)):
                        st = os.stat(os.path.join(d, f))
                        files.append((d, f, st.st_size, st.st_mtime_ns))
            out[ds] = files
        return out

    def check_op(self, result: dict) -> list[str]:
        """Untimed, after every cycle: the published outputs match
        their oracles, and every dataset answered 304 ran no Spark job
        and left its published tables untouched."""
        bad = []
        expect_skipped = sorted(set(REFRESH_SOURCES) - set(result["changed"]))
        if result["skipped"] != expect_skipped:
            bad.append(f"cycle {result['cycle']}: skipped "
                       f"{result['skipped']} != {expect_skipped}")
        tracker = self.spark.sparkContext.statusTracker()
        after = self._fingerprints()
        for ds in expect_skipped:
            jobs = tracker.getJobIdsForGroup(
                self.engine.group(ds, result["cycle"]))
            if jobs:
                bad.append(f"cycle {result['cycle']}: 304 dataset {ds} "
                           f"ran Spark jobs {sorted(jobs)}")
            if after[ds] != self.before[ds]:
                bad.append(f"cycle {result['cycle']}: 304 dataset {ds} "
                           "changed its published tables")
        wow = self.spark.table("wow.wow_bldgs").select(*WOW_COLUMNS)
        dof = self.engine.read_published("dof_annual_sales")
        for name, df in (("w01_wow_bldgs_e2e", wow),
                         ("w02_dof_annual_sales_e2e", dof)):
            got = digest(df.toPandas())
            if got != self.oracles[name]:
                bad.append(f"cycle {result['cycle']}: {name} {got} != "
                           f"oracle {self.oracles[name]}")
        self.history.append({k: result[k] for k in ("cycle", "day", "changed")})
        return bad

    def final_check(self) -> list[str]:
        return []

    def environment(self) -> dict:
        inputs = input_rows_bytes(self.base)
        for f in sorted(os.listdir(self.sources)):
            if not f.startswith("_"):
                inputs[f] = {"bytes": os.path.getsize(
                    os.path.join(self.sources, f))}
        return {"sf": self.sf, "inputs": inputs,
                "start_day": self.start_day.isoformat(),
                "cycles": self.history}


def _job_grouped(engine_cls):
    """Engine subclass that tags each dataset load's Spark jobs with a
    job group, so the check can prove a 304 answer ran no job."""

    class JobGroupedEngine(engine_cls):
        cycle = 0

        def group(self, name: str, cycle: int) -> str:
            return f"{self.group_prefix}:{cycle}:{name}"

        def load(self, name: str, force: bool = False):
            sc = self.spark.sparkContext
            sc.setJobGroup(self.group(name, self.cycle), name)
            try:
                return super().load(name, force)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    return JobGroupedEngine


def write_refresh_sources(spark, base: str, out: str) -> None:
    """The WOW closure's 8 source CSVs and the two DOF annual-sales
    workbooks, derived from the base tables exactly as the w01 and
    w02 catalog entries derive theirs."""
    from nycdb_k8s_loader_spark.plans import wow_pipeline, xlsx_pipeline
    from nycdb_k8s_loader_spark.plans.fixture_cache import (
        collect_fixture_pdf,
    )
    from pyspark.sql import functions as F

    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for name, df in wow_pipeline._synth_sources(spark, base).items():
        collect_fixture_pdf(df).to_csv(
            os.path.join(out, f"{name}.csv"), index=False)
    df = xlsx_pipeline._derived(spark, base)
    header = [f.name for f in df.schema.fields]
    split = xlsx_pipeline._SPLIT_YEAR
    for fname, cond in (
        ("dof_annual_sales_2020_manhattan.xlsx", F.year("saledate") > split),
        ("dof_annual_sales_2015_manhattan.xlsx", F.year("saledate") <= split),
    ):
        rows = xlsx_pipeline._workbook_rows(df.filter(cond))
        with open(os.path.join(out, fname), "wb") as f:
            f.write(xlsx_pipeline._xlsx_bytes(header, rows))
    open(os.path.join(out, "_DONE"), "w").close()


WORKLOADS = {"refresh": Refresh, "analytics": Analytics}
