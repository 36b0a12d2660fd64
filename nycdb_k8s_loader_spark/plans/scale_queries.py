"""Geo-lite + deterministic-sampling query pack.

geo01/geo02 cover the reference's point-coordinate surface (float
lat/lng on wow_bldgs, /root/reference/tests/sql/
wow_2021_create_bldgs_table.sql:76-77) with the grid-bin pattern that
replaces PostGIS proximity queries at scale (SURVEY.md §2.1 S6 was
de-scoped for *geometry*; points need no geometry type).  p01/p02 are
the reproducible-subset operators a training-data pipeline needs.

The testdata has no coordinate columns, so geo queries derive a
deterministic point lattice from ``c_custkey`` with pure int64
arithmetic — identical in Spark and DuckDB, which is what makes an
exact value-hash oracle possible for a spatial join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nycdb_k8s_loader_spark.operators.geo import (
    cell_edge_deg,
    radius_self_join,
    with_grid_cell,
)
from nycdb_k8s_loader_spark.operators.sampling import (
    hash_sample,
    sample_bucket,
    sample_bucket_sql,
    stratified_sample,
)
from nycdb_k8s_loader_spark.plans.catalog import register
from nycdb_k8s_loader_spark.session import read_table as _t

# Synthetic NYC-ish 1-degree box: lattice pitch 0.001 deg (~111 m),
# chosen so the sf0.01 pair margins around the 2 km radius and every
# 3-dp rounding boundary are >= 1e-6 km — far beyond cross-engine
# libm ulp noise (verified empirically; see PERFORMANCE.md).
_PTS_SQL = """
    SELECT c_custkey AS id,
           40.0 + ((c_custkey * 7919) % 1000) / 1000.0 AS lat,
           -74.0 + ((c_custkey * 104729) % 1000) / 1000.0 AS lng
    FROM customer
"""

_RADIUS_KM = 2.0
_MAX_ABS_LAT = 41.0


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("id"),
        (
            F.lit(40.0)
            + F.pmod(F.col("c_custkey") * 7919, F.lit(1000)) / 1000.0
        ).alias("lat"),
        (
            F.lit(-74.0)
            + F.pmod(F.col("c_custkey") * 104729, F.lit(1000)) / 1000.0
        ).alias("lng"),
    )


@register(
    "geo01_nearby_pairs",
    f"""
    WITH pts AS ({_PTS_SQL})
    SELECT a.id AS id_a, b.id AS id_b,
           ROUND(2 * 6371.0088 * asin(sqrt(
               sin(radians(b.lat - a.lat)/2) * sin(radians(b.lat - a.lat)/2)
             + cos(radians(a.lat)) * cos(radians(b.lat))
               * sin(radians(b.lng - a.lng)/2) * sin(radians(b.lng - a.lng)/2)
           )), 3) AS dist_km
    FROM pts a JOIN pts b ON a.id < b.id
    WHERE 2 * 6371.0088 * asin(sqrt(
               sin(radians(b.lat - a.lat)/2) * sin(radians(b.lat - a.lat)/2)
             + cos(radians(a.lat)) * cos(radians(b.lat))
               * sin(radians(b.lng - a.lng)/2) * sin(radians(b.lng - a.lng)/2)
          )) <= {_RADIUS_KM}
    """,
    doc="Spatial radius self-join via grid-cell binning: snap points "
        "to cells sized >= radius, equi-join on (cell_x, cell_y) with "
        "3x3 neighbor expansion, exact haversine residual. One shuffle "
        "on the cell key; candidates bounded by local density — the "
        "oracle's all-pairs form is O(n^2) and exists only to prove "
        "the bin join loses no pair. At 100 TB cells follow real-world "
        "density; salt hot cells (operators/skew.py). "
        "Ref surface: float lat/lng wow_2021_create_bldgs_table.sql:76-77.",
    tags=("geo", "join"),
)
def geo01(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = radius_self_join(
        _points(spark, sf_dir),
        id_col="id",
        lat="lat",
        lng="lng",
        radius_km=_RADIUS_KM,
        max_abs_lat_deg=_MAX_ABS_LAT,
    )
    return pairs.select(
        "id_a", "id_b", F.round("dist_km", 3).alias("dist_km")
    )


_EDGE = cell_edge_deg(_RADIUS_KM, _MAX_ABS_LAT)


@register(
    "geo02_grid_density",
    f"""
    WITH pts AS ({_PTS_SQL})
    SELECT CAST(floor(lng / {_EDGE!r}) AS INT) AS cell_x,
           CAST(floor(lat / {_EDGE!r}) AS INT) AS cell_y,
           COUNT(*)::BIGINT AS n_points,
           ROUND(MIN(lat), 6) AS min_lat,
           ROUND(MAX(lng), 6) AS max_lng
    FROM pts
    GROUP BY 1, 2
    """,
    doc="Points-per-grid-cell density: the aggregation twin of geo01's "
        "bin join — one shuffle on the cell key, counts combine "
        "map-side. Cell extremes use MIN/MAX (order-insensitive) so "
        "the value-hash is float-stable; the operator also offers "
        "centroids for real use. This is the layout query behind "
        "choosing partition keys for geographically-partitioned "
        "published tables (a staged table's partition spec carries "
        "into the published DDL, publish/protocol.py).",
    tags=("geo", "agg"),
)
def geo02(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        with_grid_cell(_points(spark, sf_dir), "lat", "lng", _EDGE)
        .groupBy("cell_x", "cell_y")
        .agg(
            F.count("*").alias("n_points"),
            F.round(F.min("lat"), 6).alias("min_lat"),
            F.round(F.max("lng"), 6).alias("max_lng"),
        )
    )


# --- deterministic sampling --------------------------------------------------

_PPM = 100_000  # 10% sample


@register(
    "p01_hash_sample_docs",
    f"""
    SELECT doc_id, lang, source, n_chars,
           ({sample_bucket_sql('doc_id')})::BIGINT AS sample_bucket
    FROM documents
    WHERE {sample_bucket_sql('doc_id')} < {_PPM}
    """,
    doc="Deterministic ~10% Bernoulli sample: keep rows whose "
        "key-derived bucket < fraction. Map-side filter, zero "
        "shuffle, pushes below any downstream op; same row is in/out "
        "across reruns, engines, and partitionings (df.sample() "
        "guarantees none of these). Buckets nest: a 20% sample is a "
        "superset of the 10% — ablation curves stay comparable.",
    tags=("sampling", "pipeline"),
)
def p01(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return hash_sample(docs, "doc_id", _PPM).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        sample_bucket(F.col("doc_id")).alias("sample_bucket"),
    )


_N_PER_STRATUM = 50
# p02 rides a NON-ZERO salt channel on purpose: it proves the salted
# Lehmer arithmetic end-to-end through an ORDER-BY oracle (the r10
# fix covered threshold consumers; this covers order selection), and
# it demonstrates the composition contract — an eval set carved on
# salt 3 stays independent of every salt-0 threshold decision.
_P02_SALT = 3


@register(
    "p02_stratified_sample_docs",
    f"""
    SELECT doc_id, lang, source
    FROM documents
    QUALIFY row_number() OVER (
        PARTITION BY lang, source
        ORDER BY {sample_bucket_sql('doc_id', salt=_P02_SALT)}, doc_id
    ) <= {_N_PER_STRATUM}
    """,
    doc="Exactly min(50, stratum size) docs per (lang, source) "
        "stratum, selected by hash order on a SALTED channel (salt 3 "
        "— independent of every salt-0 threshold decision, see "
        "operators/sampling.py COMPOSITION CONTRACT): one shuffle on "
        "the strata key, total-order tiebreak (bucket, doc_id) makes "
        "the chosen set unique — deterministic balanced eval-set "
        "carving. Same window top-k shape as q11/D1, keyed by content "
        "hash instead of a quality column. Oracle ORDER BY comes from "
        "the shared sample_bucket_sql builder — no hand-copied salt "
        "arithmetic.",
    tags=("sampling", "pipeline"),
)
def p02(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_sample(
        docs, ["lang", "source"], _N_PER_STRATUM, "doc_id",
        salt=_P02_SALT,
    ).select("doc_id", "lang", "source")


# --- incremental rollup ------------------------------------------------------

_CUTOFF = "1997-07-01"


@register(
    "q35_incremental_rollup",
    f"""
    SELECT date_trunc('month', o_orderdate) AS order_month,
           o_orderstatus,
           COUNT(*)::BIGINT AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS price_sum,
           MIN(o_totalprice) AS price_min,
           MAX(o_totalprice) AS price_max,
           ROUND(SUM(o_totalprice) / COUNT(o_totalprice), 4) AS price_avg
    FROM orders
    GROUP BY 1, 2
    """,
    doc="Incremental refresh via mergeable partial rollups: the fact "
        "is split at a cutoff into base and delta, each aggregated to "
        "decomposed monoid state (count/sum/min/max), merged, then "
        "finalized (avg = sum/cnt). merge(rollup(base), rollup(delta)) "
        "== rollup(base ∪ delta) — the oracle computes the right side "
        "directly. At 100 TB the base state is persisted and only the "
        "delta partition is ever re-aggregated: O(delta + groups) per "
        "refresh, vs the reference's full recompute on any change "
        "(load_dataset.py:352-367). operators/incremental.py.",
    tags=("agg", "incremental"),
)
def q35(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.incremental import (
        finalize_rollup,
        merge_rollups,
        partial_rollup,
    )

    orders = _t(spark, sf_dir, "orders").withColumn(
        "order_month", F.date_trunc("month", F.col("o_orderdate"))
    )
    keys = ["order_month", "o_orderstatus"]
    base = orders.filter(F.col("o_orderdate") < F.lit(_CUTOFF))
    delta = orders.filter(F.col("o_orderdate") >= F.lit(_CUTOFF))
    merged = merge_rollups(
        [
            partial_rollup(base, keys, ["o_totalprice"]),
            partial_rollup(delta, keys, ["o_totalprice"]),
        ],
        keys,
        ["o_totalprice"],
    )
    out = finalize_rollup(merged, keys, ["o_totalprice"])
    return out.select(
        "order_month",
        "o_orderstatus",
        "n_rows",
        F.round("o_totalprice_sum", 2).alias("price_sum"),
        F.col("o_totalprice_min").alias("price_min"),
        F.col("o_totalprice_max").alias("price_max"),
        F.round("o_totalprice_avg", 4).alias("price_avg"),
    )


# --- nearest-site assignment -------------------------------------------------

_SITES_SQL = """
    SELECT s AS site_id,
           40.0 + ((s * 331) % 1000) / 1000.0 AS slat,
           -74.0 + ((s * 577) % 1000) / 1000.0 AS slng
    FROM unnest(range(1, 9)) AS t(s)
"""


@register(
    "geo03_nearest_site",
    f"""
    WITH pts AS ({_PTS_SQL}),
    sites AS ({_SITES_SQL}),
    d AS (
        SELECT id, site_id,
               2 * 6371.0088 * asin(sqrt(
                  sin(radians(slat - lat)/2) * sin(radians(slat - lat)/2)
                + cos(radians(lat)) * cos(radians(slat))
                  * sin(radians(slng - lng)/2) * sin(radians(slng - lng)/2)
               )) AS dist
        FROM pts CROSS JOIN sites
    )
    SELECT id, site_id, ROUND(dist, 3) AS dist_km
    FROM d
    QUALIFY row_number() OVER (
        PARTITION BY id ORDER BY dist, site_id
    ) = 1
    """,
    doc="Nearest-site assignment (point → closest of K fixed sites): "
        "the K-site table ships as a literal struct array and the "
        "argmin is a per-row fold — ZERO shuffle, zero join, the scan "
        "output is the answer (plan-asserted: no Exchange). The "
        "tie-break (dist, site_id) is a total order via strict-<; the "
        "closest top-2 gap at sf0.01 is 8.7 m, far above cross-engine "
        "libm noise. Geo twin of s03/s04 centroid assignment — the "
        "'attach each building to its nearest facility' workload; for "
        "large K, swap the literal for a broadcast join + "
        "min(struct).",
    tags=("geo", "agg"),
)
def geo03(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.geo import haversine_km

    # K is tiny and fixed, so the site table ships as a LITERAL array
    # of structs and the argmin is a per-row fold — ZERO shuffle, zero
    # join; the scan's output is already the answer (plan-asserted).
    # Python computes each coordinate in the same IEEE-754 double ops
    # as the oracle's SQL, so the literals are bit-identical.
    site_structs = F.array(
        *[
            F.struct(
                F.lit(s).alias("site_id"),
                F.lit(40.0 + (s * 331 % 1000) / 1000.0).alias("slat"),
                F.lit(-74.0 + (s * 577 % 1000) / 1000.0).alias("slng"),
            )
            for s in range(1, 9)
        ]
    )
    pts = _points(spark, sf_dir)
    best = F.aggregate(
        site_structs,
        F.struct(
            F.lit(float("inf")).alias("dist"),
            F.lit(-1).alias("site_id"),
        ),
        # strict < keeps the earlier (lower-id) site on a tie — same
        # total order as the oracle's ORDER BY dist, site_id
        lambda acc, s: F.when(
            haversine_km(
                F.col("lat"), F.col("lng"), s["slat"], s["slng"]
            )
            < acc["dist"],
            F.struct(
                haversine_km(
                    F.col("lat"), F.col("lng"), s["slat"], s["slng"]
                ).alias("dist"),
                s["site_id"].alias("site_id"),
            ),
        ).otherwise(acc),
    )
    return (
        pts.select("id", best.alias("best"))
        .select(
            "id",
            F.col("best.site_id").alias("site_id"),
            F.round("best.dist", 3).alias("dist_km"),
        )
    )


@register(
    "p04_source_upsampling",
    """
    WITH w AS (
        SELECT doc_id, source,
               CASE WHEN regexp_extract(source, 'src(\\d+)', 1)::INT < 5
                    THEN 3
                    WHEN regexp_extract(source, 'src(\\d+)', 1)::INT < 10
                    THEN 2
                    ELSE 1 END AS weight
        FROM documents
    )
    SELECT doc_id, source,
           unnest(generate_series(1, weight))::BIGINT AS epoch
    FROM w
    """,
    doc="Deterministic data mixing by source up-sampling: each source "
        "carries an integer repeat factor (the 'epochs over "
        "high-quality subsets' recipe of public LLM data mixes), and "
        "every doc emits one row per epoch via "
        "explode(sequence(1, weight)) — pure map-side row generation, "
        "ZERO shuffle, reruns identical (the factor is a function of "
        "the source, never rand()). At 100 TB this is the shape that "
        "matters: up-sampling happens at iteration-plan level (doc_id "
        "× epoch), not by physically copying bytes — the 3× wiki copy "
        "that a naive pipeline writes is free here.",
    tags=("sampling", "mix"),
)
def p04(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    suffix = F.regexp_extract("source", r"src(\d+)", 1).cast("int")
    weight = (
        F.when(suffix < 5, F.lit(3))
        .when(suffix < 10, F.lit(2))
        .otherwise(F.lit(1))
    )
    return docs.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(1), weight)).alias("epoch"),
    ).withColumn("epoch", F.col("epoch").cast("long"))


@register(
    "geo04_point_in_polygon",
    """
    WITH rect AS (
        SELECT 'NTA' || n_nationkey AS ntacode,
               (n_nationkey % 5) * 10 AS x0,
               (n_nationkey % 5) * 10 + 8 AS x1,
               (n_nationkey // 5) * 10 AS y0,
               (n_nationkey // 5) * 10 + 8 AS y1
        FROM nation
    ),
    pts AS (
        SELECT c_custkey,
               (c_custkey % 50) + 0.5 AS px,
               ((c_custkey * 7) % 50) + 0.5 AS py
        FROM customer
    )
    SELECT p.c_custkey, r.ntacode
    FROM pts p
    LEFT JOIN rect r
      ON p.px > r.x0 AND p.px < r.x1 AND p.py > r.y0 AND p.py < r.y1
    """,
    doc="WKT point-in-polygon tagging (the analytic half of S6 the "
        "boundaries dataset feeds): polygon WKT strings are parsed "
        "with pure string/array expressions (operators/geo.py::"
        "parse_wkt_polygon) and containment is ray-casting as ONE "
        "codegen'd zip_with+aggregate expression — no UDF, no "
        "geometry library. Polygons (metadata-scale, like the ~200 "
        "real NTAs) BROADCAST; the point side never shuffles. The "
        "oracle can't ray-cast, so the fixture polygons are axis-"
        "aligned rectangles whose containment the oracle states as "
        "bounds arithmetic — the Spark side still runs the fully "
        "general parser+ray-cast; agreement proves the general "
        "machinery on geometry where an independent decision "
        "procedure exists. Points sit at .5 offsets so no point ever "
        "lies on an edge (ray-casting's undefined boundary).",
    tags=("geo", "join"),
)
def geo04(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.geo import (
        tag_points_with_polygons,
    )

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nk = F.col("n_nationkey")
    x0 = (nk % 5) * 10
    y0 = (nk / 5).cast("int") * 10
    sx0, sx1 = x0.cast("string"), (x0 + 8).cast("string")
    sy0, sy1 = y0.cast("string"), (y0 + 8).cast("string")
    polys = nation.select(
        F.concat(F.lit("NTA"), nk.cast("string")).alias("ntacode"),
        F.concat(
            F.lit("POLYGON (("),
            sx0, F.lit(" "), sy0, F.lit(", "),
            sx1, F.lit(" "), sy0, F.lit(", "),
            sx1, F.lit(" "), sy1, F.lit(", "),
            sx0, F.lit(" "), sy1, F.lit(", "),
            sx0, F.lit(" "), sy0,
            F.lit("))"),
        ).alias("geom_wkt"),
    )
    ck = F.col("c_custkey")
    points = customer.select(
        "c_custkey",
        ((ck % 50) + 0.5).alias("x"),
        (((ck * 7) % 50) + 0.5).alias("y"),
    )
    return tag_points_with_polygons(points, polys).select(
        "c_custkey", "ntacode"
    )


@register(
    "geo05_polygon_intersection",
    """
    WITH rect AS (
        SELECT 'NTA' || n_nationkey AS ntacode,
               (n_nationkey % 5) * 10 AS x0,
               (n_nationkey % 5) * 10 + 8 AS x1,
               (n_nationkey // 5) * 10 AS y0,
               (n_nationkey // 5) * 10 + 8 AS y1
        FROM nation
    ),
    lot AS (
        SELECT c_custkey,
               (c_custkey % 50) + 0.25 AS x0,
               (c_custkey % 50) + 1.75 AS x1,
               ((c_custkey * 7) % 50) + 0.25 AS y0,
               ((c_custkey * 7) % 50) + 1.75 AS y1
        FROM customer
    )
    SELECT l.c_custkey, r.ntacode
    FROM lot l
    JOIN rect r
      ON l.x0 < r.x1 AND r.x0 < l.x1 AND l.y0 < r.y1 AND r.y0 < l.y1
    """,
    doc="Polygon-POLYGON intersection join (the last §2 capability "
        "the reference held over this repo: it answers these with "
        "PostGIS ST_Intersects on the boundaries table). The Spark "
        "side runs the fully general machinery — WKT parse, bbox "
        "short-circuit, then edge proper-crossing (double-orientation "
        "sign test) OR mutual-containment as ONE nested-HOF codegen'd "
        "predicate (operators/geo.py::polygons_intersect); boundary "
        "polygons broadcast, lot polygons never shuffle. The oracle "
        "can't cross edges, so the fixture rings are axis-aligned "
        "rectangles whose intersection the oracle states as bounds "
        "arithmetic — agreement proves the general predicate on "
        "geometry with an independent decision procedure. Lots are "
        "1.5-unit squares at .25 offsets against integer-bounded "
        "districts, so the fixture exercises all three branches "
        "(edge-cross, containment, disjoint) and no boundaries ever "
        "touch exactly (the predicate's measure-zero undefined "
        "case).",
    tags=("geo", "join"),
)
def geo05(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.geo import (
        polygon_intersection_join,
    )

    districts, lots = _district_lot_fixture(spark, sf_dir)
    # dedup_geoms (r14): the streamed lot side tiles 50 ways — the
    # broadcast predicate evaluates once per distinct lot shape.
    return polygon_intersection_join(
        districts, lots, wkt_a="district_wkt", wkt_b="lot_wkt",
        dedup_geoms=True,
    ).select("c_custkey", "ntacode")


def _district_lot_fixture(spark, sf_dir):
    """Shared geo05/geo06 WKT fixture: nation → 8-unit integer-bound
    district squares on a 10-unit grid; customer → 1.5-unit lot
    squares at .25 offsets (quarter-aligned coordinates are exact in
    binary floating point, so clip arithmetic is reproducible
    cross-engine)."""

    def rect_wkt(sx0, sy0, sx1, sy1):
        return F.concat(
            F.lit("POLYGON (("),
            sx0, F.lit(" "), sy0, F.lit(", "),
            sx1, F.lit(" "), sy0, F.lit(", "),
            sx1, F.lit(" "), sy1, F.lit(", "),
            sx0, F.lit(" "), sy1, F.lit(", "),
            sx0, F.lit(" "), sy0,
            F.lit("))"),
        )

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nk = F.col("n_nationkey")
    x0 = (nk % 5) * 10
    y0 = (nk / 5).cast("int") * 10
    districts = nation.select(
        F.concat(F.lit("NTA"), nk.cast("string")).alias("ntacode"),
        rect_wkt(
            x0.cast("string"), y0.cast("string"),
            (x0 + 8).cast("string"), (y0 + 8).cast("string"),
        ).alias("district_wkt"),
    )
    ck = F.col("c_custkey")
    lx0 = (ck % 50) + 0.25
    ly0 = ((ck * 7) % 50) + 0.25
    lots = customer.select(
        "c_custkey",
        rect_wkt(
            lx0.cast("string"), ly0.cast("string"),
            (lx0 + 1.5).cast("string"), (ly0 + 1.5).cast("string"),
        ).alias("lot_wkt"),
    )
    return districts, lots


@register(
    "geo06_polygon_clip_area",
    """
    WITH rect AS (
        SELECT 'NTA' || n_nationkey AS ntacode,
               (n_nationkey % 5) * 10 AS x0,
               (n_nationkey % 5) * 10 + 8 AS x1,
               (n_nationkey // 5) * 10 AS y0,
               (n_nationkey // 5) * 10 + 8 AS y1
        FROM nation
    ),
    lot AS (
        SELECT c_custkey,
               (c_custkey % 50) + 0.25 AS x0,
               (c_custkey % 50) + 1.75 AS x1,
               ((c_custkey * 7) % 50) + 0.25 AS y0,
               ((c_custkey * 7) % 50) + 1.75 AS y1
        FROM customer
    )
    SELECT l.c_custkey, r.ntacode,
           ROUND((LEAST(l.x1, r.x1) - GREATEST(l.x0, r.x0)) *
                 (LEAST(l.y1, r.y1) - GREATEST(l.y0, r.y0)), 6)
               AS clip_area
    FROM lot l
    JOIN rect r
      ON l.x0 < r.x1 AND r.x0 < l.x1 AND l.y0 < r.y1 AND r.y0 < l.y1
    """,
    doc="Polygon intersection AREA — geometry algebra, not just the "
        "geo05 predicate: every lot ring is CLIPPED to each "
        "bbox-overlapping district ring with Sutherland–Hodgman "
        "expressed as one Catalyst fold (F.aggregate over the convex "
        "clip's edges; each step rebuilds the ring via zip_with + "
        "flatten), then measured with a shoelace aggregate "
        "(operators/geo.py convex_clip_ring_pre/ring_area) — no UDF, no "
        "geometry library, clip rings broadcast, the lot side never "
        "shuffles (a billion-parcel clip is a map-only stage). The "
        "oracle states rect∩rect area as bounds arithmetic — an "
        "independent decision procedure for the general clip on "
        "axis-aligned fixtures (the general path is unit-tested on "
        "triangles/diamonds/CW rings); quarter-aligned coordinates "
        "make both engines' doubles exact, area rounded 6dp.",
    tags=("geo", "join"),
)
def geo06(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.geo import (
        polygon_clip_area_join,
    )

    districts, lots = _district_lot_fixture(spark, sf_dir)
    # dedup_geoms (r14): 15k lots tile over 50 distinct shapes —
    # the clip folds run once per distinct (lot, district) pair.
    return polygon_clip_area_join(
        lots, districts, wkt_col="lot_wkt", clip_wkt_col="district_wkt",
        dedup_geoms=True,
    ).select("c_custkey", "ntacode", "clip_area")


def _parcel_fixture(spark, sf_dir):
    """orders → 0.75-unit parcel squares at EIGHTH offsets on a
    500-unit axis: fractional edge parts {0.125, 0.875} are disjoint
    from the lot fixture's {0.25, 0.75}, so no parcel edge ever
    exactly touches a lot edge (the predicate's measure-zero
    undefined case), and eighths are exact in binary floating point.
    The 500-unit domain keeps the pair count sweep-sized: only
    parcels landing in the lots' [0, 52]² corner can intersect."""

    def rect_wkt(sx0, sy0, sx1, sy1):
        return F.concat(
            F.lit("POLYGON (("),
            sx0, F.lit(" "), sy0, F.lit(", "),
            sx1, F.lit(" "), sy0, F.lit(", "),
            sx1, F.lit(" "), sy1, F.lit(", "),
            sx0, F.lit(" "), sy1, F.lit(", "),
            sx0, F.lit(" "), sy0,
            F.lit("))"),
        )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ok = F.col("o_orderkey")
    px0 = (ok % 500) + 0.125
    py0 = ((ok * 11) % 500) + 0.125
    return orders.select(
        "o_orderkey",
        rect_wkt(
            px0.cast("string"), py0.cast("string"),
            (px0 + 0.75).cast("string"), (py0 + 0.75).cast("string"),
        ).alias("parcel_wkt"),
    )


@register(
    "geo07_binned_polygon_join",
    """
    WITH lot AS (
        SELECT c_custkey,
               (c_custkey % 50) + 0.25 AS x0,
               (c_custkey % 50) + 1.75 AS x1,
               ((c_custkey * 7) % 50) + 0.25 AS y0,
               ((c_custkey * 7) % 50) + 1.75 AS y1
        FROM customer
    ),
    par AS (
        SELECT o_orderkey,
               (o_orderkey % 500) + 0.125 AS x0,
               (o_orderkey % 500) + 0.875 AS x1,
               ((o_orderkey * 11) % 500) + 0.125 AS y0,
               ((o_orderkey * 11) % 500) + 0.875 AS y1
        FROM orders
    )
    SELECT l.c_custkey, p.o_orderkey
    FROM lot l
    JOIN par p
      ON l.x0 < p.x1 AND p.x0 < l.x1 AND l.y0 < p.y1 AND p.y0 < l.y1
    """,
    doc="DATA-SCALE x DATA-SCALE polygon intersection join — the "
        "spatial ask polygon_intersection_join refuses (it requires "
        "a broadcastable side): customer lot rings against orders "
        "parcel rings, both corpus-sized. Both ring sets bin into "
        "bbox grid cells (cell edge auto-derived as the largest bbox "
        "dimension), the join is ONE shuffle_hash-hinted equi-join "
        "on the cell key — NO broadcast of either side, no "
        "cartesian, candidate volume tracks local density — and "
        "cross-cell duplicate hits are impossible by construction "
        "(a pair is evaluated only in the canonical cell holding its "
        "bbox-intersection corner: no distinct, no second shuffle). "
        "The exact edge-cross/containment predicate runs residually "
        "behind the geo06 pushdown barrier. Oracle: rectangle bounds "
        "arithmetic (geo05's independent-decision-procedure "
        "pattern); eighth-offset parcels never exactly touch "
        "quarter-offset lots. "
        "operators/geo.py polygon_intersection_join_binned.",
    tags=("geo", "join"),
)
def geo07(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.geo import (
        polygon_intersection_join_binned,
    )

    _, lots = _district_lot_fixture(spark, sf_dir)
    parcels = _parcel_fixture(spark, sf_dir)
    # dedup_geoms (r14): the fixtures tile — 15k lots share 50
    # distinct shapes, 150k parcels share 500 — so the bin + exact
    # predicate run once per distinct WKT pair (guide §8).
    return polygon_intersection_join_binned(
        lots, parcels, wkt_a="lot_wkt", wkt_b="parcel_wkt",
        dedup_geoms=True,
    ).select("c_custkey", "o_orderkey")


def _donut_district_fixture(spark, sf_dir):
    """nation → MULTIPOLYGON districts with a HOLE and an EXCLAVE:
    outer 8-unit square on the 10-grid, hole = the central 2-unit
    square (3..5), plus a detached 1.25-unit square at EIGHTH offsets
    in the inter-district gap — real NTA/borough geometry's shape
    (multi-ring, holed), with every ring an axis-aligned rectangle so
    the DuckDB oracle can state containment/intersection/area as
    bounds arithmetic (the geo04/05/06 independent-decision-procedure
    pattern). Eighth offsets never exactly touch the quarter-offset
    lots or the half-offset points."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    nk = F.col("n_nationkey")
    x0 = (nk % 5) * 10
    y0 = (nk / 5).cast("int") * 10

    def ring(ax0, ay0, ax1, ay1):
        s = [c.cast("string") for c in (ax0, ay0, ax1, ay1)]
        return F.concat(
            F.lit("("),
            s[0], F.lit(" "), s[1], F.lit(", "),
            s[2], F.lit(" "), s[1], F.lit(", "),
            s[2], F.lit(" "), s[3], F.lit(", "),
            s[0], F.lit(" "), s[3], F.lit(", "),
            s[0], F.lit(" "), s[1],
            F.lit(")"),
        )

    wkt = F.concat(
        F.lit("MULTIPOLYGON (("),
        ring(x0, y0, x0 + 8, y0 + 8),
        F.lit(", "),
        ring(x0 + 3, y0 + 3, x0 + 5, y0 + 5),
        F.lit("), ("),
        ring(x0 + 8.125, y0 + 0.125, x0 + 9.375, y0 + 1.375),
        F.lit("))"),
    )
    return nation.select(
        F.concat(F.lit("NTA"), nk.cast("string")).alias("ntacode"),
        wkt.alias("district_wkt"),
    )


# shared donut-district bounds for the geo08/09/10 oracles
_DONUT_SQL = """
    rect AS (
        SELECT 'NTA' || n_nationkey AS ntacode,
               (n_nationkey % 5) * 10 AS ox0,
               (n_nationkey % 5) * 10 + 8 AS ox1,
               (n_nationkey // 5) * 10 AS oy0,
               (n_nationkey // 5) * 10 + 8 AS oy1,
               (n_nationkey % 5) * 10 + 3 AS hx0,
               (n_nationkey % 5) * 10 + 5 AS hx1,
               (n_nationkey // 5) * 10 + 3 AS hy0,
               (n_nationkey // 5) * 10 + 5 AS hy1,
               (n_nationkey % 5) * 10 + 8.125 AS ex0,
               (n_nationkey % 5) * 10 + 9.375 AS ex1,
               (n_nationkey // 5) * 10 + 0.125 AS ey0,
               (n_nationkey // 5) * 10 + 1.375 AS ey1
        FROM nation
    )
"""


@register(
    "geo08_multipolygon_containment",
    f"""
    WITH {_DONUT_SQL},
    pts AS (
        SELECT c_custkey,
               (c_custkey % 50) + 0.5 AS px,
               ((c_custkey * 7) % 50) + 0.5 AS py
        FROM customer
    )
    SELECT p.c_custkey, r.ntacode
    FROM pts p
    LEFT JOIN rect r
      ON ((p.px > r.ox0 AND p.px < r.ox1 AND p.py > r.oy0
           AND p.py < r.oy1)
          AND NOT (p.px > r.hx0 AND p.px < r.hx1 AND p.py > r.hy0
                   AND p.py < r.hy1))
         OR (p.px > r.ex0 AND p.px < r.ex1 AND p.py > r.ey0
             AND p.py < r.ey1)
    """,
    doc="Point containment in HOLED MULTIPOLYGON districts — geo04 "
        "on real-world boundary geometry (NTA/borough rings ship as "
        "MULTIPOLYGON with interior rings; the reference's PostGIS "
        "handles them natively): containment = inside some outer "
        "ring AND NOT inside that polygon's holes, as one nested-"
        "exists codegen'd expression over the parsed "
        "polygons→rings→vertices geometry "
        "(operators/geo.py parse_wkt_geometry/_mp_contains_edges). "
        "Boundaries broadcast; points never shuffle. Oracle: donut "
        "bounds arithmetic (in-outer AND NOT in-hole, OR in-exclave) "
        "— an independent decision procedure on rectangle rings for "
        "the fully general ray-cast machinery.",
    tags=("geo", "join"),
)
def geo08(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.geo import (
        tag_points_with_multipolygons,
    )

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    ck = F.col("c_custkey")
    points = customer.select(
        "c_custkey",
        ((ck % 50) + 0.5).alias("x"),
        (((ck * 7) % 50) + 0.5).alias("y"),
    )
    polys = _donut_district_fixture(spark, sf_dir)
    return tag_points_with_multipolygons(
        points, polys, wkt_col="district_wkt"
    ).select("c_custkey", "ntacode")


@register(
    "geo09_multipolygon_intersection",
    f"""
    WITH {_DONUT_SQL},
    lot AS (
        SELECT c_custkey,
               (c_custkey % 50) + 0.25 AS x0,
               (c_custkey % 50) + 1.75 AS x1,
               ((c_custkey * 7) % 50) + 0.25 AS y0,
               ((c_custkey * 7) % 50) + 1.75 AS y1
        FROM customer
    )
    SELECT l.c_custkey, r.ntacode
    FROM lot l
    JOIN rect r
      ON ((l.x0 < r.ox1 AND r.ox0 < l.x1 AND l.y0 < r.oy1
           AND r.oy0 < l.y1)
          AND NOT (r.hx0 < l.x0 AND l.x1 < r.hx1 AND r.hy0 < l.y0
                   AND l.y1 < r.hy1))
         OR (l.x0 < r.ex1 AND r.ex0 < l.x1 AND l.y0 < r.ey1
             AND r.ey0 < l.y1)
    """,
    doc="Polygon–MULTIPOLYGON intersection with holes — geo05 on "
        "real boundary geometry: lots wholly inside a district's "
        "hole do NOT intersect it; lots crossing the hole's boundary "
        "or its exclave do. One predicate: any ring edge of A "
        "properly crosses any ring edge of B (crossing a hole "
        "boundary enters the interior on one side), else a "
        "representative vertex decides by holed containment "
        "(operators/geo.py _multipolygons_intersect_edges). Boundary "
        "side broadcasts; lots never shuffle. Oracle: donut bounds "
        "algebra — overlap(outer) AND NOT contained-in(hole), OR "
        "overlap(exclave); the fixture places lots fully inside "
        "holes (hole branch), straddling hole edges (cross branch) "
        "and over the exclave (multi-part branch).",
    tags=("geo", "join"),
)
def geo09(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.geo import (
        multipolygon_intersection_join,
    )

    _, lots = _district_lot_fixture(spark, sf_dir)
    districts = _donut_district_fixture(spark, sf_dir)
    # dedup_geoms (r14): the streamed lot side tiles 50 ways — the
    # broadcast predicate evaluates once per distinct lot shape.
    return multipolygon_intersection_join(
        districts, lots, wkt_a="district_wkt", wkt_b="lot_wkt",
        dedup_geoms=True,
    ).select("c_custkey", "ntacode")


@register(
    "geo10_multipolygon_clip_area",
    f"""
    WITH {_DONUT_SQL},
    lot AS (
        SELECT c_custkey,
               (c_custkey % 50) + 0.25 AS x0,
               (c_custkey % 50) + 1.75 AS x1,
               ((c_custkey * 7) % 50) + 0.25 AS y0,
               ((c_custkey * 7) % 50) + 1.75 AS y1
        FROM customer
    ),
    terms AS (
        SELECT l.c_custkey, r.ntacode,
               GREATEST(0, LEAST(l.x1, r.ox1) - GREATEST(l.x0, r.ox0))
                 * GREATEST(0, LEAST(l.y1, r.oy1) - GREATEST(l.y0, r.oy0))
               - GREATEST(0, LEAST(l.x1, r.hx1) - GREATEST(l.x0, r.hx0))
                 * GREATEST(0, LEAST(l.y1, r.hy1) - GREATEST(l.y0, r.hy0))
               + GREATEST(0, LEAST(l.x1, r.ex1) - GREATEST(l.x0, r.ex0))
                 * GREATEST(0, LEAST(l.y1, r.ey1) - GREATEST(l.y0, r.ey0))
                   AS area
        FROM lot l CROSS JOIN rect r
    )
    SELECT c_custkey, ntacode, ROUND(area, 6) AS clip_area
    FROM terms WHERE area > 0
    """,
    doc="Intersection AREA against HOLED MULTIPOLYGON clips — geo06 "
        "on real boundary geometry, and a deliberately RELATIONAL "
        "decomposition: folding polygons→holes→clip inside one "
        "Catalyst expression measured ~110 s of fixed plan/codegen "
        "cost and OOM'd a 1 GiB driver, so the inclusion–exclusion "
        "moves into the relational layer — the broadcast clip side "
        "explodes to signed rings (outer +1, hole −1), each "
        "candidate runs the proven single-level Sutherland–Hodgman "
        "fold (fenced into its own column so CollapseProject cannot "
        "inline ~8 copies of it), and one map-side-combinable "
        "groupBy sums sign*area as int64 micro-units (the s11 "
        "fixed-point rule — aggregation-order independent). Oracle: "
        "rect∩rect bounds algebra, area(outer) − area(hole) + "
        "area(exclave). operators/geo.py multipolygon_clip_area_join.",
    tags=("geo", "join"),
)
def geo10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.geo import (
        multipolygon_clip_area_join,
    )

    _, lots = _district_lot_fixture(spark, sf_dir)
    districts = _donut_district_fixture(spark, sf_dir).select(
        "ntacode", F.col("district_wkt").alias("clip_wkt")
    )
    return multipolygon_clip_area_join(
        lots, districts, wkt_col="lot_wkt"
    ).select("c_custkey", "ntacode", "clip_area")


def _l_wkt(sx0, sy0, size, notch):
    """An L-shape (square minus its top-right quadrant) as WKT —
    CCW: (x0,y0) (x1,y0) (x1,ym) (xm,ym) (xm,y1) (x0,y1).  Shared by
    the geo11 (broadcast clip) and geo14 (data×data) fixtures."""
    x0, y0 = sx0, sy0
    x1, y1 = sx0 + size, sy0 + size
    xm, ym = sx0 + (size - notch), sy0 + (size - notch)
    s = [c.cast("string") for c in (x0, y0, x1, y1, xm, ym)]
    return F.concat(
        F.lit("POLYGON (("),
        s[0], F.lit(" "), s[1], F.lit(", "),
        s[2], F.lit(" "), s[1], F.lit(", "),
        s[2], F.lit(" "), s[5], F.lit(", "),
        s[4], F.lit(" "), s[5], F.lit(", "),
        s[4], F.lit(" "), s[3], F.lit(", "),
        s[0], F.lit(" "), s[3], F.lit(", "),
        s[0], F.lit(" "), s[1],
        F.lit("))"),
    )


def _l_shape_fixture(spark, sf_dir):
    """CONCAVE fixture for geo11: both sides are L-shapes (a square
    with its top-right quadrant notched out) — districts: 8-unit
    squares on the 10-grid minus a 4×4 notch (integer bounds); lots:
    1.5-unit squares at quarter offsets minus a 1×1 notch (notch
    edges land on .75 offsets, so no lot edge ever coincides with a
    district edge — the measure-zero undefined case stays out, and
    quarter-aligned coordinates are exact in binary floating
    point). Lots spread over a 150-unit domain (the geo07
    density-invariance move): only the [0, 52]² corner overlaps the
    districts, so the candidate-pair count stays sweep-sized — pair
    density is a fixture choice, not an operator property."""
    l_wkt = _l_wkt
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nk = F.col("n_nationkey")
    x0 = (nk % 5) * 10
    y0 = (nk / 5).cast("int") * 10
    districts = nation.select(
        F.concat(F.lit("NTA"), nk.cast("string")).alias("ntacode"),
        l_wkt(x0, y0, F.lit(8), F.lit(4)).alias("clip_wkt"),
    )
    ck = F.col("c_custkey")
    lx0 = (ck % 150) + 0.25
    ly0 = ((ck * 7) % 150) + 0.25
    lots = customer.select(
        "c_custkey",
        l_wkt(lx0, ly0, F.lit(1.5), F.lit(1.0)).alias("lot_wkt"),
    )
    return districts, lots


@register(
    "geo11_concave_clip_area",
    """
    WITH dist AS (
        SELECT 'NTA' || n_nationkey AS ntacode,
               (n_nationkey % 5) * 10 AS x0,
               (n_nationkey % 5) * 10 + 8 AS x1,
               (n_nationkey // 5) * 10 AS y0,
               (n_nationkey // 5) * 10 + 8 AS y1,
               (n_nationkey % 5) * 10 + 4 AS nx0,
               (n_nationkey // 5) * 10 + 4 AS ny0
        FROM nation
    ),
    lot AS (
        SELECT c_custkey,
               (c_custkey % 150) + 0.25 AS x0,
               (c_custkey % 150) + 1.75 AS x1,
               ((c_custkey * 7) % 150) + 0.25 AS y0,
               ((c_custkey * 7) % 150) + 1.75 AS y1,
               (c_custkey % 150) + 0.75 AS nx0,
               ((c_custkey * 7) % 150) + 0.75 AS ny0
        FROM customer
    ),
    terms AS (
        SELECT l.c_custkey, d.ntacode,
            GREATEST(0, LEAST(l.x1, d.x1) - GREATEST(l.x0, d.x0))
              * GREATEST(0, LEAST(l.y1, d.y1) - GREATEST(l.y0, d.y0))
          - GREATEST(0, LEAST(l.x1, d.x1) - GREATEST(l.x0, d.nx0))
              * GREATEST(0, LEAST(l.y1, d.y1) - GREATEST(l.y0, d.ny0))
          - GREATEST(0, LEAST(l.x1, d.x1) - GREATEST(l.nx0, d.x0))
              * GREATEST(0, LEAST(l.y1, d.y1) - GREATEST(l.ny0, d.y0))
          + GREATEST(0, LEAST(l.x1, d.x1) - GREATEST(l.nx0, d.nx0))
              * GREATEST(0, LEAST(l.y1, d.y1) - GREATEST(l.ny0, d.ny0))
              AS area
        FROM lot l CROSS JOIN dist d
    )
    SELECT c_custkey, ntacode, ROUND(area, 6) AS clip_area
    FROM terms WHERE area > 0
    """,
    doc="CONCAVE ∩ CONCAVE intersection area — the last PostGIS-"
        "parity geometry gap (geo06/geo10 require a convex clip "
        "side): L-shaped lots clipped by L-shaped districts. "
        "Spark-first algebra instead of a Weiler–Atherton vertex "
        "walk: each side's indicator expands into SIGNED origin-fan "
        "triangles (1_poly = Σ w·1_tri, the winding-number fan "
        "identity — works for holes and multiparts via the signed-"
        "ring decomposition), so area(A∩B) = Σ wᵃwᵇ·area(triᵃ∩triᵇ) "
        "where every term is convex∩convex — the proven geo06 "
        "Sutherland–Hodgman fold, fenced from CollapseProject; "
        "terms quantize to int64 at 1e-8 so the ± cancellation is "
        "exact and order-independent. Clip side broadcasts; two "
        "explodes give |Ea|·|Eb| rows per bbox candidate; one "
        "map-side-combinable groupBy. Oracle: rect inclusion–"
        "exclusion — (R−N)∩(R−N) expands to four rect∩rect bounds "
        "terms, an independent decision procedure on the L fixtures "
        "(the general path is unit-tested on U-shapes, donuts, CW "
        "windings). operators/geo.py concave_clip_area_join.",
    tags=("geo", "join"),
)
def geo11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.geo import (
        concave_clip_area_join,
    )

    districts, lots = _l_shape_fixture(spark, sf_dir)
    return concave_clip_area_join(
        lots, districts, wkt_col="lot_wkt"
    ).select("c_custkey", "ntacode", "clip_area")


@register(
    "geo12_concave_union_area",
    """
    WITH dist AS (
        SELECT 'NTA' || n_nationkey AS ntacode,
               (n_nationkey % 5) * 10 AS x0,
               (n_nationkey % 5) * 10 + 8 AS x1,
               (n_nationkey // 5) * 10 AS y0,
               (n_nationkey // 5) * 10 + 8 AS y1,
               (n_nationkey % 5) * 10 + 4 AS nx0,
               (n_nationkey // 5) * 10 + 4 AS ny0
        FROM nation
    ),
    lot AS (
        SELECT c_custkey,
               (c_custkey % 150) + 0.25 AS x0,
               (c_custkey % 150) + 1.75 AS x1,
               ((c_custkey * 7) % 150) + 0.25 AS y0,
               ((c_custkey * 7) % 150) + 0.75 AS ny0,
               ((c_custkey * 7) % 150) + 1.75 AS y1,
               (c_custkey % 150) + 0.75 AS nx0
        FROM customer
    ),
    pairs AS (
        SELECT l.c_custkey, d.ntacode,
            GREATEST(0, LEAST(l.x1, d.x1) - GREATEST(l.x0, d.x0))
              * GREATEST(0, LEAST(l.y1, d.y1) - GREATEST(l.y0, d.y0))
          - GREATEST(0, LEAST(l.x1, d.x1) - GREATEST(l.x0, d.nx0))
              * GREATEST(0, LEAST(l.y1, d.y1) - GREATEST(l.y0, d.ny0))
          - GREATEST(0, LEAST(l.x1, d.x1) - GREATEST(l.nx0, d.x0))
              * GREATEST(0, LEAST(l.y1, d.y1) - GREATEST(l.ny0, d.y0))
          + GREATEST(0, LEAST(l.x1, d.x1) - GREATEST(l.nx0, d.nx0))
              * GREATEST(0, LEAST(l.y1, d.y1) - GREATEST(l.ny0, d.ny0))
              AS inter
        FROM lot l JOIN dist d
          ON l.x0 < d.x1 AND d.x0 < l.x1 AND l.y0 < d.y1 AND d.y0 < l.y1
    )
    SELECT c_custkey, ntacode,
           ROUND(1.25 + 48.0 - inter, 6) AS union_area
    FROM pairs
    """,
    doc="Pairwise UNION area over concave pairs — the ST_Union-area "
        "analog by inclusion–exclusion: area(A) + area(B) − "
        "area(A∩B), the areas from the signed-ring shoelace fold and "
        "the intersection from geo11's fan-triangle machinery; all "
        "bbox-candidate pairs emitted (disjoint candidates get the "
        "plain sum). Oracle: L areas are closed form (2.25−1 and "
        "64−16) and the intersection is geo11's four-term rect "
        "algebra. operators/geo.py concave_union_area_join.",
    tags=("geo", "join"),
)
def geo12(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.geo import (
        concave_union_area_join,
    )

    districts, lots = _l_shape_fixture(spark, sf_dir)
    return concave_union_area_join(
        lots, districts, wkt_col="lot_wkt"
    ).select("c_custkey", "ntacode", "union_area")


@register(
    "geo13_convex_buffer",
    """
    SELECT c_custkey,
           (((c_custkey % 4) + 1) * 0.125)::DOUBLE AS r,
           ROUND((1.5 + 2 * ((c_custkey % 4) + 1) * 0.125) ^ 2,
                 6)::DOUBLE AS buf_area,
           ROUND((c_custkey % 50) + 0.25
                 - ((c_custkey % 4) + 1) * 0.125, 6)::DOUBLE AS min_x,
           ROUND(((c_custkey * 7) % 50) + 0.25
                 - ((c_custkey % 4) + 1) * 0.125, 6)::DOUBLE AS min_y
    FROM customer
    """,
    doc="ST_Buffer's polygon-offset core (miter join, exact "
        "arithmetic — no arcs; PostGIS's round joins are themselves "
        "quad_segs k-gon approximations) for CONVEX rings: every "
        "edge's supporting line moves outward by a per-row radius "
        "and consecutive offset lines re-intersect, all as one "
        "Catalyst zip_with over (prev-edge, edge) pairs — map-only, "
        "no UDF, no geometry library; the result ring feeds straight "
        "back into ring_area / ray-cast containment (within-distance "
        "joins) / the clip operators. The fold is fenced behind "
        "spark_partition_id so ring_area's ~8 structural references "
        "bind to an attribute (the geo06 CollapseProject lesson). "
        "Oracle: a rectangle's miter buffer is the rectangle grown "
        "by r on each side — closed-form area and bbox. General "
        "concave/arc buffers remain the documented Sedona seam. "
        "operators/geo.py with_miter_buffer.",
    tags=("geo",),
)
def geo13(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.geo import (
        by_geometry_class,
        ring_area,
        with_miter_buffer,
    )

    _, lots = _district_lot_fixture(spark, sf_dir)
    radius = (F.col("__rk") + 1) * 0.125
    xs = F.transform(F.col("__buf"), lambda p: p["x"])
    ys = F.transform(F.col("__buf"), lambda p: p["y"])

    # every output but the id is a pure function of (lot_wkt, radius
    # class): the fixture tiles 15k lots over 100 classes, so the
    # parse + offset-intersect fold runs once per class, keyed on the
    # integer class rather than the derived double radius
    def op(classes: DataFrame) -> DataFrame:
        return with_miter_buffer(
            classes, "lot_wkt", radius, out_col="__buf"
        ).select(
            "lot_wkt",
            "__rk",
            F.round(ring_area(F.col("__buf")), 6).alias("buf_area"),
            F.round(F.array_min(xs), 6).alias("min_x"),
            F.round(F.array_min(ys), 6).alias("min_y"),
        )

    keyed = lots.select(
        "c_custkey", "lot_wkt", (F.col("c_custkey") % 4).alias("__rk")
    )
    return by_geometry_class(op, (keyed, ["lot_wkt", "__rk"])).select(
        "c_custkey", radius.alias("r"), "buf_area", "min_x", "min_y"
    )


def _l_parcel_fixture(spark, sf_dir):
    """The DATA-SCALE concave clip side for geo14: orders → 0.75-unit
    L-shapes (0.375 notch) at EIGHTH offsets over a 600-unit domain.
    Edge fractional classes {.125, .5, .875} are disjoint from the
    lot fixture's {.25, .75} (no coincident edges — the measure-zero
    case stays out; eighths are exact in binary floating point), and
    the 600-unit spread keeps pair density sweep-sized: only parcels
    in the lots' [0, 152]² corner can intersect."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ok = F.col("o_orderkey")
    px0 = (ok % 600) + 0.125
    py0 = ((ok * 11) % 600) + 0.125
    return orders.select(
        "o_orderkey",
        _l_wkt(px0, py0, F.lit(0.75), F.lit(0.375)).alias("parcel_wkt"),
    )


@register(
    "geo14_concave_clip_binned",
    """
    WITH lot AS (
        SELECT c_custkey,
               (c_custkey % 150) + 0.25 AS x0,
               (c_custkey % 150) + 1.75 AS x1,
               ((c_custkey * 7) % 150) + 0.25 AS y0,
               ((c_custkey * 7) % 150) + 1.75 AS y1,
               (c_custkey % 150) + 0.75 AS nx0,
               ((c_custkey * 7) % 150) + 0.75 AS ny0
        FROM customer
    ),
    par AS (
        SELECT o_orderkey,
               (o_orderkey % 600) + 0.125 AS x0,
               (o_orderkey % 600) + 0.875 AS x1,
               ((o_orderkey * 11) % 600) + 0.125 AS y0,
               ((o_orderkey * 11) % 600) + 0.875 AS y1,
               (o_orderkey % 600) + 0.5 AS nx0,
               ((o_orderkey * 11) % 600) + 0.5 AS ny0
        FROM orders
    ),
    terms AS (
        SELECT l.c_custkey, p.o_orderkey,
            GREATEST(0, LEAST(l.x1, p.x1) - GREATEST(l.x0, p.x0))
              * GREATEST(0, LEAST(l.y1, p.y1) - GREATEST(l.y0, p.y0))
          - GREATEST(0, LEAST(l.x1, p.x1) - GREATEST(l.x0, p.nx0))
              * GREATEST(0, LEAST(l.y1, p.y1) - GREATEST(l.y0, p.ny0))
          - GREATEST(0, LEAST(l.x1, p.x1) - GREATEST(l.nx0, p.x0))
              * GREATEST(0, LEAST(l.y1, p.y1) - GREATEST(l.ny0, p.y0))
          + GREATEST(0, LEAST(l.x1, p.x1) - GREATEST(l.nx0, p.nx0))
              * GREATEST(0, LEAST(l.y1, p.y1) - GREATEST(l.ny0, p.ny0))
              AS area
        FROM lot l JOIN par p
          ON l.x0 < p.x1 AND p.x0 < l.x1 AND l.y0 < p.y1 AND p.y0 < l.y1
    )
    SELECT c_custkey, o_orderkey, ROUND(area, 6) AS clip_area
    FROM terms WHERE area > 0
    """,
    doc="DATA-SCALE × DATA-SCALE concave intersection area — geo11's "
        "fan-triangle algebra WITHOUT its broadcast clip side (r10 "
        "verdict #5): L-shaped customer lots × L-shaped orders "
        "parcels, both corpus-sized. Candidate discovery is geo07's "
        "grid binning verbatim (bbox cell explode, ONE shuffle_hash "
        "equi-join on the cell key — neither side broadcasts, "
        "pytest-pinned on the physical plan — canonical-cell dedup, "
        "no distinct pass); per-candidate area is geo11's signed "
        "fan-triangle sum through the SHARED _fan_clip_area_tail "
        "(one code home, the miter-form lesson). Oracle: the "
        "four-term rect inclusion–exclusion (Ra∩Rb − Ra∩Nb − Na∩Rb "
        "+ Na∩Nb) over a bbox-overlap join — an independent decision "
        "procedure on the L fixtures; eighth-offset parcels never "
        "exactly touch quarter-offset lots. operators/geo.py "
        "concave_clip_area_join_binned.",
    tags=("geo", "join"),
)
def geo14(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.geo import (
        concave_clip_area_join_binned,
    )

    _, lots = _l_shape_fixture(spark, sf_dir)
    parcels = _l_parcel_fixture(spark, sf_dir)
    return concave_clip_area_join_binned(
        lots, parcels, wkt_col="lot_wkt", clip_wkt_col="parcel_wkt"
    ).select("c_custkey", "o_orderkey", "clip_area")
