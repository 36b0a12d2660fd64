"""Geo-lite operators: haversine distance and grid-binned radius joins.

The reference stores float lat/lng on its buildings table
(/root/reference/tests/sql/wow_2021_create_bldgs_table.sql:76-77) and
de-scopes full PostGIS geometry (SURVEY.md §2.1 S6).  This module is
the attribute+coordinate path: everything a housing-analytics workload
does with *point* coordinates — distance, proximity pairs, density —
expressed with built-in column functions only (no UDFs, no Sedona
dependency), so the whole thing stays inside whole-stage codegen.

The scale pattern is the standard geospatial bin-join: snap points to
a grid whose cell edge is at least the search radius, equi-join on the
cell id with the probe side expanded to its 3x3 cell neighborhood, and
apply the exact haversine predicate residually.  That turns an
all-pairs O(n^2) proximity search into one shuffle on the cell key
with only in-neighborhood candidate pairs materialized — the same
shape Sedona/GeoMesa/BigQuery GIS use (S2/geohash cells), built here
from `floor`, `explode` and an equi-join.

The polygon joins further down run their geometry work once per
distinct footprint, not once per row: :func:`by_geometry_class` is the
one place that dedups the inputs and joins the results back.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from nycdb_k8s_loader_spark.session import memoized

EARTH_RADIUS_KM = 6371.0088  # IUGG mean Earth radius
# Degree length used for SIZING grid cells. The haversine sphere's
# true degree length is (pi/180)*R = 111.195 km; the constant here
# must be <= that or the cell edge comes out smaller than the radius
# and boundary pairs silently fall outside the 3x3 neighborhood
# (using the WGS84 equatorial 111.320 did exactly that: edge ~0.11%
# short, a 1.99898 km pair at lat 41 landed 2 cells apart). 111.0
# under-states the degree by ~0.18% — cells slightly larger than
# needed, which only adds candidates, never loses pairs, and dwarfs
# the ~1e-8 curvature slack between arc and great-circle distance.
KM_PER_DEG_SIZING = 111.0
# Backward-compat names (both intentionally the same conservative
# constant — see above; lat and lng degrees are equal on a sphere):
KM_PER_LAT_DEG = KM_PER_DEG_SIZING
KM_PER_LNG_DEG_EQUATOR = KM_PER_DEG_SIZING


def haversine_km(
    lat1: Column, lng1: Column, lat2: Column, lng2: Column
) -> Column:
    """Great-circle distance in km between two (lat, lng) points.

    Pure built-in trig — evaluated JVM-side inside codegen.  The same
    formula written in ANSI SQL (radians/sin/cos/asin/sqrt) is the
    DuckDB oracle twin; both engines evaluate it in IEEE-754 double,
    so results agree to ~1 ulp (queries that compare against a radius
    threshold must not sit exactly on it — pick thresholds with
    margin, as geo01 does).
    """
    dlat = F.radians(lat2 - lat1)
    dlng = F.radians(lng2 - lng1)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(F.radians(lat1))
        * F.cos(F.radians(lat2))
        * F.sin(dlng / 2)
        * F.sin(dlng / 2)
    )
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def cell_edge_deg(radius_km: float, max_abs_lat_deg: float) -> float:
    """Smallest grid edge (degrees) that covers ``radius_km`` in both
    axes anywhere with \\|lat\\| <= ``max_abs_lat_deg``.

    Longitude degrees shrink by cos(lat), so the edge is sized for the
    *worst* latitude in the data; with edge >= radius in both axes,
    any pair within the radius is guaranteed to fall in adjacent cells
    (3x3 neighborhood) — the correctness invariant of the bin join.
    """
    if not 0 <= max_abs_lat_deg < 89.0:
        raise ValueError("max_abs_lat_deg must be in [0, 89)")
    lat_edge = radius_km / KM_PER_DEG_SIZING
    lng_edge = radius_km / (
        KM_PER_DEG_SIZING * math.cos(math.radians(max_abs_lat_deg))
    )
    return max(lat_edge, lng_edge)


def with_grid_cell(
    df: DataFrame,
    lat: str,
    lng: str,
    edge_deg: float,
    cx: str = "cell_x",
    cy: str = "cell_y",
) -> DataFrame:
    """Snap each point to its integer grid cell (floor division)."""
    return df.withColumn(
        cx, F.floor(F.col(lng) / F.lit(edge_deg)).cast("int")
    ).withColumn(cy, F.floor(F.col(lat) / F.lit(edge_deg)).cast("int"))


def radius_self_join(
    points: DataFrame,
    id_col: str,
    lat: str,
    lng: str,
    radius_km: float,
    max_abs_lat_deg: float,
) -> DataFrame:
    """All unordered pairs of ``points`` within ``radius_km`` of each
    other: (id_a, id_b, dist_km) with id_a < id_b.

    Physical shape: one side keeps its home cell, the other explodes
    to its 3x3 neighborhood (9 rows), and the join is an *equi-join*
    on (cell_x, cell_y) — one shuffle on the cell key, candidate
    pairs bounded by local density, never O(n^2).  The exact
    haversine predicate runs residually on candidates only.  The
    id_a < id_b guard both dedupes the unordered pair and drops
    self-pairs.  At 100 TB: cells partition geographically, so skew
    follows real-world density — salt hot cells (operators/skew.py)
    if one city dominates.
    """
    edge = cell_edge_deg(radius_km, max_abs_lat_deg)
    base = with_grid_cell(points, lat, lng, edge)

    left = base.select(
        F.col(id_col).alias("id_a"),
        F.col(lat).alias("lat_a"),
        F.col(lng).alias("lng_a"),
        "cell_x",
        "cell_y",
    )
    # Probe side: each point claims its neighborhood so any true pair
    # shares at least one (cell_x, cell_y) with the build side.
    right = (
        base
        .select(
            F.col(id_col).alias("id_b"),
            F.col(lat).alias("lat_b"),
            F.col(lng).alias("lng_b"),
            F.explode(
                F.array(*[F.col("cell_x") + d for d in (-1, 0, 1)])
            ).alias("cell_x"),
            "cell_y",
        )
        .select(
            "id_b",
            "lat_b",
            "lng_b",
            "cell_x",
            F.explode(
                F.array(*[F.col("cell_y") + d for d in (-1, 0, 1)])
            ).alias("cell_y"),
        )
    )

    dist = haversine_km(
        F.col("lat_a"), F.col("lng_a"), F.col("lat_b"), F.col("lng_b")
    )
    return (
        left.hint("shuffle_hash").join(right, ["cell_x", "cell_y"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist_km", dist)
        .filter(F.col("dist_km") <= F.lit(radius_km))
        .select("id_a", "id_b", "dist_km")
    )


# --- WKT polygons: parse + point-in-polygon, pure expressions ----------------


def parse_wkt_polygon(col: Column | str) -> Column:
    """``POLYGON ((x1 y1, x2 y2, ...))`` → array<struct<x,y>> (outer
    ring only), with pure string/array expressions — no UDF, no
    geometry library. The parse handles the single-ring polygons the
    ``boundaries`` dataset ships (holes/multipolygons are the
    documented Sedona escalation path, SURVEY §2.1 S6)."""
    c = F.col(col) if isinstance(col, str) else col
    inner = F.regexp_extract(c, r"\(\(\s*([^()]*?)\s*\)\)", 1)
    pairs = F.split(inner, r"\s*,\s*")
    # try_cast + get(): junk WKT (no ring match → empty extract → ''
    # tokens, or a pair with one token) must parse to NULL
    # coordinates, not abort the job under Spark 4's default ANSI
    # cast/index semantics (the junk-row philosophy; downstream bbox
    # NULLs then drop the row from every join)
    return F.transform(
        pairs,
        lambda p: F.struct(
            F.get(F.split(F.trim(p), r"\s+"), 0)
            .try_cast("double").alias("x"),
            F.get(F.split(F.trim(p), r"\s+"), 1)
            .try_cast("double").alias("y"),
        ),
    )


def _pip_edges(px: Column, py: Column, edges: Column) -> Column:
    """Ray-casting containment over a PRECOMPUTED edge array
    (:func:`_ring_edges` output): count edges whose span crosses the
    horizontal ray from the point; odd crossings = inside. One
    allocation-free fold over the edge structs — no UDF, no shuffle.
    Points exactly ON an edge are boundary-undefined (standard for
    ray casting); callers comparing against an independent oracle
    must keep test points off edges, as geo04 does by construction.

    Join conditions are re-evaluated per CANDIDATE PAIR, so the edges
    are hoisted into each side's projection and paid once per ROW
    (r13 measure). NULL edges → NULL parity, empty edges → 0
    crossings."""
    total = F.aggregate(
        edges,
        F.lit(0),
        lambda acc, e: acc
        + (
            ((e["y1"] > py) != (e["y2"] > py))
            & (
                px
                < (e["x2"] - e["x1"])
                * (py - e["y1"])
                / (e["y2"] - e["y1"])
                + e["x1"]
            )
        ).cast("int"),
    )
    return (total % 2) == 1


def _open_ring(r: Column) -> Column:
    """Strip the WKT duplicate closing vertex if present — every ring
    consumer here is wraparound-inclusive, so open and closed inputs
    behave identically (review finding: the first cut silently
    dropped the last→first edge of an UNclosed ring)."""
    n = F.size(r)
    first, last = r[0], F.element_at(r, -1)
    closed = (first["x"] == last["x"]) & (first["y"] == last["y"])
    return F.when(closed, F.slice(r, 1, n - 1)).otherwise(r)


def _rotated(r: Column) -> Column:
    """r shifted left by one with wraparound: element i holds r[i+1],
    last holds r[0] — zip_with(r, _rotated(r)) enumerates every edge
    of an OPEN ring including the closing edge.

    Rings with fewer than 2 vertices return unchanged: a 1-vertex
    'closed' junk ring collapses to EMPTY in _open_ring and the
    slice length would go negative — a runtime abort on junk WKT,
    against the repo's junk-row philosophy (round-8 ADVICE). The
    when-guard keeps every consumer (parity, shoelace, edge lists)
    a degenerate no-op instead: empty zip_with → 0 crossings / 0
    area / no edges."""
    n = F.size(r)
    return F.when(n < 2, r).otherwise(
        F.concat(F.slice(r, 2, n - 1), F.slice(r, 1, 1))
    )


def _signed_shoelace(verts: Column) -> Column:
    """Signed shoelace sum (2× signed area), wraparound-inclusive —
    correct for open rings; a closed ring's duplicate vertex only
    adds a zero term."""
    return F.aggregate(
        F.zip_with(
            verts, _rotated(verts),
            lambda a, b: a["x"] * b["y"] - b["x"] * a["y"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _ring_edges(verts: Column) -> Column:
    """Vertex ring → edge array (struct<x1,y1,x2,y2>), wraparound
    edge included; accepts closed or open rings (opened first, so a
    closed ring yields the same edge set as before)."""
    r = _open_ring(verts)
    return F.zip_with(
        r,
        _rotated(r),
        lambda u, v: F.struct(
            u["x"].alias("x1"),
            u["y"].alias("y1"),
            v["x"].alias("x2"),
            v["y"].alias("y2"),
        ),
    )


def polygons_intersect(verts_a: Column, verts_b: Column) -> Column:
    """Polygon–polygon intersection predicate as ONE codegen'd
    expression — the capability gap the reference covers with PostGIS
    (`ST_Intersects` over the boundaries table,
    /root/reference/tests/test_load_dataset.py:46-51) closed without a
    UDF or geometry library.

    Two simple rings intersect iff (a) some edge of A properly crosses
    some edge of B, or (b) one ring wholly contains the other — and if
    NO edges cross, containment is decided by any single
    representative vertex, so the test is:

        exists(edges_a, e1 -> exists(edges_b, e2 -> proper_cross))
        OR contains(A, b[0]) OR contains(B, a[0])

    Proper crossing is the standard double-orientation sign test
    (each segment's endpoints straddle the other's supporting line,
    both products strictly negative). Nested higher-order functions
    keep the O(|A|·|B|) edge loop INSIDE the JVM expression — no
    shuffle, no Python. Exactly-touching boundaries (shared vertex,
    collinear overlap) are undefined, like ray casting's on-edge
    case — oracle fixtures keep geometry off those measure-zero
    configurations.
    """
    return _polygons_intersect_edges(
        _ring_edges(verts_a), _ring_edges(verts_b), verts_a, verts_b
    )


def _proper_cross(e1, e2) -> Column:
    """Strict double-orientation segment-crossing test over two edge
    structs — the shared core of every intersection predicate here."""
    def orient(ax, ay, bx, by, cx, cy):
        return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)

    d1 = orient(
        e1["x1"], e1["y1"], e1["x2"], e1["y2"], e2["x1"], e2["y1"]
    )
    d2 = orient(
        e1["x1"], e1["y1"], e1["x2"], e1["y2"], e2["x2"], e2["y2"]
    )
    d3 = orient(
        e2["x1"], e2["y1"], e2["x2"], e2["y2"], e1["x1"], e1["y1"]
    )
    d4 = orient(
        e2["x1"], e2["y1"], e2["x2"], e2["y2"], e1["x2"], e1["y2"]
    )
    return ((d1 * d2) < 0) & ((d3 * d4) < 0)


def _polygons_intersect_edges(
    ea: Column, eb: Column, verts_a: Column, verts_b: Column
) -> Column:
    """:func:`polygons_intersect` over PRECOMPUTED edge arrays — the
    hoisted form the broadcast joins evaluate per candidate pair:
    both containment ray-casts fold over the already-built edges
    (:func:`_pip_edges`), so a condition evaluation allocates
    nothing. ``verts_a``/``verts_b`` supply only the representative
    vertices for the mutual-containment branch."""
    edge_cross = F.exists(
        ea, lambda e1: F.exists(eb, lambda e2: _proper_cross(e1, e2))
    )
    a0, b0 = verts_a[0], verts_b[0]
    return (
        edge_cross
        | _pip_edges(b0["x"], b0["y"], ea)
        | _pip_edges(a0["x"], a0["y"], eb)
    )


@memoized
def _bbox_columns(wkt: str, vcol: str, multi: bool) -> tuple:
    """The fenced parse column and the four bbox columns of
    :func:`_with_bbox`, built once per SparkContext."""
    parse = parse_wkt_geometry if multi else parse_wkt_polygon
    parsed = F.when(F.spark_partition_id() >= 0, parse(wkt)).alias(vcol)
    verts = F.flatten(F.flatten(F.col(vcol))) if multi else F.col(vcol)
    xs = F.transform(verts, lambda p: p["x"])
    ys = F.transform(verts, lambda p: p["y"])
    return parsed, (
        F.array_min(xs).alias(f"{vcol}_x0"),
        F.array_max(xs).alias(f"{vcol}_x1"),
        F.array_min(ys).alias(f"{vcol}_y0"),
        F.array_max(ys).alias(f"{vcol}_y1"),
    )


def _with_bbox(
    df: DataFrame, wkt: str, vcol: str, multi: bool = False
) -> DataFrame:
    """Parse a WKT column into a vertex ring (``multi``: the
    (MULTI)POLYGON geometry type) plus its bounding box — the shared
    pregate frame of every polygon join here (the bbox comparisons are
    the cheap conjunct that must run before any edge/containment/clip
    expression).

    The parse is FENCED (spark_partition_id barrier — the geo06 clip
    idiom, see polygon_clip_area_join) and staged through its own
    projection (r13, guide §2.4/§7.2): unfenced, Catalyst inlines the
    regexp/split parse tree into every structural reference — ~5
    copies in the bbox projection and, worse, the inferred
    ``isnotnull(bbox)`` join constraints get pushed BELOW the
    projection as a scan-side Filter carrying 4 more copies, so every
    row pays the parse in two separate operators (per-operator
    subexpression elimination cannot merge across Filter/Project).
    Fenced, the parse materializes exactly once per row; the bbox
    min/max read the materialized array."""
    parsed, bbox = _bbox_columns(wkt, vcol, multi)
    return df.select("*", parsed).select("*", *bbox)


@memoized
def _bbox_overlap(a: str, b: str) -> Column:
    """Strict bbox overlap between two _with_bbox prefixes."""
    return (
        (F.col(f"{a}_x0") < F.col(f"{b}_x1"))
        & (F.col(f"{b}_x0") < F.col(f"{a}_x1"))
        & (F.col(f"{a}_y0") < F.col(f"{b}_y1"))
        & (F.col(f"{b}_y0") < F.col(f"{a}_y1"))
    )


def _require_disjoint(a: DataFrame, b: DataFrame) -> None:
    """The two-frame polygon joins emit both frames' columns side by
    side, so the column sets must not overlap."""
    overlap = set(a.columns) & set(b.columns)
    if overlap:
        raise ValueError(f"rename overlapping columns first: {overlap}")


def by_geometry_class(
    op: Callable[..., DataFrame],
    *sides: tuple[DataFrame, Sequence[str]],
) -> DataFrame:
    """Run ``op`` once per geometry CLASS instead of once per row.

    Each side is a ``(frame, keys)`` pair whose ``keys`` columns (the
    WKT, plus any other input the geometry work reads) determine
    everything ``op`` computes for that side's rows. ``op`` receives
    ``frame.select(*keys).distinct()`` for every side, in order, and
    must return each side's keys. The rows re-attach by equi-joining
    the first side, then every later side, back on its keys; the
    output keeps ``op``'s column order, with each side's full column
    list in place of its first key and its other keys dropped.

    Row-for-row equal to ``op`` over the full frames when ``op``'s
    per-row output is a pure function of the keys (pair membership,
    clip areas, buffers: decide per class, then re-attach).
    The aggregate joins group by every visible column, so over the
    full frames two identical rows would merge and SUM their areas;
    run per class, they aggregate per class pair and each duplicate
    row re-attaches to that result. The geometry work drops by the
    duplication factor when footprints repeat (templated or tiled
    data, cadastral grids); the price is a distinct pass and a
    join-back per side. Rows whose keys hold a NULL never re-attach —
    the inner-join semantics the joins give unparseable WKT anyway."""
    core = op(*(frame.select(*keys).distinct() for frame, keys in sides))
    (first, first_keys), *rest = sides
    out = first.join(core, list(first_keys))
    for frame, keys in rest:
        out = out.join(frame, list(keys))
    cols: list[str] = []
    for c in core.columns:
        side = next((s for s in sides if c in s[1]), None)
        if side is None:
            cols.append(c)
        elif c == side[1][0]:
            cols.extend(side[0].columns)
    return out.select(*cols)


def polygon_intersection_join(
    polys_a: DataFrame,
    polys_b: DataFrame,
    wkt_a: str = "geom_wkt",
    wkt_b: str = "geom_wkt",
    dedup_geoms: bool = False,
) -> DataFrame:
    """Inner-join polygon sets on spatial intersection. The A side
    (boundary sets: NTAs, districts — metadata-scale by nature)
    BROADCASTS parsed; B streams through with a bounding-box
    short-circuit ANDed before the full edge/containment test, so the
    expensive predicate runs only on bbox-overlapping candidates.
    Column sets must be disjoint (rename first). At data-scale B this
    is one broadcast-nested-loop stage over the scan — zero shuffle
    of B; for polygon–polygon joins where BOTH sides are data-scale,
    pre-bin rings into grid cells by bbox (radius_self_join's
    pattern) and run this predicate residually per cell.

    ``dedup_geoms=True`` runs the join per distinct B-side WKT
    (:func:`by_geometry_class`)."""
    _require_disjoint(polys_a, polys_b)

    def op(polys_b: DataFrame) -> DataFrame:
        # r13: hoist each side's ring→edges build into its projection
        # — the condition re-evaluates per candidate pair, so the
        # inline form rebuilt BOTH edge arrays per bbox-surviving
        # pair; hoisted, each row pays it once and the predicate
        # folds allocation-free (_polygons_intersect_edges).
        a = _with_bbox(polys_a, wkt_a, "__va").withColumn(
            "__va_e", _ring_edges(F.col("__va"))
        )
        b = _with_bbox(polys_b, wkt_b, "__vb").withColumn(
            "__vb_e", _ring_edges(F.col("__vb"))
        )
        bbox = _bbox_overlap("__va", "__vb")
        cond = bbox & _polygons_intersect_edges(
            F.col("__va_e"), F.col("__vb_e"), F.col("__va"), F.col("__vb")
        )
        hidden = [c for c in a.columns + b.columns if c.startswith("__v")]
        return b.join(F.broadcast(a), cond, "inner").drop(*hidden)

    if dedup_geoms:
        return by_geometry_class(op, (polys_b, [wkt_b]))
    return op(polys_b)


def polygon_intersection_join_binned(
    polys_a: DataFrame,
    polys_b: DataFrame,
    wkt_a: str = "geom_wkt",
    wkt_b: str = "geom_wkt",
    cell_deg: float | None = None,
    dedup_geoms: bool = False,
) -> DataFrame:
    """Inner-join TWO DATA-SCALE polygon sets on spatial intersection
    — the join :func:`polygon_intersection_join` refuses (it requires
    a broadcastable side). The grid-cell-residual pattern its
    docstring promised, packaged:

    1. each ring explodes to every grid cell its BBOX overlaps
       (``explode(sequence(floor(x0/cell), floor(x1/cell)))`` twice —
       pure expressions, ≤ ``ceil(bbox/cell + 1)²`` rows per ring);
    2. the join is an EQUI-join on ``(cell_x, cell_y)`` — one shuffle
       of each side keyed by cell, explicitly ``shuffle_hash``-hinted
       (both frames are derived from scans, so Catalyst's inherited
       sizeInBytes would happily broadcast a billion-ring side — the
       d11 derived-size trap);
    3. candidates pass the strict bbox overlap AND the CANONICAL-CELL
       rule — a pair is evaluated only in the single cell containing
       the top-left corner of its bbox intersection
       (``floor(greatest(ax0, bx0)/cell)``), so cross-cell duplicate
       hits are impossible BY CONSTRUCTION: no distinct, no second
       shuffle (the standard PBSM/Sedona dedup trick);
    4. the exact :func:`polygons_intersect` predicate runs residually
       behind a ``spark_partition_id()`` pushdown barrier, so the
       expensive nested-HOF fold can never be prepended ahead of the
       cheap bbox/canonical conjuncts (the geo06 lesson).

    ``cell_deg=None`` derives the cell edge as the LARGEST bbox
    dimension across both sides (one Spark job, one aggregate over
    both sides' unioned dimensions; :func:`_derive_cell_deg`): with
    edge ≥ every bbox, a ring lands in at most 4 cells and candidate
    volume tracks local density. One continent-sized outlier ring
    inflates every cell — pass an explicit ``cell_deg`` sized to the
    TYPICAL ring instead (outliers then fan out to more cells, which
    is linear in their bbox area, the right trade). Skewed hot cells
    (a dense city) salt exactly like radius_self_join documents.

    Column sets must be disjoint (rename first). Junk WKT that parses
    to a NULL bbox never enters the join (sequence(NULL) explodes to
    nothing) — inner-join semantics for unparseable rings.

    ``dedup_geoms=True`` runs the join per distinct WKT pair
    (:func:`by_geometry_class`). Off by default: the two distinct
    passes and two join-backs pay only when footprints repeat.
    """
    _require_disjoint(polys_a, polys_b)

    def op(polys_a: DataFrame, polys_b: DataFrame) -> DataFrame:
        cand = _binned_candidates(
            _with_bbox(polys_a, wkt_a, "__va"), "__va",
            _with_bbox(polys_b, wkt_b, "__vb"), "__vb", cell_deg,
        )
        # r13, tried and REVERTED on measurement: staging
        # the residual's edge arrays into their own fenced
        # per-candidate columns (the geo06/geo10 hoist) measured ×0.89
        # HERE — each candidate row evaluates the predicate exactly
        # once either way, so the stage saved only two small
        # ring-builds while adding two interpreted (fence-carrying)
        # projections and the UnsafeRow materialization of both edge
        # arrays between them. The hoist pays where a row's structures
        # are re-evaluated MANY times (broadcast conditions: |polys|
        # evaluations/row) or where normalization re-ran per pair
        # inside the fold (geo06/10/11/14); here once-per-row inline
        # is the cheaper shape.
        hidden = [c for c in cand.columns if c.startswith(("__va", "__vb"))]
        return (
            cand.withColumn("__isect", _intersect_residual("__va", "__vb"))
            .filter(F.col("__isect"))
            .drop("__isect", *hidden)
        )

    if dedup_geoms:
        return by_geometry_class(
            op, (polys_a, [wkt_a]), (polys_b, [wkt_b])
        )
    return op(polys_a, polys_b)


# --- polygon clipping + area: geometry ALGEBRA, still pure expressions -------


def ring_area(verts: Column) -> Column:
    """Unsigned shoelace area of a ring (closed — last vertex repeats
    the first — or open; the wraparound edge is supplied explicitly so
    a duplicated closing vertex just contributes a zero-length edge).
    One zip_with + aggregate, codegen'd, O(vertices) per row. Rings
    with fewer than 3 vertices have area 0."""
    return F.when(F.size(verts) < 3, F.lit(0.0)).otherwise(
        F.abs(_signed_shoelace(verts)) / 2.0
    )


def _ccw(verts: Column) -> Column:
    """Ring oriented counter-clockwise (signed shoelace > 0), else
    reversed — WKT in the wild ships both windings and the clip's
    inside-test assumes CCW."""
    return F.when(
        _signed_shoelace(verts) < 0, F.reverse(verts)
    ).otherwise(verts)


def convex_clip_ring_pre(subj: Column, clip_edges: Column) -> Column:
    """Sutherland–Hodgman polygon clipping as ONE Catalyst expression:
    the subject ring (any simple polygon) clipped to a CONVEX clip
    ring, returning the intersection's vertex ring (open; empty array
    when disjoint). The fold runs over the clip's edges —
    F.aggregate(clip_edges, subject, ...) whose merge rebuilds the
    ring with one zip_with over (prev-vertex, vertex) pairs emitting
    0–2 points each (inside vertex kept, boundary crossings add the
    intersection point) and a flatten. No UDF, no shuffle, no
    geometry library. Vertices exactly ON a clip edge count as inside
    (>= 0), so shared boundaries degrade to zero-area slivers rather
    than flipping verdicts.

    ``subj`` must already be OPEN and CCW (``_ccw(_open_ring(...))``)
    and ``clip_edges`` the edge array of the open CCW clip ring
    (``_ring_edges(_ccw(_open_ring(...)))``). The clip joins evaluate
    the fold once per candidate pair/term, so that normalization
    lives in each side's per-ROW projection and the pair evaluation
    is the fold alone (r13 measure)."""

    def signed_dist(e, v):
        # > 0 strictly left of directed edge (inside for CCW rings)
        return (e["x2"] - e["x1"]) * (v["y"] - e["y1"]) - (
            e["y2"] - e["y1"]
        ) * (v["x"] - e["x1"])

    def clip_one(acc, e):
        n = F.size(acc)
        prev = F.concat(F.slice(acc, n, 1), F.slice(acc, 1, n - 1))

        def emit(s, p):
            ds, dp = signed_dist(e, s), signed_dist(e, p)
            t = ds / (ds - dp)  # only used when signs differ strictly
            inter = F.struct(
                (s["x"] + t * (p["x"] - s["x"])).alias("x"),
                (s["y"] + t * (p["y"] - s["y"])).alias("y"),
            )
            return (
                F.when(
                    (dp >= 0) & (ds >= 0), F.array(p)
                )
                .when((dp >= 0) & (ds < 0), F.array(inter, p))
                .when((dp < 0) & (ds >= 0), F.array(inter))
                .otherwise(F.slice(acc, 1, 0))
            )

        return F.when(n < 3, F.slice(acc, 1, 0)).otherwise(
            F.flatten(F.zip_with(prev, acc, emit))
        )

    return F.aggregate(clip_edges, subj, clip_one)


def polygon_clip_area_join(
    polys: DataFrame,
    clips: DataFrame,
    wkt_col: str = "geom_wkt",
    clip_wkt_col: str = "clip_wkt",
    area_col: str = "clip_area",
    round_dp: int | None = 6,
    dedup_geoms: bool = False,
) -> DataFrame:
    """For every (polygon, convex clip) pair with positive-area
    overlap: all columns of both frames plus ``area_col`` = the
    intersection area (Sutherland–Hodgman clip + shoelace). The clip
    side broadcasts parsed; a strict bbox-overlap pregate keeps the
    clip fold off non-candidates, and the area > 0 filter drops
    touching-only pairs. Column sets must be disjoint. ``round_dp``
    rounds the area (cross-engine float hygiene for oracle compares);
    None keeps raw doubles.

    ``dedup_geoms=True`` runs the join per distinct subject WKT
    (:func:`by_geometry_class`). Off by default."""
    _require_disjoint(polys, clips)

    def op(polys: DataFrame) -> DataFrame:
        # r13: each side's ring normalization is hoisted into its own
        # fenced per-ROW projection — the fold below re-evaluates once
        # per bbox-surviving pair, and the un-hoisted form re-ran
        # open/CCW (two shoelace folds + slice/concat allocations) per
        # pair on both rings. The fence keeps CollapseProject from
        # inlining the (single-consumer, non-cheap) normalize back
        # into the per-pair fold expression.
        p = _with_bbox(polys, wkt_col, "__vp").withColumn(
            "__vp_n",
            F.when(
                F.spark_partition_id() >= 0,
                _ccw(_open_ring(F.col("__vp"))),
            ),
        )
        c = _with_bbox(clips, clip_wkt_col, "__vc").withColumn(
            "__vc_e",
            F.when(
                F.spark_partition_id() >= 0,
                _ring_edges(_ccw(_open_ring(F.col("__vc")))),
            ),
        )
        bbox = _bbox_overlap("__vp", "__vc")
        # Pushdown BARRIER, load-bearing twice over. (1) Without it
        # Catalyst pushes the `area > 0` filter into the nested-loop
        # join condition and PREPENDS it, so the (interpreted-HOF,
        # ~10³-node) clip fold runs for EVERY (poly, clip) pair BEFORE
        # the bbox test prunes — measured as a full-CPU stall at sf3
        # (11M folds instead of ~600k). (2) Fencing the FOLD ITSELF
        # into its own `__clipped` column stops CollapseProject from
        # inlining ~8 copies of the whole fold tree into ring_area's
        # structural references — the inlined form cost ~16 s of
        # fixed plan/codegen work per query (round-9 finding; the
        # multipolygon twin paid ~110 s and OOM'd a 1 GiB driver).
        # spark_partition_id() is non-deterministic, which blocks both
        # PushPredicateThroughJoin and CollapseProject; the value is
        # always the fold (partition ids are never negative).
        fenced_clip = F.when(
            F.spark_partition_id() >= 0,
            convex_clip_ring_pre(F.col("__vp_n"), F.col("__vc_e")),
        )
        area = ring_area(F.col("__clipped"))
        if round_dp is not None:
            area = F.round(area, round_dp)
        hidden = [
            x for x in p.columns + c.columns if x.startswith("__v")
        ]
        return (
            p.join(F.broadcast(c), bbox, "inner")
            .withColumn("__clipped", fenced_clip)
            .withColumn(area_col, area)
            .filter(F.col(area_col) > 0)
            .drop("__clipped", *hidden)
        )

    if dedup_geoms:
        return by_geometry_class(op, (polys, [wkt_col]))
    return op(polys)


def tag_points_with_polygons(
    points: DataFrame,
    polygons: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
    wkt_col: str = "geom_wkt",
    tag_cols: tuple = ("ntacode",),
) -> DataFrame:
    """Left-tag each point with the polygon containing it (NULL tags
    when none). Polygon sets like NTA boundaries are metadata-scale
    (hundreds of rows) vs data-scale points, so the parsed polygon
    frame BROADCASTS and containment evaluates inside the scan stage
    of the points — zero shuffle of the point side. For huge polygon
    sets, pre-bin both sides on a grid first (radius_self_join's
    pattern) before the residual containment test.

    r13 (guide §1.2 per-task work): the broadcast side carries the
    polygon's BBOX and PRECOMPUTED edge array — the join condition
    is evaluated once per (point, polygon) pair, so the bbox
    conjunct short-circuits the ray-cast for every pair outside the
    box (the geo05 cheap-conjunct idiom, previously missing here)
    and the surviving folds run allocation-free over the hoisted
    edges (:func:`_pip_edges`). Equivalence: ray-cast-inside implies
    strictly within the bbox (outside [y0,y1] no edge straddles the
    ray; right of x1 no intersection lies right of the point; left
    of x0 every straddling edge counts — even parity), so the added
    conjunct never changes the predicate; NULL/junk parses propagate
    NULL exactly as before."""
    polys = polygons.select(
        *tag_cols, parse_wkt_polygon(wkt_col).alias("__verts")
    )
    xs = F.transform(F.col("__verts"), lambda p: p["x"])
    ys = F.transform(F.col("__verts"), lambda p: p["y"])
    pp = polys.select(
        *tag_cols,
        _ring_edges(F.col("__verts")).alias("__edges"),
        F.array_min(xs).alias("__bx0"),
        F.array_max(xs).alias("__bx1"),
        F.array_min(ys).alias("__by0"),
        F.array_max(ys).alias("__by1"),
    )
    px, py = F.col(x_col), F.col(y_col)
    cond = (
        (px >= F.col("__bx0"))
        & (px <= F.col("__bx1"))
        & (py >= F.col("__by0"))
        & (py <= F.col("__by1"))
        & _pip_edges(px, py, F.col("__edges"))
    )
    joined = points.join(F.broadcast(pp), cond, "left")
    return joined.drop("__edges", "__bx0", "__bx1", "__by0", "__by1")


# --- MULTIPOLYGON + interior rings (holes): the geometry tail ----------------
#
# Real district/NTA boundaries ship as MULTIPOLYGON with holes (the
# reference's PostGIS handles them natively via ST_* over the
# boundaries table, /root/reference/tests/test_load_dataset.py:46-51).
# Everything below stays pure Catalyst expressions over the parsed
# geometry type `array<array<array<struct<x,y>>>>` — an array of
# polygons, each an array of rings with ring[0] the OUTER and the
# rest interior HOLES. Composition rules (valid geometry: holes lie
# inside their outer, polygons are disjoint):
#   containment  = in outer AND NOT in any hole, for ANY polygon
#   area         = Σ_p (area(outer_p) − Σ_h area(hole_h))
#   intersection = any ring-edge of A properly crosses any ring-edge
#                  of B (crossing a hole boundary enters A's interior
#                  on one side), OR a representative vertex of one is
#                  contained in the other (the geo05 rule, holed)
#   clip area against CONVEX rings
#                = Σ_p (clip_area(outer_p) − Σ_h clip_area(hole_h))


def parse_wkt_geometry(col: Column | str) -> Column:
    """``POLYGON ((outer), (hole)...)`` or ``MULTIPOLYGON (((outer),
    (hole)...), ...)`` → ``array<array<array<struct<x,y>>>>``
    (polygons → rings → vertices), pure string expressions.

    The parse is separator-driven: strip the keyword and ONE paren
    level, split polygons on ``)),((``, rings on ``),(``, then strip
    residual parens per ring — so a plain single-ring POLYGON, a
    holed POLYGON, and any MULTIPOLYGON all land in the same shape
    (a geo04-era single-ring WKT parses as one polygon with one
    ring). Junk tokens become NULL coordinates (try_cast), never an
    ANSI abort; fully junk strings yield rings whose NULL bbox drops
    them from every join."""
    c = F.trim(F.col(col) if isinstance(col, str) else col)
    body = F.regexp_replace(c, r"^(MULTIPOLYGON|POLYGON)\s*\(", "")
    body = F.regexp_replace(body, r"\)\s*$", "")
    polys = F.split(body, r"\)\s*\)\s*,\s*\(\s*\(")

    def ring_of(rs: Column) -> Column:
        cleaned = F.regexp_replace(rs, r"^[\s(]+|[\s)]+$", "")
        prs = F.split(cleaned, r"\s*,\s*")
        return F.transform(
            prs,
            lambda p: F.struct(
                F.get(F.split(F.trim(p), r"\s+"), 0)
                .try_cast("double").alias("x"),
                F.get(F.split(F.trim(p), r"\s+"), 1)
                .try_cast("double").alias("y"),
            ),
        )

    return F.transform(
        polys,
        lambda ps: F.transform(F.split(ps, r"\)\s*,\s*\("), ring_of),
    )


def _holes(rings: Column) -> Column:
    """rings[1:] — the interior rings; empty for a 1-ring polygon."""
    return F.slice(rings, 2, F.greatest(F.size(rings) - 1, F.lit(0)))


def multipolygon_area(polys: Column) -> Column:
    """Unsigned area of a holed multipolygon: Σ over polygons of
    (outer area − Σ hole areas). Valid-geometry contract: holes lie
    inside their outer ring and polygons are disjoint."""
    return F.aggregate(
        polys,
        F.lit(0.0),
        lambda acc, rings: acc
        + ring_area(rings[0])
        - F.aggregate(
            _holes(rings), F.lit(0.0), lambda a, h: a + ring_area(h)
        ),
    )


def _flat_geom_edges(geom: Column) -> Column:
    """All edges of every ring of a holed multipolygon, flattened —
    the edge-cross side of the intersection predicate, precomputable
    once per row (:func:`_multipolygons_intersect_edges`)."""
    return F.flatten(
        F.transform(F.flatten(geom), lambda r: _ring_edges(r))
    )


def _geom_poly_edges(geom: Column) -> Column:
    """Per-component edge structure of a holed multipolygon:
    ``array<struct<oe: edges(outer), he: array<edges(hole)>>>`` — the
    containment side of the predicate, precomputable once per row so
    :func:`_mp_contains_edges` folds without rebuilding rings."""
    return F.transform(
        geom,
        lambda rings: F.struct(
            _ring_edges(rings[0]).alias("oe"),
            F.transform(
                _holes(rings), lambda h: _ring_edges(h)
            ).alias("he"),
        ),
    )


def _mp_contains_edges(px: Column, py: Column, pe: Column) -> Column:
    """Point containment in a holed multipolygon over its precomputed
    :func:`_geom_poly_edges` structure: inside SOME component's outer
    edges and not inside any of that component's hole edges."""
    return F.exists(
        pe,
        lambda p: _pip_edges(px, py, p["oe"])
        & ~F.exists(p["he"], lambda h: _pip_edges(px, py, h)),
    )


def _multipolygons_intersect_edges(
    fa: Column,
    fb: Column,
    pa: Column,
    pb: Column,
    polys_a: Column,
    polys_b: Column,
) -> Column:
    """Intersection predicate between two holed multipolygons: (a) any
    edge of ANY ring of A properly crosses any edge of ANY ring of B
    (for valid geometry a crossing always witnesses interior overlap),
    or (b) no edges cross, so every component of each side lies
    entirely inside or outside each region of the other and one
    representative vertex PER COMPONENT decides. Per-component (not
    the first component only) is load-bearing: a donut-with-exclave vs
    a square around only the exclave has no crossings and its first
    component outside (ADVICE r9).

    ``fa``/``fb`` are the flat edge arrays (:func:`_flat_geom_edges`),
    ``pa``/``pb`` the per-component edge structures
    (:func:`_geom_poly_edges`); the raw geometries supply only the
    per-component representative vertices. Hoisted into each join
    side's projection, a condition evaluation rebuilds nothing."""
    edge_cross = F.exists(
        fa, lambda e1: F.exists(fb, lambda e2: _proper_cross(e1, e2))
    )

    def any_component_inside(polys: Column, other_pe: Column) -> Column:
        return F.exists(
            polys,
            lambda rings: _mp_contains_edges(
                rings[0][0]["x"], rings[0][0]["y"], other_pe
            ),
        )

    return (
        edge_cross
        | any_component_inside(polys_b, pa)
        | any_component_inside(polys_a, pb)
    )


def _signed_clip_rings(geom: Column) -> Column:
    """Holed multipolygon → flat ``array<struct<ring, sign>>``:
    each outer ring with sign +1, each hole with sign −1 — the
    inclusion–exclusion decomposition behind every multipolygon area:
    area(S ∩ multi) = Σ sign · area(S ∩ ring), exact because a hole
    lies inside its outer (S∩hole ⊆ S∩outer)."""
    return F.flatten(
        F.transform(
            geom,
            lambda rings: F.concat(
                F.array(
                    F.struct(
                        rings[0].alias("ring"), F.lit(1).alias("sign")
                    )
                ),
                F.transform(
                    _holes(rings),
                    lambda h: F.struct(
                        h.alias("ring"), F.lit(-1).alias("sign")
                    ),
                ),
            ),
        )
    )


def _signed_fan_triangles(geom: Column) -> Column:
    """Holed multipolygon → flat ``array<struct<ring, w>>`` of
    fan triangles ``[v_0, v_i, v_i+1]`` with weights w ∈ {−1,+1}
    such that ``1_geom(x) = Σ w_t · 1_T_t(x)`` almost everywhere —
    the decomposition that turns ANY simple-polygon intersection into
    a sum of convex∩convex problems (the winding-number fan identity:
    for a CCW ring, Σ sign(cross(v_i−o, v_i+1−o)) · 1_{T_i} is the
    ring's indicator for any fan origin o).  Weight composition: ring
    sign (outer +1, hole −1 — :func:`_signed_clip_rings`'s contract)
    × ring orientation (a CW ring's fan sums to −1_ring) × the
    triangle's own orientation sign.  The origin is the RING'S OWN
    FIRST VERTEX: the two edges incident to v_0 fan into zero-cross
    degenerate triangles and drop (n−2 triangles per n-gon instead of
    n from an external anchor), and the triangles stay inside the
    ring's hull — both the pair count and each clip fold's extent
    shrink, the dominant costs of the pairwise intersection sum.

    Fourth r13 pass — per-ELEMENT staging (the geo13 parse-staging
    lesson one level down): an expression tree spliced into an
    interpreted HOF lambda re-evaluates at EVERY reference, and
    subexpression elimination never runs inside interpreted lambdas.
    The previous form bound ``ring = _open_ring(...)`` and
    ``base = sign × signum(shoelace(ring))`` as PYTHON variables —
    i.e. trees, not values — so the fan origin re-ran the full
    open-ring slice per VERTEX and the base re-ran the whole shoelace
    fold per VERTEX (O(n²) work with allocation-heavy constants, per
    candidate row downstream). Each intermediate now gets its own
    ``transform`` stage whose lambda variable is evaluated ONCE per
    element and bound: opened ring → (origin, base weight) →
    triangles reading bound fields. ``F.get`` (not ``[0]``) keeps the
    origin ANSI-safe on a junk ring that opened to empty (the old
    form only ever indexed inside the per-vertex lambda, which an
    empty ring never entered)."""
    staged = F.transform(
        _signed_clip_rings(geom),
        lambda sr: F.struct(
            _open_ring(sr["ring"]).alias("r"),
            sr["sign"].alias("sign"),
        ),
    )
    based = F.transform(
        staged,
        lambda s: F.struct(
            s["r"].alias("r"),
            F.get(s["r"], 0).alias("o"),
            # ring sign × orientation: constant per ring, folded into w
            (
                s["sign"].cast("double")
                * F.signum(_signed_shoelace(s["r"]))
            ).alias("base"),
        ),
    )

    def tris_of(s):
        o = s["o"]
        tris = F.zip_with(
            s["r"],
            _rotated(s["r"]),
            lambda u, v: F.struct(
                F.array(o, u, v).alias("ring"),
                (
                    s["base"]
                    * F.signum(
                        (u["x"] - o["x"]) * (v["y"] - o["y"])
                        - (u["y"] - o["y"]) * (v["x"] - o["x"])
                    )
                ).cast("int").alias("w"),
            ),
        )
        return F.filter(tris, lambda t: t["w"] != 0)

    return F.flatten(F.transform(based, tris_of))


def _enriched_subj_rings(signed_rings: Column) -> Column:
    """array<(ring, sign)> → array<(ring=open+CCW, sign, x0,x1,y0,y1)>
    — the subject-side precompute for :func:`_fan_clip_area_tail`,
    with every intermediate STAGED through its own ``transform`` so it
    is computed once per element and bound (see
    :func:`_signed_fan_triangles`'s fourth-pass note: the previous
    per-element form spliced ``_open_ring`` into all three of
    ``_ccw``'s references, re-running the slice per reference). The
    bbox reads the staged ring — open drops only a DUPLICATE closing
    vertex and CCW only reverses, so min/max equal the raw ring's."""
    opened = F.transform(
        signed_rings,
        lambda sr: F.struct(
            _open_ring(sr["ring"]).alias("r"),
            sr["sign"].alias("sign"),
        ),
    )
    ccwed = F.transform(
        opened,
        lambda s: F.struct(
            _ccw(s["r"]).alias("r"),
            s["sign"].alias("sign"),
        ),
    )

    def fin(s):
        xs = F.transform(s["r"], lambda p: p["x"])
        ys = F.transform(s["r"], lambda p: p["y"])
        return F.struct(
            s["r"].alias("ring"),
            s["sign"].alias("sign"),
            F.array_min(xs).alias("x0"),
            F.array_max(xs).alias("x1"),
            F.array_min(ys).alias("y0"),
            F.array_max(ys).alias("y1"),
        )

    return F.transform(ccwed, fin)


def _enriched_fan_tris(tris: Column) -> Column:
    """array<(ring, w)> → array<(edges of the CCW triangle, w,
    x0,x1,y0,y1)> — the clip-side precompute for
    :func:`_fan_clip_area_tail`, staged like
    :func:`_enriched_subj_rings` (the previous per-element form ran
    ``_ring_edges(_ccw(r))``, which re-evaluated the CCW — a full
    shoelace + reverse — once per ``_open_ring`` reference inside the
    edge enumeration, ~20× per triangle). The fan triangle [o, u, v]
    is open by construction (degenerate fans are filtered by w≠0), so
    the edge zip_with consumes the staged ring directly — exactly the
    edge set ``_ring_edges`` produced, since ``_open_ring`` is the
    identity on an open ring."""
    ccwed = F.transform(
        tris,
        lambda t: F.struct(
            _ccw(t["ring"]).alias("r"),
            t["w"].alias("w"),
        ),
    )

    def fin(t):
        xs = F.transform(t["r"], lambda p: p["x"])
        ys = F.transform(t["r"], lambda p: p["y"])
        return F.struct(
            F.zip_with(
                t["r"],
                _rotated(t["r"]),
                lambda u, v: F.struct(
                    u["x"].alias("x1"),
                    u["y"].alias("y1"),
                    v["x"].alias("x2"),
                    v["y"].alias("y2"),
                ),
            ).alias("edges"),
            t["w"].alias("w"),
            F.array_min(xs).alias("x0"),
            F.array_max(xs).alias("x1"),
            F.array_min(ys).alias("y0"),
            F.array_max(ys).alias("y1"),
        )

    return F.transform(ccwed, fin)


def concave_clip_area_join(
    polys: DataFrame,
    clips: DataFrame,
    wkt_col: str = "geom_wkt",
    clip_wkt_col: str = "clip_wkt",
    area_col: str = "clip_area",
    round_dp: int | None = 6,
) -> DataFrame:
    """Intersection AREA between two ARBITRARY simple (multi/holed)
    polygon sets — no convexity requirement on EITHER side, the last
    PostGIS-parity geometry gap (geo06/geo10 require a convex clip
    ring; the reference runs full PostGIS ST_Intersection).

    Spark-first decomposition instead of a Weiler–Atherton vertex
    walk (inherently sequential, pointer-chasing — wrong shape for a
    columnar engine): Sutherland–Hodgman needs convexity only on the
    CLIP side (a concave subject's bridge edges cancel in the
    shoelace), so the SUBJECT stays whole signed rings (outer +1 /
    hole −1) and only the CLIP side's indicator expands into signed
    fan triangles (:func:`_signed_fan_triangles`):

        area(A ∩ B) = Σ_{r,j} ρᵃ_r · wᵇ_j · area(ringᵃ_r ∩ Tᵇ_j)

    — every term the proven geo06 fold with a convex (triangle)
    clip.  Rows per candidate pair: rings(A) · (|V_b|−2), LINEAR in
    each side's vertex count (the both-sides-triangulated form is
    quadratic).  Relationally: bbox-pregated candidates (clip side
    broadcast), two explodes, a ring-bbox pregate (disjoint terms
    are exactly 0), the fenced clip fold per surviving row, and one
    map-side-combinable groupBy summing int64 fixed-point terms
    (round(area·10⁸) — order-independent, and the ± terms cancel
    exactly in fixed point).  Positive-overlap pairs only, one output
    row per (subject row, clip row) pair: the sum runs per WKT pair
    (:func:`by_geometry_class`).
    """
    _require_disjoint(polys, clips)

    def op(polys: DataFrame, clips: DataFrame) -> DataFrame:
        p = _with_bbox(polys, wkt_col, "__gp", multi=True)
        c = _with_bbox(clips, clip_wkt_col, "__gc", multi=True)
        bbox = _bbox_overlap("__gp", "__gc")
        cand = p.join(F.broadcast(c), bbox, "inner")
        return _fan_clip_area_tail(
            cand, list(polys.columns) + list(clips.columns),
            area_col, round_dp,
        )

    return by_geometry_class(
        op, (polys, [wkt_col]), (clips, [clip_wkt_col])
    )


def _fan_clip_area_tail(
    cand: DataFrame,
    group_cols: list[str],
    area_col: str,
    round_dp: int | None,
    keep_all_pairs: bool = False,
) -> DataFrame:
    """The shared candidate-pair → intersection-area tail of the
    concave clip joins (:func:`concave_clip_area_join` broadcast
    form, :func:`concave_clip_area_join_binned` data×data form — one
    home, the miter-form lesson): explode subject signed rings × clip
    fan triangles, ring-bbox pregate, the fenced geo06 fold per
    surviving row, one map-side-combinable int64 fixed-point sum,
    positive-overlap filter on the UNROUNDED sum.  ``cand`` must
    carry the ``__gp``/``__gc`` parsed-geometry columns.

    ``keep_all_pairs=True`` (r13, for :func:`concave_union_area_join`'s
    single-pass form) keeps EVERY candidate pair in the output with
    ``area_col`` = 0.0 where the intersection sum is absent or
    non-positive — exactly the value the old two-pass union recovered
    via ``coalesce(left-join, 0)``.  The pregate then moves from a
    row filter into the fold's guard (same rows skipped, nothing
    dropped from the groupBy) and the explodes go outer so a
    degenerate empty geometry cannot delete its pair."""
    # r13 (per-EVALUATION → per-ELEMENT hoist): the exploded structs
    # carry their ring bbox, the subject ring pre-normalized
    # (open+CCW) and the triangle's normalized EDGES — all computed
    # once per array element at Generate time instead of once per
    # exploded row: the pregate is plain field comparisons and the
    # fold is Sutherland–Hodgman alone (convex_clip_ring_pre), with
    # no per-row re-normalization or bbox array scans. Equivalent:
    # open/CCW never change a ring's vertex SET (bbox identical) and
    # are idempotent (the fold's internal normalize was computing
    # exactly these), and a degenerate/NULL ring yields NULL bbox →
    # NULL pregate → row filtered / fold skipped, as before.
    subj_rings = _enriched_subj_rings(_signed_clip_rings(F.col("__gp")))
    tris_b = _enriched_fan_tris(_signed_fan_triangles(F.col("__gc")))
    # the same CollapseProject fence as multipolygon_clip_area_join:
    # ring_area's structural references must bind to the __clipped
    # ATTRIBUTE, not inline copies of the clip fold
    fenced_clip = F.when(
        F.spark_partition_id() >= 0,
        convex_clip_ring_pre(
            F.col("__sr").getField("ring"),
            F.col("__tb").getField("edges"),
        ),
    )
    term = (
        F.col("__sr").getField("sign")
        * F.col("__tb").getField("w")
    ).cast("long") * F.round(
        ring_area(F.col("__clipped")) * 1e8
    ).cast("long")
    area = F.col("__sum_micro") / F.lit(1e8)
    if round_dp is not None:
        area = F.round(area, round_dp)
    sr, tb = F.col("__sr"), F.col("__tb")
    pregate = (
        (sr.getField("x0") < tb.getField("x1"))
        & (tb.getField("x0") < sr.getField("x1"))
        & (sr.getField("y0") < tb.getField("y1"))
        & (tb.getField("y0") < sr.getField("y1"))
    )
    if keep_all_pairs:
        # every candidate pair must survive to the output: the
        # pregate guards the fold instead of filtering rows (a
        # skipped row's term is NULL, which SUM ignores — the exact
        # semantics the row filter had), the explodes go outer, and
        # a pair with no positive sum reports 0.0 — the value the
        # two-pass union's coalesce(left-join, 0) produced.
        guarded_clip = F.when(
            pregate & (F.spark_partition_id() >= 0),
            convex_clip_ring_pre(
                F.col("__sr").getField("ring"),
                F.col("__tb").getField("edges"),
            ),
        )
        return (
            cand
            .withColumn("__sr", F.explode_outer(subj_rings))
            .withColumn("__tb", F.explode_outer(tris_b))
            .withColumn("__clipped", guarded_clip)
            .withColumn("__term", term)
            .groupBy(*group_cols)
            .agg(F.sum("__term").alias("__sum_micro"))
            .withColumn(
                area_col,
                F.when(F.col("__sum_micro") > 0, area).otherwise(
                    F.lit(0.0)
                ),
            )
            .drop("__sum_micro")
        )
    return (
        cand
        .withColumn("__sr", F.explode(subj_rings))
        .withColumn("__tb", F.explode(tris_b))
        # ring-bbox pregate: a disjoint (or exactly touching) pair
        # clips to area 0, so the filter never changes the signed
        # sum — it just keeps the interpreted clip fold off rows
        # that would contribute nothing
        .filter(pregate)
        .withColumn("__clipped", fenced_clip)
        .withColumn("__term", term)
        .groupBy(*group_cols)
        .agg(F.sum("__term").alias("__sum_micro"))
        # positive-overlap filter on the UNROUNDED fixed-point sum —
        # matching the oracle's WHERE area > 0 (filtering the rounded
        # value would drop a true sub-0.5e-dp sliver the oracle emits
        # as 0.000000)
        .filter(F.col("__sum_micro") > 0)
        .withColumn(area_col, area)
        .drop("__sum_micro")
    )


def concave_clip_area_join_binned(
    polys: DataFrame,
    clips: DataFrame,
    wkt_col: str = "geom_wkt",
    clip_wkt_col: str = "clip_wkt",
    area_col: str = "clip_area",
    round_dp: int | None = 6,
    cell_deg: float | None = None,
) -> DataFrame:
    """Intersection AREA between two DATA-SCALE arbitrary (concave/
    holed/multi) polygon sets — :func:`concave_clip_area_join`
    without its broadcast clip side (the r10 verdict #5 gap: that
    form caps the clip side at driver memory).  Composition of the
    two proven pieces, nothing new invented:

    - candidate discovery is geo07's grid-binning
      (:func:`polygon_intersection_join_binned` steps 1–3 verbatim):
      each geometry explodes to the cells its bbox overlaps, ONE
      ``shuffle_hash`` equi-join on ``(cell_x, cell_y)`` — both
      sides shuffle by cell, NEITHER broadcasts (derived-size
      estimates would happily broadcast a billion-ring side) — then
      strict bbox overlap AND the canonical-cell rule (a pair is
      evaluated only in the cell holding its bbox-intersection's
      top-left corner: cross-cell duplicates impossible by
      construction, no distinct pass);
    - per-candidate area is geo11's fan-triangle algebra
      (:func:`_fan_clip_area_tail`, shared code): subject stays whole
      signed rings, the clip side's indicator expands into signed
      fan triangles, every term the proven convex fold, int64
      fixed-point sum.

    ``cell_deg`` as in the binned intersection join (None derives the
    max bbox dimension across both sides in one Spark job; size it to
    the TYPICAL
    geometry when outliers exist).  Same per-WKT-pair sum as the
    broadcast form (:func:`by_geometry_class`).  100 TB shape: one
    shuffle per side keyed by cell, candidate volume tracks local
    density, the clip fold runs only on canonical bbox-overlapping
    pairs.
    """
    _require_disjoint(polys, clips)

    def op(polys: DataFrame, clips: DataFrame) -> DataFrame:
        cand = _binned_candidates(
            _with_bbox(polys, wkt_col, "__gp", multi=True), "__gp",
            _with_bbox(clips, clip_wkt_col, "__gc", multi=True), "__gc",
            cell_deg,
        )
        return _fan_clip_area_tail(
            cand, list(polys.columns) + list(clips.columns),
            area_col, round_dp,
        )

    return by_geometry_class(
        op, (polys, [wkt_col]), (clips, [clip_wkt_col])
    )


@memoized
def _intersect_residual(a: str, b: str) -> Column:
    """The exact :func:`polygons_intersect` test between the rings
    ``a`` and ``b``, behind the pushdown barrier of the binned join's
    step 4."""
    return F.when(
        F.spark_partition_id() >= 0, polygons_intersect(F.col(a), F.col(b))
    )


def _binned_candidates(
    a: DataFrame, pa: str, b: DataFrame, pb: str, cell_deg: float | None
) -> DataFrame:
    """Steps 1–3 of the binned joins, shared: both bbox-carrying
    frames (prefixes ``pa``/``pb``) explode to every grid cell their
    bbox overlaps, ONE ``shuffle_hash`` equi-join on the cell, then
    strict bbox overlap AND the canonical-cell rule. The cell edge
    enters each side as its ``_cell`` column, so the expressions stay
    keyed on names (:func:`_bin_columns`)."""
    cell = F.lit(float(_derive_cell_deg((a, pa), (b, pb), cell_deg=cell_deg)))
    cells_a, cells_b, on, keep = _bin_columns(pa, pb)

    def binned(df: DataFrame, p: str, cells: tuple) -> DataFrame:
        df = df.select("*", cell.alias(f"{p}_cell"))
        return df.select("*", cells[0]).select("*", cells[1])

    return (
        binned(a, pa, cells_a).hint("shuffle_hash")
        .join(binned(b, pb, cells_b), on, "inner")
        .filter(keep)
    )


@memoized
def _bin_columns(a: str, b: str) -> tuple:
    """Per side, the x and y cell explodes over its ``_cell`` column;
    the cell equi-join condition; the candidate filter."""
    def cells(p: str, v: str) -> Column:
        lo, hi = (F.floor(F.col(f"{p}_{v}{i}") / F.col(f"{p}_cell")) for i in "01")
        return F.explode(F.sequence(lo, hi)).alias(f"{p}_c{v}")

    def canonical(v: str) -> Column:
        corner = F.greatest(f"{a}_{v}0", f"{b}_{v}0") / F.col(f"{a}_cell")
        return F.col(f"{a}_c{v}") == F.floor(corner)

    on = (F.col(f"{a}_cx") == F.col(f"{b}_cx")) & (
        F.col(f"{a}_cy") == F.col(f"{b}_cy")
    )
    keep = _bbox_overlap(a, b) & canonical("x") & canonical("y")
    return (cells(a, "x"), cells(a, "y")), (cells(b, "x"), cells(b, "y")), on, keep


@memoized
def _bbox_dim(p: str) -> Column:
    """The larger bbox side of a :func:`_with_bbox` prefix."""
    x, y = (F.col(f"{p}_{v}1") - F.col(f"{p}_{v}0") for v in "xy")
    return F.greatest(x, y).alias("__dim")


def _derive_cell_deg(
    *frames: tuple[DataFrame, str], cell_deg: float | None
) -> float:
    """Shared cell-edge derivation for the binned joins: the largest
    bbox dimension across all given (frame, prefix) pairs, unless an
    explicit ``cell_deg`` is passed. The canonical-cell rule makes the
    join exact for any cell > 0; the size only sets the fan-out.

    One Spark job: an observed ``max`` over the union of the frames'
    dimension columns rides a ``noop`` write of that union (a plain
    ``agg().collect()`` is a map-stage job plus a result job under
    AQE, and measured slower on the benchmark's geometry joins)."""
    if cell_deg is not None:
        return cell_deg
    dims = reduce(DataFrame.union, (df.select(_bbox_dim(p)) for df, p in frames))
    seen = Observation()
    dims.observe(seen, F.max("__dim").alias("dim")).write.format(
        "noop"
    ).mode("overwrite").save()
    dim = seen.get["dim"]
    if dim is None:
        raise ValueError(
            "binned polygon join: no parseable rings on either side "
            "— cannot derive cell_deg"
        )
    return max(dim, 1e-9)


def _miter_join_fn(r: Column):
    """Offset-line/miter-intersection lambda of :func:`with_miter_buffer`:
    the offset normal, the line-intersection algebra, and the 1e-12
    collinearity fallback.  Returns the ``(prev_edge, edge) -> offset
    vertex struct`` callable consumed by ``F.zip_with``."""

    def offset_point(e, px, py):
        # outward unit normal of a CCW edge is (dy, -dx)/|e|
        dx, dy = e["x2"] - e["x1"], e["y2"] - e["y1"]
        ln = F.sqrt(dx * dx + dy * dy)
        return (px + r * dy / ln, py + r * (-dx) / ln)

    def miter(pe, e):
        # intersection of prev/next offset lines: a1 + t·d1
        a1x, a1y = offset_point(pe, pe["x1"], pe["y1"])
        a2x, a2y = offset_point(e, e["x1"], e["y1"])
        d1x, d1y = pe["x2"] - pe["x1"], pe["y2"] - pe["y1"]
        d2x, d2y = e["x2"] - e["x1"], e["y2"] - e["y1"]
        denom = d1x * d2y - d1y * d2x
        t = ((a2x - a1x) * d2y - (a2y - a1y) * d2x) / denom
        return F.when(
            F.abs(denom) < F.lit(1e-12),
            F.struct(a2x.alias("x"), a2y.alias("y")),
        ).otherwise(
            F.struct(
                (a1x + t * d1x).alias("x"),
                (a1y + t * d1y).alias("y"),
            )
        )

    return miter


def with_miter_buffer(
    df: DataFrame,
    wkt_col: str,
    r: Column,
    out_col: str = "buffered",
) -> DataFrame:
    """ST_Buffer's polygon-offset core for CONVEX rings: every edge's
    supporting line moves outward by ``r`` and consecutive offset
    lines re-intersect — the MITER join (exact polygon arithmetic, no
    arcs; PostGIS's round-join arcs are themselves k-gon
    approximations, and the concave/arc path is the documented Sedona
    seam).  ``out_col`` is the buffered vertex ring, same size as the
    input.  Convexity is the standard offset precondition (a concave
    miter self-intersects); rings may arrive closed and in either
    winding.  Collinear consecutive edges fall back to the edge's own
    offset endpoint instead of dividing by zero.

    Staged: parse → normalize → edges → miter, each level fenced into
    its own column so every reference binds to an ATTRIBUTE.  A
    one-shot expression re-evaluates its nested subtrees structurally
    (interpreted HOFs do no CSE) — measured 39.6 s for 15k rows at
    sf0.1 vs 9.0 s staged (plan-build cost collapses too)."""
    pid = F.spark_partition_id() >= 0
    staged = (
        df.withColumn(
            # r13: the raw parse gets its OWN fenced stage.  Composed
            # as _ccw(_open_ring(parse(...))) in one expression,
            # _open_ring references its input 4x and _ccw 3x more, so
            # the regexp/split/cast parse tree was cloned ~50x into
            # the single (non-codegen, no-CSE) Project — the geo13
            # plan showed exactly that. Staged, every downstream
            # reference binds to the materialized attribute.
            "__mb_verts", F.when(pid, parse_wkt_polygon(wkt_col))
        )
        .withColumn(
            "__mb_open", F.when(pid, _open_ring(F.col("__mb_verts")))
        )
        .withColumn(
            "__mb_ring", F.when(pid, _ccw(F.col("__mb_open")))
        )
        .withColumn(
            "__mb_edges", F.when(pid, _ring_edges(F.col("__mb_ring")))
        )
    )
    edges = F.col("__mb_edges")
    n = F.size(edges)
    staged = staged.withColumn(
        "__mb_prev",
        F.when(
            pid, F.concat(F.slice(edges, n, 1), F.slice(edges, 1, n - 1))
        ),
    )
    return staged.withColumn(
        out_col,
        F.when(
            pid,
            F.zip_with(F.col("__mb_prev"), edges, _miter_join_fn(r)),
        ),
    ).drop("__mb_verts", "__mb_open", "__mb_ring", "__mb_edges", "__mb_prev")


def concave_union_area_join(
    polys: DataFrame,
    clips: DataFrame,
    wkt_col: str = "geom_wkt",
    clip_wkt_col: str = "clip_wkt",
    area_col: str = "union_area",
    round_dp: int | None = 6,
) -> DataFrame:
    """Pairwise UNION area for arbitrary (concave/holed/multi)
    polygon pairs — the ST_Union-area analog, by inclusion–exclusion
    over :func:`concave_clip_area_join`'s intersection machinery:
    ``area(A ∪ B) = area(A) + area(B) − area(A ∩ B)``, each area a
    shoelace/signed-ring fold, the intersection the fan-triangle sum.
    Emits ALL bbox-candidate pairs (disjoint pairs have union area =
    the plain sum; pairs whose bboxes never meet are not pairs a
    pairwise-union consumer asks about — a global cascaded union is a
    different operator: iterate merge rounds or use Sedona).  One
    output row per (subject row, clip row) pair, computed per WKT
    pair (:func:`by_geometry_class`); column sets must be disjoint.
    """
    _require_disjoint(polys, clips)

    def op(polys: DataFrame, clips: DataFrame) -> DataFrame:
        # r13 single-pass form: the old shape ran
        # the bbox candidate join TWICE — once inside
        # concave_clip_area_join for the intersection and once here
        # for the a/b areas — then re-attached them with a third
        # (left) join, so both sides were scanned and WKT-parsed twice
        # (geo12's plan: 8 scans, 4 parse sites).  One candidate join
        # now carries the per-side areas into the shared fan-clip tail
        # in keep-all-pairs mode, whose 0.0 for absent/non-positive
        # sums is exactly the old coalesce(left-join, 0) value —
        # union = a + b − inter in one pass.
        p = _with_bbox(polys, wkt_col, "__gp", multi=True)
        c = _with_bbox(clips, clip_wkt_col, "__gc", multi=True)
        keys = list(polys.columns) + list(clips.columns)
        cand = (
            p.join(
                F.broadcast(c), _bbox_overlap("__gp", "__gc"), "inner"
            )
            .select(
                *keys,
                multipolygon_area(F.col("__gp")).alias("__a"),
                multipolygon_area(F.col("__gc")).alias("__b"),
                "__gp",
                "__gc",
            )
        )
        joined = _fan_clip_area_tail(
            cand, keys + ["__a", "__b"], "__inter", None,
            keep_all_pairs=True,
        )
        area = F.col("__a") + F.col("__b") - F.col("__inter")
        if round_dp is not None:
            area = F.round(area, round_dp)
        return (
            joined.withColumn(area_col, area)
            .drop("__a", "__b", "__inter")
        )

    return by_geometry_class(
        op, (polys, [wkt_col]), (clips, [clip_wkt_col])
    )


def tag_points_with_multipolygons(
    points: DataFrame,
    polygons: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
    wkt_col: str = "geom_wkt",
    tag_cols: tuple = ("ntacode",),
) -> DataFrame:
    """tag_points_with_polygons for holed/multi geometry: left-tag
    each point with the containing multipolygon (NULL when none).
    Boundary sets broadcast parsed; containment evaluates inside the
    points' scan stage — zero shuffle of the point side.

    r13: the broadcast side carries the geometry's GLOBAL bbox and
    the per-component edge structure (:func:`_geom_poly_edges`) —
    the bbox conjunct short-circuits per-pair evaluation (contained
    ⟹ inside some outer ring ⟹ within the global bbox, so it never
    changes the predicate) and surviving ray-casts fold over hoisted
    edges instead of rebuilding every ring per pair."""
    polys = polygons.select(
        *tag_cols, parse_wkt_geometry(wkt_col).alias("__geom")
    )
    verts = F.flatten(F.flatten(F.col("__geom")))
    xs = F.transform(verts, lambda p: p["x"])
    ys = F.transform(verts, lambda p: p["y"])
    pp = polys.select(
        *tag_cols,
        _geom_poly_edges(F.col("__geom")).alias("__pe"),
        F.array_min(xs).alias("__bx0"),
        F.array_max(xs).alias("__bx1"),
        F.array_min(ys).alias("__by0"),
        F.array_max(ys).alias("__by1"),
    )
    px, py = F.col(x_col), F.col(y_col)
    cond = (
        (px >= F.col("__bx0"))
        & (px <= F.col("__bx1"))
        & (py >= F.col("__by0"))
        & (py <= F.col("__by1"))
        & _mp_contains_edges(px, py, F.col("__pe"))
    )
    joined = points.join(F.broadcast(pp), cond, "left")
    return joined.drop("__pe", "__bx0", "__bx1", "__by0", "__by1")


def multipolygon_intersection_join(
    polys_a: DataFrame,
    polys_b: DataFrame,
    wkt_a: str = "geom_wkt",
    wkt_b: str = "geom_wkt",
    dedup_geoms: bool = False,
) -> DataFrame:
    """polygon_intersection_join for holed/multi geometry: the A side
    (boundary sets) BROADCASTS parsed; B streams through with the
    global-bbox short-circuit ANDed before the full predicate.
    Column sets must be disjoint.

    ``dedup_geoms=True`` runs the join per distinct B-side WKT
    (:func:`by_geometry_class`)."""
    _require_disjoint(polys_a, polys_b)

    def op(polys_b: DataFrame) -> DataFrame:
        # r13: hoist the flat edge arrays (edge-cross branch) and the
        # per-component edge structures (containment branch) into each
        # side's projection — built once per row instead of once per
        # bbox-surviving candidate pair.
        a = (
            _with_bbox(polys_a, wkt_a, "__ga", multi=True)
            .withColumn("__ga_f", _flat_geom_edges(F.col("__ga")))
            .withColumn("__ga_p", _geom_poly_edges(F.col("__ga")))
        )
        b = (
            _with_bbox(polys_b, wkt_b, "__gb", multi=True)
            .withColumn("__gb_f", _flat_geom_edges(F.col("__gb")))
            .withColumn("__gb_p", _geom_poly_edges(F.col("__gb")))
        )
        bbox = _bbox_overlap("__ga", "__gb")
        cond = bbox & _multipolygons_intersect_edges(
            F.col("__ga_f"),
            F.col("__gb_f"),
            F.col("__ga_p"),
            F.col("__gb_p"),
            F.col("__ga"),
            F.col("__gb"),
        )
        hidden = [c for c in a.columns + b.columns if c.startswith("__g")]
        return b.join(F.broadcast(a), cond, "inner").drop(*hidden)

    if dedup_geoms:
        return by_geometry_class(op, (polys_b, [wkt_b]))
    return op(polys_b)


def multipolygon_clip_area_join(
    polys: DataFrame,
    clips: DataFrame,
    wkt_col: str = "geom_wkt",
    clip_wkt_col: str = "clip_wkt",
    area_col: str = "clip_area",
    round_dp: int | None = 6,
) -> DataFrame:
    """polygon_clip_area_join for holed/multi CLIP geometry (every
    clip ring convex — rectangles/convex district cells): all columns
    of both frames plus ``area_col`` = area(subject ∩ multipolygon),
    positive-overlap pairs only.

    Spark-first decomposition: instead of folding polygons → holes →
    clip inside ONE expression (measured: the triple-nested
    interpreted HOF exhausts a 1 GiB executor around 10⁴ rows), the
    inclusion–exclusion moves into the RELATIONAL layer — the clip
    side explodes to its signed rings (outer +1, hole −1; clips are
    boundary sets, so the broadcast just grows by the ring count),
    each (subject, ring) candidate evaluates the proven single-level
    geo06 clip expression behind the same pushdown barrier, and one
    map-side-combinable groupBy sums ``sign · area`` back to the
    pair. Per-ring bboxes pregate (tighter than the multipolygon's
    global bbox); a ring dropped by its bbox contributes exactly 0,
    so the pregate never changes the sum.

    Determinism: each term is quantized to int64 micro-units
    (``sign · round(area·10⁶)`` — the s11 fixed-point rule) before
    the SUM, so the result is independent of aggregation order;
    ``area_col`` therefore carries 6 dp resolution regardless of
    ``round_dp``. The groupBy runs per WKT pair
    (:func:`by_geometry_class`), so every (subject row, clip row)
    pair gets its own output row, as in the geo06 join.
    """
    _require_disjoint(polys, clips)

    def op(polys: DataFrame, clips: DataFrame) -> DataFrame:
        # r13: the subject's open/CCW normalization and the clip ring's
        # normalized edge build are hoisted into per-ROW fenced
        # projections (subject side / exploded-ring broadcast side), so
        # the per-pair evaluation below is the clip fold alone.
        p = _with_bbox(polys, wkt_col, "__vp").withColumn(
            "__vp_n",
            F.when(
                F.spark_partition_id() >= 0,
                _ccw(_open_ring(F.col("__vp"))),
            ),
        )
        signed = _signed_clip_rings(parse_wkt_geometry(clip_wkt_col))
        c0 = clips.select("*", F.explode(signed).alias("__cr"))
        ring = F.col("__cr").getField("ring")
        xs = F.transform(ring, lambda pt: pt["x"])
        ys = F.transform(ring, lambda pt: pt["y"])
        c = c0.select(
            "*",
            F.when(
                F.spark_partition_id() >= 0,
                _ring_edges(_ccw(_open_ring(ring))),
            ).alias("__cr_e"),
            F.array_min(xs).alias("__cr_x0"),
            F.array_max(xs).alias("__cr_x1"),
            F.array_min(ys).alias("__cr_y0"),
            F.array_max(ys).alias("__cr_y1"),
        )
        bbox = _bbox_overlap("__vp", "__cr")
        # TWO fenced projection steps, deliberately: the barrier (a) keeps
        # the clip fold out of the join condition (the geo06 prepend trap)
        # and (b) BLOCKS CollapseProject, so ring_area's ~8 structural
        # references to its input bind to the `__clipped` ATTRIBUTE
        # instead of inlining 8 copies of the whole fold tree — measured:
        # the inlined form cost ~110 s of fixed plan/codegen work per
        # query (7x geo06) and OOM'd a 1 GiB driver at 8 threads.
        fenced_clip = F.when(
            F.spark_partition_id() >= 0,
            convex_clip_ring_pre(F.col("__vp_n"), F.col("__cr_e")),
        )
        term = (
            F.col("__cr").getField("sign").cast("long")
            * F.round(ring_area(F.col("__clipped")) * 1e6).cast("long")
        )
        group_cols = list(polys.columns) + list(clips.columns)
        area = F.col("__sum_micro") / F.lit(1e6)
        if round_dp is not None:
            area = F.round(area, round_dp)
        return (
            p.join(F.broadcast(c), bbox, "inner")
            .withColumn("__clipped", fenced_clip)
            .withColumn("__term", term)
            .groupBy(*group_cols)  # hidden __vp/__cr cols fall away here
            .agg(F.sum("__term").alias("__sum_micro"))
            .withColumn(area_col, area)
            .filter(F.col(area_col) > 0)
            .drop("__sum_micro")
        )

    return by_geometry_class(
        op, (polys, [wkt_col]), (clips, [clip_wkt_col])
    )
