"""Stdlib zipped-shapefile reader (S6 — the reference's ``boundaries``
source is a zipped ESRI shapefile, tests/test_load_dataset.py:46-51,
loaded there via PostGIS ``shp2pgsql``; here the fixed-format .shp
(geometry) + .dbf (attributes) records are parsed with ``struct`` and
emitted as attribute columns + a ``geom_wkt`` string — the repo's
declared geometry representation (operators/geo.py consumes WKT;
Sedona remains the full-geometry path, SURVEY §7).

Format references are the public ESRI shapefile technical description
and the dBase III header layout — both fixed binary layouts:

- .shp: 100-byte header (file code 9994 big-endian at 0, shape type
  little-endian at 32); then records of [BE record#, BE content words]
  followed by a LE shape type and the shape body. Covered: Null (0),
  Point (1), Polygon (5) with multi-ring support (rings become the
  polygon's ring list in WKT order).
- .dbf: LE record count at 4, header size at 8, record size at 10;
  32-byte field descriptors (name/type/length/decimals) until 0x0D;
  fixed-width records prefixed with a deletion flag.

Scale note: boundary shapefiles are metadata-scale (hundreds of
polygons for a whole city), so parsing is DRIVER-side into one
``createDataFrame`` — the same class of driver work as reading a
registry manifest. Corpus-scale geometry belongs in parquet + Sedona,
not shapefiles.
"""

from __future__ import annotations

import struct
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SHAPE_NULL = 0
SHAPE_POINT = 1
SHAPE_POLYGON = 5


def _ring_wkt(points: list[tuple[float, float]]) -> str:
    return "(" + ", ".join(f"{x} {y}" for x, y in points) + ")"


def _is_clockwise(ring: list[tuple[float, float]]) -> bool:
    """Shoelace orientation (wraparound edge included so unclosed
    rings still classify). ESRI spec: outer rings wind CLOCKWISE,
    holes counter-clockwise."""
    s = 0.0
    for (x1, y1), (x2, y2) in zip(ring, ring[1:] + ring[:1]):
        s += (x2 - x1) * (y2 + y1)
    return s > 0


def _ring_area(ring: list[tuple[float, float]]) -> float:
    """Absolute shoelace area (containment tie-break: the SMALLEST
    containing outer is the immediate parent of a hole when outers
    nest)."""
    s = 0.0
    for (x1, y1), (x2, y2) in zip(ring, ring[1:] + ring[:1]):
        s += x1 * y2 - x2 * y1
    return abs(s) / 2.0


def _point_in_ring(
    pt: tuple[float, float], ring: list[tuple[float, float]]
) -> bool:
    """Even-odd ray casting (half-open edge rule, wraparound edge
    included) — driver-side twin of operators/geo.py's expression-only
    form, used only for hole→outer assignment at parse time."""
    x, y = pt
    inside = False
    for (x1, y1), (x2, y2) in zip(ring, ring[1:] + ring[:1]):
        if (y1 > y) != (y2 > y):
            if x < (x2 - x1) * (y - y1) / (y2 - y1) + x1:
                inside = not inside
    return inside


def parse_shp(data: bytes) -> list[str | None]:
    """WKT geometry per record (None for Null shapes), in record
    order."""
    if len(data) < 100:
        raise ValueError("shapefile: truncated header")
    (file_code,) = struct.unpack(">i", data[0:4])
    if file_code != 9994:
        raise ValueError(f"shapefile: bad file code {file_code}")
    (file_len_words,) = struct.unpack(">i", data[24:28])
    end = file_len_words * 2
    out: list[str | None] = []
    off = 100
    while off < min(end, len(data)):
        _recno, content_words = struct.unpack(">ii", data[off:off + 8])
        off += 8
        body = data[off:off + content_words * 2]
        off += content_words * 2
        (stype,) = struct.unpack("<i", body[0:4])
        if stype == SHAPE_NULL:
            out.append(None)
        elif stype == SHAPE_POINT:
            x, y = struct.unpack("<dd", body[4:20])
            out.append(f"POINT ({x} {y})")
        elif stype == SHAPE_POLYGON:
            num_parts, num_points = struct.unpack("<ii", body[36:44])
            parts = struct.unpack(f"<{num_parts}i", body[44:44 + 4 * num_parts])
            pts_off = 44 + 4 * num_parts
            pts = [
                struct.unpack("<dd", body[pts_off + 16 * i:pts_off + 16 * i + 16])
                for i in range(num_points)
            ]
            bounds = list(parts) + [num_points]
            rings = [
                pts[bounds[i]:bounds[i + 1]] for i in range(num_parts)
            ]
            # ESRI type 5 also encodes MULTIPOLYGONS: every CLOCKWISE
            # ring is an outer boundary, counter-clockwise rings are
            # holes. Emitting multiple outers as one POLYGON ring list
            # would turn additional islands into HOLES under WKT
            # semantics (NYC NTA boundaries include real
            # multipolygons). With ONE outer, every hole is its —
            # trivially correct. With several, holes are assigned by
            # point-in-ring CONTAINMENT (smallest containing outer —
            # the immediate parent when outers nest), not by the
            # holes-follow-their-outer writer convention: a valid file
            # that interleaves rings would otherwise silently attach a
            # hole to the wrong island (round-6 advice). Falls back to
            # the preceding outer for degenerate holes no outer
            # contains.
            polys: list[list[list[tuple[float, float]]]] = []
            outer_pos = [i for i, r in enumerate(rings)
                         if _is_clockwise(r)]
            if len(outer_pos) <= 1:
                for r in rings:
                    if not polys or _is_clockwise(r):
                        polys.append([r])
                    else:
                        polys[-1].append(r)
            else:
                poly_of = {}  # ring index -> polys index (outers only)
                for i in outer_pos:
                    poly_of[i] = len(polys)
                    polys.append([rings[i]])
                areas = [_ring_area(rings[i]) for i in outer_pos]
                last_outer: int | None = None
                for i, r in enumerate(rings):
                    if i in poly_of:
                        last_outer = poly_of[i]
                        continue
                    containing = [
                        k for k, oi in enumerate(outer_pos)
                        if _point_in_ring(r[0], rings[oi])
                    ]
                    if containing:
                        k = min(containing, key=lambda k: areas[k])
                    else:
                        k = last_outer if last_outer is not None else 0
                    polys[k].append(r)
            if len(polys) == 1:
                out.append(
                    "POLYGON ("
                    + ", ".join(_ring_wkt(r) for r in polys[0])
                    + ")"
                )
            else:
                out.append(
                    "MULTIPOLYGON ("
                    + ", ".join(
                        "(" + ", ".join(_ring_wkt(r) for r in p) + ")"
                        for p in polys
                    )
                    + ")"
                )
        else:
            raise ValueError(
                f"shapefile: unsupported shape type {stype} "
                "(supported: Null/Point/Polygon)"
            )
    return out


def parse_dbf(data: bytes) -> tuple[list[str], list[list]]:
    """(field_names, records) from a dBase III .dbf. Field names are
    lowercased; N/F values parse to int/float, L to bool, C/D stay
    strings; empty fields are None. Deleted records are skipped."""
    num_rec, hdr_size, rec_size = struct.unpack("<IHH", data[4:12])
    fields: list[tuple[str, str, int]] = []  # (name, type, length)
    off = 32
    while off < hdr_size - 1 and data[off] != 0x0D:
        desc = data[off:off + 32]
        name = desc[0:11].split(b"\x00", 1)[0].decode("latin-1").lower()
        ftype = chr(desc[11])
        length = desc[16]
        fields.append((name, ftype, length))
        off += 32
    records: list[list] = []
    off = hdr_size
    for _ in range(num_rec):
        rec = data[off:off + rec_size]
        off += rec_size
        if not rec or rec[0:1] == b"*":  # deleted
            continue
        vals: list = []
        p = 1
        for _name, ftype, length in fields:
            raw = rec[p:p + length].decode("latin-1").strip()
            p += length
            if raw == "":
                vals.append(None)
            elif ftype in ("N", "F"):
                vals.append(float(raw) if "." in raw else int(raw))
            elif ftype == "L":
                vals.append(raw[0] in "TtYy")
            else:  # C, D and anything exotic stay text
                vals.append(raw)
        records.append(vals)
    return [f[0] for f in fields], records


def read_shapefile_zip(
    spark: SparkSession,
    zip_path: str,
    schema: T.StructType,
    geom_col: str = "geom_wkt",
) -> DataFrame:
    """Typed DataFrame from a zipped shapefile: .dbf attributes matched
    to the registry schema BY NAME (case-insensitive; missing schema
    columns become NULL, extra .dbf columns are dropped), geometry as
    WKT in ``geom_col``. Record i of the .shp pairs with record i of
    the .dbf (the shapefile contract)."""
    with zipfile.ZipFile(zip_path) as zf:
        shp_names = [n for n in zf.namelist() if n.lower().endswith(".shp")]
        dbf_names = [n for n in zf.namelist() if n.lower().endswith(".dbf")]
        if not shp_names or not dbf_names:
            raise ValueError(
                f"{zip_path}: need one .shp and one .dbf inside the zip"
            )
        geoms = parse_shp(zf.read(shp_names[0]))
        names, records = parse_dbf(zf.read(dbf_names[0]))
    if len(geoms) != len(records):
        raise ValueError(
            f"{zip_path}: .shp has {len(geoms)} records, "
            f".dbf has {len(records)}"
        )
    rows = [
        {**dict(zip(names, rec)), geom_col: wkt}
        for rec, wkt in zip(records, geoms)
    ]
    # permissive string staging frame → cast by name into the schema
    # (read_csv_union_by_name's normalization rule)
    stage_fields = names + ([geom_col] if geom_col not in names else [])
    staged = spark.createDataFrame(
        [
            tuple(
                None if r.get(c) is None else str(r.get(c))
                for c in stage_fields
            )
            for r in rows
        ],
        T.StructType([T.StructField(c, T.StringType()) for c in stage_fields]),
    )
    return staged.select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            if f.name in staged.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )


def shapefile_string_rows(
    source,
    schema: T.StructType,
    geom_col: str = "geom_wkt",
) -> list[tuple]:
    """Pure ``bytes → string rows`` shapefile parser — the
    EXECUTOR-side form of :func:`read_shapefile_zip` (no SparkSession):
    one tuple per record, values in ``schema.fields`` order, every cell
    stringified (the permissive staging rule; casting to the typed
    schema happens in the calling plan). ``source`` is anything
    ``zipfile.ZipFile`` accepts (path or file-like over the zip
    bytes). Attribute matching is by name exactly as in the batch
    reader: missing schema columns → None, extra .dbf columns dropped."""
    with zipfile.ZipFile(source) as zf:
        shp_names = [n for n in zf.namelist() if n.lower().endswith(".shp")]
        dbf_names = [n for n in zf.namelist() if n.lower().endswith(".dbf")]
        if not shp_names or not dbf_names:
            raise ValueError("need one .shp and one .dbf inside the zip")
        geoms = parse_shp(zf.read(shp_names[0]))
        names, records = parse_dbf(zf.read(dbf_names[0]))
    if len(geoms) != len(records):
        raise ValueError(
            f".shp has {len(geoms)} records, .dbf has {len(records)}"
        )
    out = []
    for rec, wkt in zip(records, geoms):
        r = {**dict(zip(names, rec)), geom_col: wkt}
        present = set(names) | {geom_col}
        out.append(
            tuple(
                None
                if f.name not in present or r.get(f.name) is None
                else str(r[f.name])
                for f in schema.fields
            )
        )
    return out
