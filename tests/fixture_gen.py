"""Synthetic source-file fixtures for the dataset-catalog e2e matrix.

The reference's e2e matrix loads every registry dataset from nycdb's
bundled test data (/root/reference/tests/test_load_dataset.py:44-84,
USE_TEST_DATA at load_dataset.py:269-305). That data isn't vendored
here, so fixtures are SYNTHESIZED from each registry StructType:
deterministic per (column, row, salt), covering every Spark type the
catalog schemas use — the load path under test is identical either
way (download → typed scan → staging → publish).

Includes a minimal generic .xlsx WRITER (inline-string cells, stdlib
zipfile) so the two DOF Excel datasets run their real parse path
(sources/xlsx.py) in-container, where no excel engine exists to build
fixtures either, and the zipped-shapefile writer the
sources/shapefile.py parser round-trips against.
"""

from __future__ import annotations

import io
import struct
import zipfile

from pyspark.sql import types as T

from nycdb_k8s_loader_spark.sources.shapefile import (
    SHAPE_NULL,
    SHAPE_POINT,
    SHAPE_POLYGON,
)

_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
  <Default Extension="rels"
    ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
  <Default Extension="xml" ContentType="application/xml"/>
  <Override PartName="/xl/workbook.xml"
    ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
  <Override PartName="/xl/worksheets/sheet1.xml"
    ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
</Types>"""

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
  <Relationship Id="rId1"
    Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument"
    Target="xl/workbook.xml"/>
</Relationships>"""

_WB_XML = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
          xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
  <sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets>
</workbook>"""

_WB_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
  <Relationship Id="rId1"
    Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet"
    Target="worksheets/sheet1.xml"/>
</Relationships>"""


def _col_letter(idx: int) -> str:
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def xlsx_bytes(header: list[str], rows: list[list[str]]) -> bytes:
    """A minimal valid .xlsx: one sheet, every cell an inline string
    (the registry schema casts downstream, same as CSV)."""
    def row_xml(r: int, vals: list[str]) -> str:
        cells = "".join(
            f'<c r="{_col_letter(i)}{r}" t="inlineStr"><is><t>{v}</t></is></c>'
            for i, v in enumerate(vals)
            if v is not None
        )
        return f'<row r="{r}">{cells}</row>'

    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>"
        + row_xml(1, header)
        + "".join(row_xml(i + 2, r) for i, r in enumerate(rows))
        + "</sheetData></worksheet>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("[Content_Types].xml", _CONTENT_TYPES)
        zf.writestr("_rels/.rels", _ROOT_RELS)
        zf.writestr("xl/workbook.xml", _WB_XML)
        zf.writestr("xl/_rels/workbook.xml.rels", _WB_RELS)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    return buf.getvalue()


def synth_value(field: T.StructField, i: int, salt: int) -> str:
    """Deterministic text value castable to the field's Spark type."""
    t = field.dataType
    k = i + salt
    if isinstance(t, T.BooleanType):
        return "true" if k % 2 == 0 else "false"
    if isinstance(t, (T.DoubleType, T.FloatType, T.DecimalType)):
        return f"{100 * (k + 1)}.25"
    if isinstance(t, (T.IntegerType, T.ShortType)):
        return str(10 + k)
    if isinstance(t, T.LongType):
        return str(100000 + k)
    if isinstance(t, T.TimestampType):
        return f"2020-{(k % 12) + 1:02d}-{(k % 28) + 1:02d}T00:00:00"
    if isinstance(t, T.DateType):
        return f"2020-{(k % 12) + 1:02d}-{(k % 28) + 1:02d}"
    if field.name == "bbl":
        return f"100{k:07d}"
    if field.name == "geom_wkt":
        return f"POLYGON (({k} 0, {k + 1} 0, {k + 1} 1, {k} 0))"
    return f"{field.name[:12]}_{k}"


def synth_rows(
    schema: T.StructType, n: int = 3, salt: int = 0
) -> tuple[list[str], list[list[str]]]:
    header = [f.name for f in schema.fields]
    rows = [
        [synth_value(f, i, salt) for f in schema.fields] for i in range(n)
    ]
    return header, rows


def csv_bytes(header: list[str], rows: list[list[str]]) -> bytes:
    lines = [",".join(header)]
    lines += [",".join("" if v is None else v for v in r) for r in rows]
    return ("\n".join(lines) + "\n").encode()


def write_shapefile_zip(
    fields: list[tuple[str, str, int, int]],
    records: list[tuple[list, list[list[tuple[float, float]]] | tuple[float, float] | None]],
) -> bytes:
    """Minimal shapefile WRITER — the parser's test twin (same role as
    the xlsx writer above: no GIS library is available to build
    fixtures, so tests round-trip through this). ``fields`` are
    dbf descriptors (name, type C/N/L/D, length, decimals); each
    record is (attribute values, geometry) where geometry is a ring
    list (polygon), an (x, y) tuple (point), or None (null shape).
    Returns the zip bytes holding the .shp/.shx/.dbf triple."""
    # --- dbf ---
    rec_size = 1 + sum(f[2] for f in fields)
    hdr_size = 32 + 32 * len(fields) + 1
    dbf = io.BytesIO()
    dbf.write(
        struct.pack(
            "<BBBBIHH20x", 0x03, 26, 8, 14, len(records), hdr_size, rec_size
        )
    )
    for name, ftype, length, dec in fields:
        dbf.write(
            struct.pack(
                "<11sc4xBB14x",
                name.encode("latin-1")[:11],
                ftype.encode(),
                length,
                dec,
            )
        )
    dbf.write(b"\x0d")
    for vals, _geom in records:
        dbf.write(b" ")
        for (name, ftype, length, dec), v in zip(fields, vals):
            if v is None:
                txt = ""
            elif ftype == "N" and dec:
                txt = f"{float(v):.{dec}f}"
            else:
                txt = str(v)
            enc = txt.encode("latin-1")[:length]
            # numbers right-justify, text left-justifies (dbf rule)
            pad = b" " * (length - len(enc))
            dbf.write(pad + enc if ftype in ("N", "F") else enc + pad)

    # --- shp ---
    def shape_body(geom) -> bytes:
        if geom is None:
            return struct.pack("<i", SHAPE_NULL)
        if isinstance(geom, tuple):
            return struct.pack("<idd", SHAPE_POINT, geom[0], geom[1])
        rings = geom
        pts = [p for ring in rings for p in ring]
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]
        parts, acc = [], 0
        for ring in rings:
            parts.append(acc)
            acc += len(ring)
        body = struct.pack(
            "<idddd", SHAPE_POLYGON, min(xs), min(ys), max(xs), max(ys)
        )
        body += struct.pack("<ii", len(rings), len(pts))
        body += struct.pack(f"<{len(parts)}i", *parts)
        for x, y in pts:
            body += struct.pack("<dd", x, y)
        return body

    shp_records = b""
    shx_records = b""
    offset_words = 50  # 100-byte header
    for i, (_vals, geom) in enumerate(records):
        body = shape_body(geom)
        shp_records += struct.pack(">ii", i + 1, len(body) // 2) + body
        shx_records += struct.pack(">ii", offset_words, len(body) // 2)
        offset_words += 4 + len(body) // 2

    def _header(total_bytes: int) -> bytes:
        return (
            struct.pack(">i5i i", 9994, 0, 0, 0, 0, 0, total_bytes // 2)
            + struct.pack("<ii", 1000, SHAPE_POLYGON)
            + struct.pack("<8d", 0, 0, 0, 0, 0, 0, 0, 0)
        )

    shp = _header(100 + len(shp_records)) + shp_records
    shx = _header(100 + len(shx_records)) + shx_records

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("layer.shp", shp)
        zf.writestr("layer.shx", shx)
        zf.writestr("layer.dbf", dbf.getvalue())
    return buf.getvalue()


def shapefile_zip_from_schema(
    schema: T.StructType, n: int = 3, salt: int = 0
) -> bytes:
    """Zipped-shapefile fixture synthesized from a registry StructType
    (the sources/shapefile.py writer twin of csv_bytes/xlsx_bytes):
    non-geometry fields become dbf columns (numeric types as N,
    everything else C), each record carries one closed square ring."""
    fields, attr_fields = [], []
    for f in schema.fields:
        if f.name == "geom_wkt":
            continue
        attr_fields.append(f)
        if isinstance(f.dataType, (T.IntegerType, T.LongType, T.ShortType)):
            fields.append((f.name, "N", 18, 0))
        elif isinstance(
            f.dataType, (T.DoubleType, T.FloatType, T.DecimalType)
        ):
            fields.append((f.name, "N", 18, 4))
        else:
            fields.append((f.name, "C", 32, 0))
    records = []
    for i in range(n):
        vals = [synth_value(f, i, salt) for f in attr_fields]
        k = float(i + salt % 7)
        ring = [(k, 0.0), (k + 1, 0.0), (k + 1, 1.0), (k, 0.0)]
        records.append((vals, [ring]))
    return write_shapefile_zip(fields, records)
