"""Typed source readers (SURVEY.md §2.1 S4/S5/S7/S8).

The reference bulk-loads CSVs through Postgres COPY with DDL from the
dataset registry (/root/reference/load_dataset.py:367 via nycdb
``db_import``) and Excel workbooks through xlrd
(load_dataset.py:280-303). Spark-first mapping:

- CSV: ``spark.read.schema(...).csv`` — explicit StructType always
  (``inferSchema`` double-scans the data and guesses; prod schemas
  come from the registry, SURVEY.md §1.3).
- Multi-file: one reader call with a path list — implicit UNION ALL
  at scan time, parallel across files (this is where Spark beats the
  reference's single-threaded COPY).
- Excel: no core Spark reader — the stdlib zip+XML parser
  (sources/xlsx.py) → createDataFrame (files are small, driver-side is
  fine). Batch and streaming loads share one parse and one
  stringification rule.
- S3: same CSV reader against ``s3a://`` paths when hadoop-aws is on
  the classpath; otherwise a boto3 download to a landing dir. Landing
  paths abstract this away.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    paths: str | list[str],
    schema: T.StructType,
    header: bool = True,
    **options,
) -> DataFrame:
    """Typed CSV scan; a list of paths is a parallel UNION ALL (S4/S8)."""
    reader = (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("mode", options.pop("mode", "PERMISSIVE"))
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(paths)


def _csv_header(spark: SparkSession, path: str) -> list[str]:
    """First line of a CSV as normalized column names (comma-split via
    the csv module so quoted names survive; lowercased, stripped, BOM
    removed). Local paths read one line driver-side; other Hadoop-FS
    schemes fall back to a one-line ``spark.read.text`` job."""
    import csv
    import io

    p = path[7:] if path.startswith("file://") else path
    if "://" not in p:
        with open(p, encoding="utf-8-sig", newline="") as fh:
            line = fh.readline()
    else:  # pragma: no cover - object-store landing
        row = spark.read.text(path).first()
        line = (row[0] if row else "").lstrip("﻿")
    names = next(csv.reader(io.StringIO(line)), [])
    return [n.strip().lower() for n in names]


def read_csv_union_by_name(
    spark: SparkSession,
    paths: list[str],
    schema: T.StructType,
    header: bool = True,
    **options,
) -> DataFrame:
    """Header-NAME-bound typed CSV scan — the safe path for registry
    datasets whose source column order may differ from the registry
    schema or drift between vintages.

    ``spark.read.schema(...).csv`` binds an explicit schema POSITIONALLY
    and ignores the header, so a source whose columns are ordered
    differently than the registry schema would silently misbind nearly
    every column (type mismatches PERMISSIVE-null, strings cross-load).
    Here each file's header is peeked first, files are grouped by
    header signature, and each group is scanned ONCE with a schema
    REORDERED to that group's actual column order — native typed CSV
    parsing is preserved (no read-as-string-and-cast), and the result
    is selected back into registry-schema order. Properties:

    - order drift between files/vintages: harmless by construction;
    - schema columns absent from a header: NULL-padded (narrow
      historical vintages keep loading);
    - header columns the registry doesn't type: logged and dropped;
    - a header sharing NO names with the schema (wrong file, binary
      garbage, headerless dump): loud ValueError — the guard the
      Excel reader has had all along;
    - duplicate header names: first occurrence binds, later ones are
      dropped (logged).

    Cost at scale: one driver-side header line per file (object-store
    paths: a one-line text job), then one multi-path parallel scan per
    header signature — same scan count as read_csv for homogeneous
    batches.
    """
    import logging

    from pyspark.sql import functions as F

    if not header:
        # _csv_header unconditionally consumes line 1 as the header;
        # header=False would bind column names from a DATA row (or die
        # on the no-name-overlap guard with a misleading message)
        raise ValueError(
            "read_csv_union_by_name requires headered CSVs (the "
            "binding IS the header); use read_csv for positional "
            "headerless scans"
        )
    log = logging.getLogger(__name__)
    by_name = {f.name.lower(): f for f in schema.fields}
    groups: dict[tuple[str, ...], list[str]] = {}
    for p in paths:
        groups.setdefault(tuple(_csv_header(spark, p)), []).append(p)

    frames = []
    for hdr, ps in sorted(groups.items()):
        matched = [n for n in hdr if n in by_name]
        if not matched:
            raise ValueError(
                f"CSV header {list(hdr)[:8]}... of {ps[0]} shares no "
                f"column names with the registry schema "
                f"({[f.name for f in schema.fields][:8]}...) — wrong "
                "file or headerless dump; refusing to guess a binding"
            )
        unknown = [n for n in hdr if n not in by_name]
        if unknown:
            log.warning(
                "CSV header of %s carries %d column(s) the registry "
                "schema does not type — dropped: %s",
                ps[0], len(unknown), unknown[:10],
            )
        seen: set[str] = set()
        file_fields, keep = [], []
        for i, n in enumerate(hdr):
            if n in by_name and n not in seen:
                seen.add(n)
                f = by_name[n]
                file_fields.append(T.StructField(f.name, f.dataType))
                keep.append(f.name)
            else:
                file_fields.append(
                    T.StructField(f"_dropped_{i}", T.StringType())
                )
        df = read_csv(
            spark, ps, T.StructType(file_fields), header=header, **options
        ).select(*keep)
        frames.append(
            df.select(
                *[
                    F.col(f.name)
                    if f.name in keep
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in schema.fields
                ]
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def read_excel(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Excel scan of a workbook's first sheet (S5; reference loads
    workbooks with xlrd, load_dataset.py:280-303). Driver-side by
    design: these workbooks are small config-scale files, not
    data-scale. The stdlib zip+XML parser (sources/xlsx.py) reads the
    .xlsx, under the same rule as :func:`excel_string_rows`."""
    from pyspark.sql import functions as F

    from nycdb_k8s_loader_spark.sources.xlsx import read_xlsx_rows

    str_rows = _stringify_sheet(read_xlsx_rows(path), schema, path)
    names = [f.name for f in schema.fields]
    raw = spark.createDataFrame(
        str_rows, T.StructType([T.StructField(n, T.StringType()) for n in names])
    )
    return raw.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


#: day 0 of the 1900 date system: xlsx stores a date as serial days
#: since this instant (43831 is 2020-01-01, .5 is noon)
_EXCEL_EPOCH = datetime.datetime(1899, 12, 30)
_DATETIME_TYPES = (T.DateType, T.TimestampType)


def _cell_text(v, dtype: T.DataType) -> str | None:
    """One cell as the text its registry type casts from: a numeric
    cell bound for a date/timestamp field becomes ISO text (a bare
    serial would cast to a timestamp in year 43831)."""
    if v is None or (isinstance(v, float) and v != v):  # NaN
        return None
    if (
        isinstance(dtype, _DATETIME_TYPES)
        and isinstance(v, (int, float))
        and not isinstance(v, bool)
    ):
        return str(_EXCEL_EPOCH + datetime.timedelta(days=v))
    return str(v)


def _stringify_sheet(
    header_and_rows: list[list], schema: T.StructType, label: str
) -> list[list]:
    """Header-count check + cell stringification shared by the batch
    Excel reader and the executor-side streaming parser (one rule, two
    ingestion modes — no drift)."""
    if not header_and_rows:
        raise ValueError(f"{label}: empty sheet")
    header, rows = header_and_rows[0], header_and_rows[1:]
    if len(header) != len(schema.fields):
        raise ValueError(
            f"{label}: sheet has {len(header)} columns but the "
            f"registry schema declares {len(schema.fields)} — schema "
            "drift; update the registry or fix the workbook"
        )
    types = [f.dataType for f in schema.fields]
    return [[_cell_text(v, t) for v, t in zip(r, types)] for r in rows]


def excel_string_rows(
    content: bytes, schema: T.StructType, label: str = "<workbook bytes>"
) -> list[list]:
    """Pure ``bytes → string rows`` Excel parser — the EXECUTOR-side
    form of :func:`read_excel` (no SparkSession, no temp file), used by
    the distributed binary streaming stage to parse workbooks inside
    ``mapInPandas``. Same stdlib zip+XML core and the same
    stringification rule as the batch reader, so the two modes cannot
    drift."""
    import io

    from nycdb_k8s_loader_spark.sources.xlsx import read_xlsx_rows

    return _stringify_sheet(read_xlsx_rows(io.BytesIO(content)), schema, label)


def read_source_table(
    spark: SparkSession,
    table,
    dest_paths: dict[str, str],
    formats: dict[str, str],
    csv_options: dict | None = None,
) -> DataFrame:
    """One typed DataFrame for a registry TableDef from its landed
    source files, dispatching per-file on SourceFile.format: CSVs go
    through one parallel multi-path scan (S4/S8), Excel workbooks
    through read_excel (S5 — the reference's dof_annual_sales path,
    load_dataset.py:280-303, loads one table from SEVERAL yearly
    workbooks). Mixed-format unions are by-name over the shared
    registry schema, so format never dictates column order.

    ``csv_options`` is the dataset's parse policy
    (``DatasetDef.csv_options`` — mode/multiLine/...); it reaches
    every CSV scan of this table and no other format."""
    dests = table.files if table.files is not None else list(dest_paths)
    csv_paths = [
        dest_paths[d] for d in dests if formats.get(d, "csv") == "csv"
    ]
    frames: list[DataFrame] = []
    if csv_paths:
        # NAME-bound, not positional: real portal CSVs order columns
        # differently than the registry's fixture-prefix+appended
        # schemas (e.g. HPD registrations puts buildingid/boroid
        # up front) — a positional bind would silently cross-load
        # nearly every column
        frames.append(
            read_csv_union_by_name(
                spark, csv_paths, table.schema, **(csv_options or {})
            )
        )
    for d in dests:
        if formats.get(d, "csv") == "excel":
            frames.append(read_excel(spark, dest_paths[d], table.schema))
        elif formats.get(d, "csv") == "shapefile":
            from nycdb_k8s_loader_spark.sources.shapefile import (
                read_shapefile_zip,
            )

            frames.append(
                read_shapefile_zip(spark, dest_paths[d], table.schema)
            )
    if not frames:
        raise ValueError(f"table {table.name}: no source files resolved")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def default_s3_client():
    """A boto3 S3 client, created when an s3:// fetch
    (fetch_to_landing) or change probe (state/lastmod.s3_transport)
    has no injected one: the one seam where both take credentials. A
    missing boto3 raises NotImplementedError here — never a silent
    skip."""
    try:
        import boto3
    except ImportError as e:
        raise NotImplementedError(
            "s3:// access requires boto3 (not in this container) "
            "or an injected s3_client; alternatively read the "
            "object directly via an s3a:// scan path"
        ) from e
    return boto3.client("s3")


def fetch_to_landing(url: str, dest: str, s3_client=None) -> None:
    """Source-file fetch covering the reference's two transports (S3/S7):
    HTTP(S) via urllib (load_dataset downloads), ``s3://`` via boto3
    (ocautil.py:56-61 / signatureutil.py:59-64 pull private buckets).

    ``s3_client`` is injectable for tests (else
    :func:`default_s3_client`). Large objects should bypass landing
    entirely and be read as ``s3a://`` URIs by the scan itself
    (read_csv accepts any Hadoop-FS scheme when the connector jars are
    on the classpath: spark.jars.packages
    org.apache.hadoop:hadoop-aws).
    """
    from urllib.parse import urlparse

    parsed = urlparse(url)
    if parsed.scheme == "s3":
        (s3_client or default_s3_client()).download_file(
            parsed.netloc, parsed.path.lstrip("/"), dest
        )
        return
    import urllib.request

    urllib.request.urlretrieve(url, dest)  # pragma: no cover - network
