"""Source-reader tests (S4/S7/S8): non-local Hadoop-FS URI scans and
the S3 fetch dispatch seam."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from nycdb_k8s_loader_spark.sources.readers import (
    fetch_to_landing,
    read_csv,
)

SCHEMA = T.StructType(
    [
        T.StructField("bbl", T.StringType()),
        T.StructField("units", T.IntegerType()),
    ]
)


class TestNonLocalUriScan:
    def test_read_csv_accepts_hadoop_fs_uris(self, spark, tmp_path):
        """S7's scan half: the typed CSV reader must resolve scheme-
        qualified URIs through the Hadoop FS layer (file:// here —
        s3a:// is the same code path with the connector jars on the
        classpath), not assume bare local paths."""
        p = tmp_path / "bldgs.csv"
        p.write_text("bbl,units\n1000010001,10\n2000020002,5\n")
        df = read_csv(spark, f"file://{p}", SCHEMA)
        assert df.count() == 2
        # and a mixed local+URI multi-file scan unions at scan time
        p2 = tmp_path / "more.csv"
        p2.write_text("bbl,units\n3000030003,7\n")
        assert read_csv(spark, [f"file://{p}", str(p2)], SCHEMA).count() == 3


class TestHeaderNameBoundScan:
    """read_csv_union_by_name (r5 ADVICE): registry CSVs bind by header
    NAME, so a portal export whose column order differs from the
    registry schema declaration still loads correctly — a positional
    bind would silently cross-load nearly every column."""

    def test_reordered_portal_columns_bind_by_name(self, spark, tmp_path):
        from nycdb_k8s_loader_spark.sources.readers import (
            read_csv_union_by_name,
        )

        schema = T.StructType([
            T.StructField("registrationid", T.IntegerType()),
            T.StructField("bbl", T.StringType()),
            T.StructField("boro", T.StringType()),
            T.StructField("buildingid", T.IntegerType()),
        ])
        # real-portal order: buildingid first, bbl/boro in the middle —
        # NOT the registry declaration order
        p = tmp_path / "portal.csv"
        p.write_text(
            "BuildingID,BBL,Boro,RegistrationID\n"
            "77,1000010001,MN,5\n"
        )
        row = read_csv_union_by_name(spark, [str(p)], schema).first()
        assert (row["registrationid"], row["bbl"],
                row["boro"], row["buildingid"]) == (5, "1000010001", "MN", 77)

    def test_headerless_request_rejected(self, spark, tmp_path):
        """r6 ADVICE: header=False would bind column names from a DATA
        row — refuse loudly instead."""
        import pytest as _pytest

        from nycdb_k8s_loader_spark.sources.readers import (
            read_csv_union_by_name,
        )

        schema = T.StructType([T.StructField("a", T.IntegerType())])
        p = tmp_path / "x.csv"
        p.write_text("a\n1\n")
        with _pytest.raises(ValueError, match="headered"):
            read_csv_union_by_name(spark, [str(p)], schema, header=False)

    def test_mixed_vintages_union_with_null_padding(self, spark, tmp_path):
        from nycdb_k8s_loader_spark.sources.readers import (
            read_csv_union_by_name,
        )

        schema = T.StructType([
            T.StructField("id", T.IntegerType()),
            T.StructField("bbl", T.StringType()),
            T.StructField("units", T.IntegerType()),
        ])
        old = tmp_path / "v2019.csv"
        old.write_text("id,bbl\n1,BBL1\n")  # narrow vintage
        new = tmp_path / "v2024.csv"
        new.write_text("units,id,bbl,extra\n9,2,BBL2,x\n")  # reordered+extra
        got = {
            r["id"]: (r["bbl"], r["units"])
            for r in read_csv_union_by_name(
                spark, [str(old), str(new)], schema
            ).collect()
        }
        assert got == {1: ("BBL1", None), 2: ("BBL2", 9)}

    def test_disjoint_header_fails_loudly(self, spark, tmp_path):
        from nycdb_k8s_loader_spark.sources.readers import (
            read_csv_union_by_name,
        )

        schema = T.StructType([T.StructField("bbl", T.StringType())])
        p = tmp_path / "garbage.csv"
        p.write_text("1000010001,10\nxx,yy\n")  # headerless dump
        with pytest.raises(ValueError, match="shares no column names"):
            read_csv_union_by_name(spark, [str(p)], schema)

    def test_registry_load_binds_real_portal_order(self, spark, tmp_path):
        """End-to-end through Engine.load: an hpd_registrations CSV in
        the PORTAL's column order (buildingid/boroid up front) must
        publish with every value in its right column."""
        from nycdb_k8s_loader_spark.datasets import wow_registry
        from nycdb_k8s_loader_spark.engine import Engine
        from nycdb_k8s_loader_spark.state.kvstore import DictKVStore
        from nycdb_k8s_loader_spark.state.lastmod import FetchResult

        csv_text = (
            "RegistrationID,BuildingID,BoroID,Boro,HouseNumber,"
            "LowHouseNumber,HighHouseNumber,StreetName,StreetCode,Zip,"
            "Block,Lot,BIN,CommunityBoard,LastRegistrationDate,"
            "RegistrationEndDate,BBL\n"
            "11,900,1,MN,10,10,12,MAIN ST,123,10001,5,7,1000001,101,"
            "2024-01-01T00:00:00,2025-01-01T00:00:00,1000050007\n"
        )
        eng = Engine(
            spark,
            wow_registry(),
            DictKVStore(),
            target_db="portal_order_test",
            landing_root=str(tmp_path / "landing"),
            transport=lambda url, headers: FetchResult(200, etag='"p"'),
            downloader=lambda url, dest: open(dest, "w").write(csv_text),
        )
        try:
            eng.load("hpd_registrations")
            row = spark.table(
                "portal_order_test.hpd_registrations"
            ).first()
            assert row["registrationid"] == 11
            assert row["buildingid"] == 900
            assert row["bbl"] == "1000050007"
            assert row["boro"] == "MN"
            assert row["block"] == 5 and row["lot"] == 7
        finally:
            spark.sql(
                "DROP DATABASE IF EXISTS portal_order_test CASCADE"
            )


class FakeS3:
    """boto3 S3 client stand-in: every object has ``etag`` and one
    fixed LastModified."""

    def __init__(self):
        self.calls = []
        self.etag = '"e1"'

    def download_file(self, bucket, key, dest):
        self.calls.append((bucket, key))
        with open(dest, "w") as f:
            f.write("bbl,units\n1000010001,10\n")

    def head_object(self, Bucket, Key):  # noqa: N803 - boto3 signature
        import datetime

        self.calls.append((Bucket, Key))
        return {
            "ETag": self.etag,
            "LastModified": datetime.datetime(
                2024, 5, 6, 7, 8, 9, tzinfo=datetime.timezone.utc
            ),
        }


class TestS3Fetch:
    def test_s3_url_dispatches_to_client(self, tmp_path):
        s3 = FakeS3()
        dest = str(tmp_path / "oca.csv")
        fetch_to_landing(
            "s3://oca-data/public/oca_addresses.csv", dest, s3_client=s3
        )
        assert s3.calls == [("oca-data", "public/oca_addresses.csv")]
        assert open(dest).read().startswith("bbl,units")

    def test_missing_boto3_raises_at_the_seam(self, tmp_path, monkeypatch):
        """Without boto3 the s3:// path must fail loudly at the
        credential seam, not silently skip the download."""
        import sys

        monkeypatch.setitem(sys.modules, "boto3", None)  # import fails
        with pytest.raises(NotImplementedError, match="boto3"):
            fetch_to_landing("s3://bucket/key.csv", str(tmp_path / "x.csv"))

    def test_engine_default_downloader_lands_s3_sources(
        self, spark, tmp_path, monkeypatch
    ):
        """The registry declares s3:// sources (oca, signature); an
        Engine built without a downloader lands them through
        fetch_to_landing's s3 branch (boto3 is faked, so no network)."""
        import sys
        import types

        from nycdb_k8s_loader_spark.datasets import wow_registry
        from nycdb_k8s_loader_spark.engine import Engine
        from nycdb_k8s_loader_spark.state.kvstore import DictKVStore

        s3 = FakeS3()
        fake_boto3 = types.ModuleType("boto3")
        fake_boto3.client = lambda service: s3 if service == "s3" else None
        monkeypatch.setitem(sys.modules, "boto3", fake_boto3)

        reg = wow_registry()
        eng = Engine(
            spark, reg, DictKVStore(), target_db="s3_default_test",
            landing_root=str(tmp_path / "landing"),
        )
        paths = eng.land_sources(reg.get("signature"))
        assert s3.calls == [
            ("signature-data", "signature_unhp_buildings.csv"),
            ("signature-data", "signature_unhp_loan_status.csv"),
        ]
        assert open(paths["signature_unhp_buildings.csv"]).read().startswith(
            "bbl,units"
        )


class TestS3ChangeProbe:
    URL = "s3://oca-data/public/oca_index.csv"

    def test_head_object_answers_200_then_304(self):
        from nycdb_k8s_loader_spark.state.lastmod import s3_transport

        s3 = FakeS3()
        first = s3_transport(self.URL, {}, s3_client=s3)
        assert (first.status_code, first.etag, first.last_modified) == (
            200, '"e1"', "Mon, 06 May 2024 07:08:09 GMT"
        )
        same = s3_transport(self.URL, {"If-None-Match": '"e1"'}, s3_client=s3)
        assert same.status_code == 304
        s3.etag = '"e2"'
        moved = s3_transport(self.URL, {"If-None-Match": '"e1"'}, s3_client=s3)
        assert (moved.status_code, moved.etag) == (200, '"e2"')
        assert s3.calls == [("oca-data", "public/oca_index.csv")] * 3

    def test_default_gate_probes_s3_sources(self, monkeypatch):
        """An Engine's default transport answers s3:// registry URLs
        (oca, signature) through the S3 client instead of an HTTP GET;
        the second check skips. boto3 is faked, so no network."""
        import sys
        import types

        from nycdb_k8s_loader_spark.state.kvstore import DictKVStore
        from nycdb_k8s_loader_spark.state.lastmod import UrlModTracker

        s3 = FakeS3()
        fake_boto3 = types.ModuleType("boto3")
        fake_boto3.client = lambda service: s3 if service == "s3" else None
        monkeypatch.setitem(sys.modules, "boto3", fake_boto3)

        kv = DictKVStore()
        tracker = UrlModTracker([self.URL], kv)
        assert tracker.did_any_urls_change()
        tracker.update_lastmods()
        assert not UrlModTracker([self.URL], kv).did_any_urls_change()
        assert len(s3.calls) == 2


class TestShapefile:
    """S6 closed: stdlib .shp/.dbf parsing (reference boundaries
    source, tests/test_load_dataset.py:46-51 loads a zipped shapefile
    via shp2pgsql; here struct-parsed to attributes + WKT)."""

    def _zip(self, tmp_path, fields, records):
        from fixture_gen import write_shapefile_zip

        p = tmp_path / "fix.zip"
        p.write_bytes(write_shapefile_zip(fields, records))
        return str(p)

    def test_polygon_multiring_roundtrip(self, tmp_path):
        import zipfile

        from nycdb_k8s_loader_spark.sources.shapefile import (
            parse_dbf,
            parse_shp,
        )

        outer = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
        hole = [(1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 1.0)]
        path = self._zip(
            tmp_path,
            [("name", "C", 10, 0), ("area", "N", 12, 2), ("ok", "L", 1, 0)],
            [(["sq", 7.5, "T"], [outer, hole]), (["pt", None, "F"], (3.0, 9.0))],
        )
        with zipfile.ZipFile(path) as zf:
            geoms = parse_shp(zf.read("layer.shp"))
            names, recs = parse_dbf(zf.read("layer.dbf"))
        assert geoms[0] == (
            "POLYGON ((0.0 0.0, 4.0 0.0, 4.0 4.0, 0.0 4.0, 0.0 0.0), "
            "(1.0 1.0, 2.0 1.0, 2.0 2.0, 1.0 1.0))"
        )
        assert geoms[1] == "POINT (3.0 9.0)"
        assert names == ["name", "area", "ok"]
        assert recs[0] == ["sq", 7.5, True]
        assert recs[1] == ["pt", None, False]

    def test_multi_outer_rings_emit_multipolygon(self, tmp_path):
        """r5 ADVICE: ESRI type 5 also encodes multipolygons — outer
        rings wind CLOCKWISE per the spec, holes counter-clockwise.
        Two outers must become MULTIPOLYGON; rendering them as one
        POLYGON ring list would turn the island into a HOLE in WKT
        semantics (real NYC NTA boundaries include multipolygons)."""
        import zipfile

        from nycdb_k8s_loader_spark.sources.shapefile import parse_shp

        # CW outer with a CCW hole, plus a second CW outer (island)
        outer1 = [(0.0, 0.0), (0.0, 4.0), (4.0, 4.0), (4.0, 0.0), (0.0, 0.0)]
        hole1 = [(1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 1.0)]
        island = [(10.0, 0.0), (10.0, 2.0), (12.0, 2.0), (12.0, 0.0),
                  (10.0, 0.0)]
        path = self._zip(
            tmp_path,
            [("name", "C", 10, 0)],
            [(["multi"], [outer1, hole1, island])],
        )
        with zipfile.ZipFile(path) as zf:
            geoms = parse_shp(zf.read("layer.shp"))
        assert geoms[0] == (
            "MULTIPOLYGON ("
            "((0.0 0.0, 0.0 4.0, 4.0 4.0, 4.0 0.0, 0.0 0.0), "
            "(1.0 1.0, 2.0 1.0, 2.0 2.0, 1.0 1.0)), "
            "((10.0 0.0, 10.0 2.0, 12.0 2.0, 12.0 0.0, 10.0 0.0)))"
        )

    def test_interleaved_hole_assigned_by_containment(self, tmp_path):
        """r6 ADVICE: with multiple outers, a hole is attached to the
        outer that CONTAINS it (smallest containing ring), not to the
        immediately preceding one — a valid shapefile may interleave
        rings (hole listed after a different outer)."""
        import zipfile

        from nycdb_k8s_loader_spark.sources.shapefile import parse_shp

        outer1 = [(0.0, 0.0), (0.0, 4.0), (4.0, 4.0), (4.0, 0.0),
                  (0.0, 0.0)]
        hole_in_1 = [(1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 1.0)]
        island = [(10.0, 0.0), (10.0, 2.0), (12.0, 2.0), (12.0, 0.0),
                  (10.0, 0.0)]
        # hole follows the WRONG outer (island) in ring order
        path = self._zip(
            tmp_path,
            [("name", "C", 10, 0)],
            [(["ilv"], [island, hole_in_1, outer1])],
        )
        with zipfile.ZipFile(path) as zf:
            geoms = parse_shp(zf.read("layer.shp"))
        assert geoms[0] == (
            "MULTIPOLYGON ("
            "((10.0 0.0, 10.0 2.0, 12.0 2.0, 12.0 0.0, 10.0 0.0)), "
            "((0.0 0.0, 0.0 4.0, 4.0 4.0, 4.0 0.0, 0.0 0.0), "
            "(1.0 1.0, 2.0 1.0, 2.0 2.0, 1.0 1.0)))"
        )

    def test_read_zip_casts_by_name_and_nulls_missing(self, spark, tmp_path):
        from pyspark.sql import types as T

        from nycdb_k8s_loader_spark.sources.shapefile import (
            read_shapefile_zip,
        )

        ring = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 0.0)]
        path = self._zip(
            tmp_path,
            [("code", "C", 8, 0), ("pop", "N", 10, 0)],
            [(["A1", 42], [ring])],
        )
        schema = T.StructType([
            T.StructField("code", T.StringType()),
            T.StructField("pop", T.LongType()),
            T.StructField("absent", T.DoubleType()),
            T.StructField("geom_wkt", T.StringType()),
        ])
        rows = read_shapefile_zip(spark, path, schema).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["code"] == "A1" and r["pop"] == 42
        assert r["absent"] is None
        assert r["geom_wkt"].startswith("POLYGON ((0.0 0.0,")

    def test_bad_file_code_and_unsupported_type_raise(self, tmp_path):
        import pytest as _pytest

        from nycdb_k8s_loader_spark.sources.shapefile import parse_shp

        with _pytest.raises(ValueError, match="file code"):
            parse_shp(b"\x00" * 100)


def test_scale_generator_schema_matches_driver_testdata(spark, tmp_path):
    """tools/gen_scale_data.py must stay schema-identical to the
    driver's parquet (BENCH_sf1/sf3 claims rest on the generated
    tables exercising the same plans): generate a micro scale factor
    and compare every table's StructType field names + types against
    /root/testdata/sf0.001."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from gen_scale_data import generate

    out = str(tmp_path / "micro")
    generate(spark, 0.001, out)
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]:
        ref = spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet")
        gen = spark.read.parquet(f"{out}/{t}.parquet")
        ref_fields = [(f.name, f.dataType.simpleString())
                      for f in ref.schema.fields]
        gen_fields = [(f.name, f.dataType.simpleString())
                      for f in gen.schema.fields]
        assert gen_fields == ref_fields, f"{t}: {gen_fields} != {ref_fields}"
        assert gen.count() > 0
