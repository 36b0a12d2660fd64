"""Transpiler tests: every rewrite exercised with the construct shapes
found in the reference's SQL fixtures
(/root/reference/tests/sql/wow_2021_create_bldgs_table.sql), then
executed end-to-end through spark.sql on synthetic tables."""

from __future__ import annotations

import pytest

from nycdb_k8s_loader_spark.publish.transpile import (
    rewrite_table_fn_calls,
    transpile_pg,
)


class TestTextRewrites:
    def test_simple_cast(self):
        assert transpile_pg("SELECT x::int FROM t") == "SELECT CAST(x AS INT) FROM t"

    def test_coalesce_cast_shape(self):
        # wow_2021 sql:69-72 shape
        out = transpile_pg("coalesce(violations.total, 0)::int")
        assert out == "CAST(coalesce(violations.total, 0) AS INT)"

    def test_smallint_cast(self):
        assert "CAST(x AS SMALLINT)" in transpile_pg("SELECT x::smallint")

    def test_interval_cast(self):
        # wow_2021 sql:58 shape
        out = transpile_pg(
            "WHERE h.receiveddate > CURRENT_DATE - '3 YEARS'::INTERVAL"
        )
        assert "INTERVAL '3 YEARS'" in out
        assert "::" not in out

    def test_eq_any(self):
        # wow_2021 sql:14 shape
        out = transpile_pg("WHERE doctype = any('{DEED,DEEDO}')")
        assert out == "WHERE doctype IN ('DEED', 'DEEDO')"

    def test_regex_ci(self):
        # wow_2021 sql:120 shape
        out = transpile_pg("WHERE description ~* '421a'")
        assert out == "WHERE description RLIKE '(?i)421a'"

    def test_regex_negated(self):
        assert "NOT RLIKE '(?i)x'" in transpile_pg("a !~* 'x'")

    def test_string_agg_ordered(self):
        # db_perms.py:36 shape + ordering
        out = transpile_pg("string_agg(tg.privilege_type, ', ' ORDER BY tg.privilege_type)")
        assert (
            out
            == "listagg(tg.privilege_type, ', ') WITHIN GROUP (ORDER BY tg.privilege_type)"
        )

    def test_json_build_object(self):
        # wow_2021 sql:44 shape
        out = transpile_pg("json_build_object('type', complainttype, 'count', c)")
        assert out == "to_json(named_struct('type', complainttype, 'count', c))"

    def test_distinct_on(self):
        # wow_2021 sql:67 shape (no ORDER BY → key order tiebreak)
        out = transpile_pg("SELECT DISTINCT ON (bbl) bbl, a, b FROM regs")
        assert "row_number() OVER (PARTITION BY bbl ORDER BY bbl)" in out
        assert "__rn = 1" in out

    def test_distinct_on_preserves_ctas_prefix(self):
        """Regression: the rewrite used to DROP everything before the
        SELECT — 'CREATE TABLE t AS SELECT DISTINCT ON ...' lost its
        CTAS and silently became a bare query."""
        out = transpile_pg(
            "CREATE TABLE t AS SELECT DISTINCT ON (k) k, v FROM s"
        )
        assert out.startswith("CREATE TABLE t AS SELECT")
        assert "row_number() OVER (PARTITION BY k" in out

    def test_paren_cast(self):
        out = transpile_pg("SELECT (a || ' ' || b)::text FROM t")
        assert out == "SELECT CAST((a || ' ' || b) AS STRING) FROM t"

    def test_paren_cast_absorbs_function(self):
        out = transpile_pg("SELECT nullif(trim(x), '')::int FROM t")
        assert out == "SELECT CAST(nullif(trim(x), '') AS INT) FROM t"

    def test_paren_cast_chained(self):
        out = transpile_pg("SELECT (x + 1)::int::text FROM t")
        assert out == "SELECT CAST(CAST((x + 1) AS INT) AS STRING) FROM t"

    def test_json_agg_plain(self):
        out = transpile_pg("SELECT json_agg(x) FROM t GROUP BY k")
        assert out == "SELECT to_json(collect_list(x)) FROM t GROUP BY k"

    def test_json_agg_ordered_with_filter(self):
        # wow_2021 sql:43-46 shape: ordered json_agg of built objects
        # with a FILTER clause — the FILTER must land on collect_list
        out = transpile_pg(
            "json_agg(json_build_object('t', ct, 'c', n) ORDER BY n DESC) "
            "FILTER (WHERE n > 0)"
        )
        assert "collect_list(named_struct('__o0', n, '__v', "
        assert "FILTER (WHERE n > 0)," in out.replace("  ", " ") or \
            "FILTER (WHERE n > 0)" in out
        assert "array_sort(" in out and "transform(" in out
        # DESC key: comparator returns 1 when l < r
        assert "WHEN l.__o0 < r.__o0 THEN 1" in out
        # the inner to_json was unwrapped: elements are structs
        assert out.count("to_json(") == 1

    @pytest.mark.parametrize(
        "pg, expected",
        [
            # literal content is data: never rewritten
            ("select 'string_agg(a, b)' as x from t",
             "select 'string_agg(a, b)' as x from t"),
            ("select 'a::int' as x from t", "select 'a::int' as x from t"),
            # a call name inside a literal argument is not a call
            ("json_build_object('k', 'json_build_object(1)')",
             "to_json(named_struct('k', 'json_build_object(1)'))"),
            # nor is anything inside a comment
            ("select a -- a::int\nfrom t", "select a -- a::int\nfrom t"),
        ],
    )
    def test_literals_and_comments_are_opaque(self, pg, expected):
        assert transpile_pg(pg) == expected

    @pytest.mark.parametrize(
        "arg, parsed",
        [
            # Python number spellings that are not SQL numeric
            # literals: the call is left untouched
            ("inf", None),
            ("nan", None),
            ("infinity", None),
            ("1_000", None),
            ("-2", [-2]),
            ("2.5", [2.5]),
            ("1e3", [1000.0]),
            ("'x'", ["x"]),
        ],
    )
    def test_table_fn_arguments_are_sql_literals(self, arg, parsed):
        seen = []
        sql = f"SELECT * FROM wow.f({arg}) x"
        out = rewrite_table_fn_calls(
            sql, lambda name, args: seen.append(args) or "v"
        )
        if parsed is None:
            assert (out, seen) == (sql, [])
        else:
            assert (out, seen) == ("SELECT * FROM v x", [parsed])

    def test_vestigial_from_using_dropped(self):
        # wow_2021 sql:60: FROM <table> USING(col) with no JOIN
        out = transpile_pg("SELECT a FROM joined_view USING(complaintid)")
        assert out == "SELECT a FROM joined_view "
        # JOIN ... USING untouched
        out2 = transpile_pg("SELECT a FROM x JOIN y USING(k)")
        assert "USING(k)" in out2


class TestExecutesOnSpark:
    @pytest.fixture()
    def views(self, spark):
        spark.createDataFrame(
            [
                ("doc1", "DEED", 150.0, "2024-01-05"),
                ("doc2", "DEEDO", 0.5, "2024-02-01"),
                ("doc3", "MTGE", 900.0, "2024-03-01"),
            ],
            "documentid string, doctype string, docamount double, docdate string",
        ).createOrReplaceTempView("master_t")
        spark.createDataFrame(
            [("1000010001", "doc1"), ("1000010001", "doc2"), ("2000020002", "doc3")],
            "bbl string, documentid string",
        ).createOrReplaceTempView("legals_t")

    def test_deeds_filter_pipeline(self, spark, views):
        # the firstdeeds CTE shape (wow_2021 sql:6-16) transpiled whole
        pg = """
        SELECT l.bbl, m.documentid, m.docamount::int AS amount
        FROM master_t m
        JOIN legals_t l ON m.documentid = l.documentid
        WHERE m.doctype = any('{DEED,DEEDO}') AND m.docamount > 1
        """
        rows = spark.sql(transpile_pg(pg)).collect()
        assert [(r["bbl"], r["amount"]) for r in rows] == [("1000010001", 150)]

    def test_distinct_on_pipeline(self, spark, views):
        pg = "SELECT DISTINCT ON (bbl) bbl, documentid FROM legals_t ORDER BY documentid DESC"
        rows = {
            r["bbl"]: r["documentid"]
            for r in spark.sql(transpile_pg(pg)).collect()
        }
        assert rows == {"1000010001": "doc2", "2000020002": "doc3"}

    def test_regex_and_interval(self, spark, views):
        pg = """
        SELECT documentid FROM master_t
        WHERE doctype ~* 'deed'
          AND docdate::date > DATE '2024-03-01' - '60 DAYS'::INTERVAL
        """
        rows = spark.sql(transpile_pg(pg)).collect()
        # cutoff = 2024-01-01; doc1 (01-05) and doc2 (02-01) qualify
        assert {r["documentid"] for r in rows} == {"doc1", "doc2"}

    def test_json_agg_object_shape(self, spark, views):
        pg = """
        SELECT l.bbl,
               string_agg(json_build_object('type', m.doctype, 'amt', m.docamount),
                          ',' ORDER BY m.documentid) AS docs
        FROM master_t m JOIN legals_t l ON m.documentid = l.documentid
        GROUP BY l.bbl
        """
        rows = {r["bbl"]: r["docs"] for r in spark.sql(transpile_pg(pg)).collect()}
        assert rows["1000010001"] == (
            '{"type":"DEED","amt":150.0},{"type":"DEEDO","amt":0.5}'
        )


REFERENCE_SQL_DIR = "/root/reference/tests/sql"


@pytest.mark.skipif(
    not __import__("os").path.isdir(REFERENCE_SQL_DIR),
    reason="reference checkout not present",
)
class TestReferenceScriptsParse:
    """Integration parity: the reference's real SQL transformation
    scripts, transpiled, must be *parseable* Spark SQL (analysis will
    still fail on missing tables — we assert no ParseException). This
    is the 'run the reference's scripts verbatim' path (SURVEY §4.3
    option b) checked against the genuine artifacts."""

    def _statements(self, text: str) -> list[str]:
        from nycdb_k8s_loader_spark.publish.parse_created_tables import (
            split_statements,
        )

        return split_statements(text)

    def test_wow_scripts_transpile_to_parseable_spark_sql(self, spark):
        import os

        from pyspark.errors import ParseException

        checked = 0
        for fname in sorted(os.listdir(REFERENCE_SQL_DIR)):
            if not fname.endswith(".sql"):
                continue
            text = open(os.path.join(REFERENCE_SQL_DIR, fname)).read()
            for stmt in self._statements(text):
                s = stmt.strip()
                if not s:
                    continue
                up = s.upper()
                # index DDL is recorded+ignored (K7); function DDL is
                # routed to the function registry (O10), not spark.sql
                if up.startswith("CREATE INDEX") or "FUNCTION" in up.split("(")[0]:
                    continue
                out = transpile_pg(s)
                try:
                    spark._jsparkSession.sessionState().sqlParser().parsePlan(out)
                except ParseException as exc:  # pragma: no cover
                    raise AssertionError(f"{fname}: unparseable after transpile:\n{out}") from exc
                except Exception:
                    # Py4J wraps ParseException; anything else (analysis)
                    # is fine — tables don't exist here.
                    err = str(__import__("sys").exc_info()[1])
                    assert "ParseException" not in err, f"{fname}:\n{out}\n{err}"
                checked += 1
        # three fixture scripts, each: big CTAS + drop + rename (+
        # CREATE INDEX rows skipped) => 7 parseable statements today
        assert checked >= 7


@pytest.mark.skipif(
    not __import__("os").path.isdir(REFERENCE_SQL_DIR),
    reason="reference checkout not present",
)
class TestReferenceWow2020Executes:
    """Beyond parse parity: the reference's wow_2020 bldgs script runs
    END-TO-END through transpile + SearchPathResolver on synthesized
    source tables, and the produced wow_bldgs carries the expected
    values. (The 2021 variant is parse-only fixture text upstream — it
    references an undefined ``h.`` alias that no engine, Postgres
    included, could resolve; 2020 is the newest executable variant.)

    first()/DISTINCT ON determinism: the fixture gives every bbl
    exactly one qualifying deed and one registration row, so the
    order-dependent picks are single-candidate and the assertion is
    exact."""

    def test_wow_2020_runs_end_to_end(self, spark):
        import os

        from nycdb_k8s_loader_spark.publish.parse_created_tables import (
            split_statements,
        )
        from nycdb_k8s_loader_spark.publish.resolver import (
            SearchPathResolver,
        )

        def view(name, data, schema):
            spark.createDataFrame(data, schema).createOrReplaceTempView(name)

        view(
            "hpd_registrations_with_contacts",
            [(1, "B1", "MN"), (2, "B2", "BK")],
            "registrationid int, bbl string, boro string",
        )
        view(
            "hpd_violations",
            [("B1", "Open"), ("B1", "Close"), ("B2", "Close")],
            "bbl string, violationstatus string",
        )
        view(
            "pluto_19v2",
            [("B1", 10, 1920, 40.7, -73.9)],
            "bbl string, unitsres int, yearbuilt int, lat double, lng double",
        )
        view(
            "marshal_evictions_19",
            [("B1", "RESIDENTIAL"), ("B1", "RESIDENTIAL"),
             ("B1", "COMMERCIAL"), ("B2", "RESIDENTIAL")],
            "bbl string, residentialcommercialind string",
        )
        view(
            "rentstab_summary",
            [("B1", 12, 8, -4, -33.3)],
            "ucbbl string, unitsstab2007 int, unitsstab2017 int, "
            "diff int, percentchange double",
        )
        view(
            "real_property_master",
            # B1: one DEED (kept), one MTGE (doctype-filtered), one
            # cheap DEED (amount-filtered) -> single candidate
            [("D1", "DEED", "2019-05-01", "2019-05-02", 1000.5),
             ("D2", "MTGE", "2020-01-01", "2020-01-01", 9000.0),
             ("D3", "DEED", "2020-06-01", "2020-06-01", 1.0)],
            "documentid string, doctype string, docdate string, "
            "recordedfiled string, docamount double",
        )
        view(
            "real_property_legals",
            [("D1", "B1"), ("D2", "B1"), ("D3", "B1")],
            "documentid string, bbl string",
        )

        spark.sql("CREATE DATABASE IF NOT EXISTS ref2020")
        resolver = SearchPathResolver(spark, ["ref2020"], ddl_db="ref2020")
        text = open(
            os.path.join(REFERENCE_SQL_DIR, "wow_2020_create_bldgs_table.sql")
        ).read()
        try:
            ran = 0
            for stmt in split_statements(text):
                s = stmt.strip()
                if not s or s.upper().startswith("CREATE INDEX"):
                    continue
                resolver.sql(transpile_pg(s))
                ran += 1
            assert ran == 2  # drop-if-exists + the CTAS
            rows = {
                r["bbl"]: r
                for r in spark.table("ref2020.wow_bldgs").collect()
            }
            assert set(rows) == {"B1", "B2"}
            b1 = rows["B1"]
            assert b1["registrationid"] == 1 and b1["boro"] == "MN"
            assert b1["totalviolations"] == 2
            assert b1["openviolations"] == 1
            assert b1["unitsres"] == 10 and b1["yearbuilt"] == 1920
            assert b1["evictions"] == 2  # RESIDENTIAL only
            assert b1["rsunits2007"] == 12 and b1["rsunits2017"] == 8
            assert b1["rsdiff"] == -4
            assert b1["lastsaleacrisid"] == "D1"
            assert float(b1["lastsaleamount"]) == 1000.5
            b2 = rows["B2"]
            assert b2["totalviolations"] == 1 and b2["openviolations"] == 0
            assert b2["lastsaleacrisid"] is None
            assert b2["unitsres"] is None
        finally:
            spark.sql("DROP DATABASE IF EXISTS ref2020 CASCADE")


@pytest.mark.skipif(
    not __import__("os").path.isdir(REFERENCE_SQL_DIR),
    reason="reference checkout not present",
)
class TestReferenceWow2021Executes:
    """The reference's WIDEST script (wow_2021_create_bldgs_table.sql —
    12 source tables, json_agg-of-objects with ORDER BY + FILTER,
    interval arithmetic, ~* regex, exemption classification joins) runs
    END-TO-END with exact value assertions — round-6 verdict item #5.

    ONE documented patch (asserted against the fixture text below so an
    upstream fix surfaces here): the complaints subquery reads ``from
    hpd_complaints_and_problems using(complaintid)`` yet filters on an
    ``h.receiveddate`` alias that NO engine (Postgres included) could
    resolve — the upstream WOW query this fixture abridges joins
    ``hpd_complaints h`` to ``hpd_complaint_problems``. The patch
    restores exactly that join and nothing else; every other byte of
    the reference SQL executes as shipped (CREATE INDEX excepted, K7).
    """

    _BROKEN = "from hpd_complaints_and_problems using(complaintid)"
    _PATCH = (
        "from hpd_complaints as h join hpd_complaint_problems "
        "using(complaintid)"
    )

    def test_wow_2021_runs_end_to_end(self, spark):
        import datetime as dt
        import os

        from nycdb_k8s_loader_spark.publish.parse_created_tables import (
            split_statements,
        )
        from nycdb_k8s_loader_spark.publish.resolver import (
            SearchPathResolver,
        )

        def view(name, data, schema):
            spark.createDataFrame(data, schema).createOrReplaceTempView(name)

        view(
            "hpd_registrations_with_contacts",
            [(1, "B1", "MN"), (2, "B2", "BK")],
            "registrationid int, bbl string, boro string",
        )
        view(
            "hpd_violations",
            [("B1", "Open"), ("B1", "Close"), ("B2", "Close")],
            "bbl string, violationstatus string",
        )
        view(
            "pluto_19v2",
            [("B1", 10, 1920, 40.7, -73.9)],
            "bbl string, unitsres int, yearbuilt int, lat double, lng double",
        )
        view(
            "marshal_evictions_all",
            [("B1", "RESIDENTIAL"), ("B1", "RESIDENTIAL"),
             ("B1", "COMMERCIAL"), ("B2", "RESIDENTIAL")],
            "bbl string, residentialcommercialind string",
        )
        view(
            "rentstab_summary",
            [("B1", 12)],
            "ucbbl string, unitsstab2007 int",
        )
        view(
            "rentstab_v2",
            [("B1", 8)],
            "ucbbl string, uc2021 int",
        )
        # complaints: C1 recent (always > CURRENT_DATE - 3y until 2098),
        # C2 ancient; GENERAL major falls through to the minor category
        view(
            "hpd_complaints",
            [(100, "B1", dt.date(2100, 1, 1)),
             (101, "B1", dt.date(2000, 1, 1))],
            "complaintid int, bbl string, receiveddate date",
        )
        view(
            "hpd_complaint_problems",
            [(100, "HEAT/HOT WATER", "APARTMENT"),
             (101, "GENERAL", "COOKING GAS")],
            "complaintid int, majorcategory string, minorcategory string",
        )
        view(
            "dof_exemptions",
            # B1: one J-51, one 421a, one unrelated (WHERE-filtered)
            [("B1", 1, 1995), ("B1", 2, 2005), ("B1", 3, 2010)],
            "bbl string, exmpcode int, benftstart int",
        )
        view(
            "dof_exemption_classification_codes",
            [(1, "J-51 ALTERATION"), (2, "421A NEW CONSTRUCTION"),
             (3, "VETERAN")],
            "exemptcode int, description string",
        )
        view(
            "real_property_master",
            # B1: one DEED kept, one MTGE (doctype-filtered), one $1
            # DEED (amount-filtered) -> the first() pick is single-
            # candidate, so order-dependence cannot bite
            [("D1", "DEED", "2019-05-01", "2019-05-02", 1000.5),
             ("D2", "MTGE", "2020-01-01", "2020-01-01", 9000.0),
             ("D3", "DEED", "2020-06-01", "2020-06-01", 1.0)],
            "documentid string, doctype string, docdate string, "
            "recordedfiled string, docamount double",
        )
        view(
            "real_property_legals",
            [("D1", "B1"), ("D2", "B1"), ("D3", "B1")],
            "documentid string, bbl string",
        )

        text = open(
            os.path.join(REFERENCE_SQL_DIR, "wow_2021_create_bldgs_table.sql")
        ).read()
        # the documented patch (see class docstring): if the fixture no
        # longer carries the broken fragment, this test needs updating
        assert self._BROKEN in text
        text = text.replace(self._BROKEN, self._PATCH)

        spark.sql("CREATE DATABASE IF NOT EXISTS ref2021")
        resolver = SearchPathResolver(spark, ["ref2021"], ddl_db="ref2021")
        try:
            ran = 0
            for stmt in split_statements(text):
                s = stmt.strip()
                if not s or s.upper().startswith("CREATE INDEX"):
                    continue
                resolver.sql(transpile_pg(s))
                ran += 1
            # CTAS + DROP CASCADE + ALTER RENAME (index skipped)
            assert ran == 3
            rows = {
                r["bbl"]: r
                for r in spark.table("ref2021.wow_bldgs").collect()
            }
            assert set(rows) == {"B1", "B2"}
            b1 = rows["B1"]
            assert b1["registrationid"] == 1 and b1["boro"] == "MN"
            assert b1["totalviolations"] == 2
            assert b1["openviolations"] == 1
            assert b1["totalcomplaints"] == 2
            assert b1["recentcomplaints"] == 1
            # only the recent type survives the FILTER; GENERAL fell
            # through to its minor category but was not recent
            assert "HEAT/HOT WATER" in b1["recentcomplaintsbytype"]
            assert "COOKING GAS" not in b1["recentcomplaintsbytype"]
            assert b1["unitsres"] == 10 and b1["yearbuilt"] == 1920
            assert b1["evictions"] == 2  # RESIDENTIAL only
            assert b1["rsunits2007"] == 12
            assert b1["rsunitslatest"] == 8
            assert b1["rsunitslatestyear"] == 2021
            assert b1["rsdiff"] == -4
            assert b1["yearstartedj51"] == 1995
            assert b1["yearstarted421a"] == 2005  # ~* '421a' matched
            assert b1["lastsaleacrisid"] == "D1"
            assert float(b1["lastsaleamount"]) == 1000.5
            b2 = rows["B2"]
            assert b2["totalviolations"] == 1 and b2["openviolations"] == 0
            assert b2["totalcomplaints"] == 0 and b2["recentcomplaints"] == 0
            assert b2["recentcomplaintsbytype"] is None
            assert b2["evictions"] == 1
            assert b2["rsunits2007"] is None
            assert b2["yearstartedj51"] is None
            assert b2["lastsaleacrisid"] is None
        finally:
            spark.sql("DROP DATABASE IF EXISTS ref2021 CASCADE")
