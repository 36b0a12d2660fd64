"""Created-table discovery tests — shapes taken from the behaviors the
reference's parser handles (/root/reference/tests/
test_parse_created_tables.py:11-69), re-written for our parser."""

from __future__ import annotations

from nycdb_k8s_loader_spark.publish.parse_created_tables import (
    is_function_sql,
    parse_created_tables,
)


def test_simple_create():
    assert parse_created_tables("CREATE TABLE foo (bbl char(10));") == ["foo"]


def test_create_as_select():
    sql = "create table bar as select bbl, count(*) from x group by bbl;"
    assert parse_created_tables(sql) == ["bar"]


def test_multiple_creates():
    sql = "CREATE TABLE a (x int); CREATE TABLE b AS SELECT * FROM a;"
    assert parse_created_tables(sql) == ["a", "b"]


def test_rename_replaces():
    sql = "CREATE TABLE tmp_bldgs AS SELECT 1 AS x; ALTER TABLE tmp_bldgs RENAME TO bldgs;"
    assert parse_created_tables(sql) == ["bldgs"]


def test_rename_without_create_tracked():
    assert parse_created_tables("ALTER TABLE old RENAME TO new;") == ["new"]


def test_comments_ignored():
    sql = """
    -- CREATE TABLE commented_out (x int);
    /* CREATE TABLE also_commented (y int); */
    CREATE TABLE real_table (z int);
    """
    assert parse_created_tables(sql) == ["real_table"]


def test_if_not_exists_and_quoting():
    sql = 'CREATE TABLE IF NOT EXISTS "quoted" (x int);'
    assert parse_created_tables(sql) == ["quoted"]


def test_qualified_name():
    assert parse_created_tables("CREATE TABLE wow.bldgs AS SELECT 1 AS a;") == [
        "wow.bldgs"
    ]


def test_string_containing_keywords():
    sql = "CREATE TABLE t AS SELECT 'CREATE TABLE fake (x int)' AS s;"
    assert parse_created_tables(sql) == ["t"]


def test_create_inside_dollar_body_ignored():
    sql = (
        "CREATE TABLE outer_t AS SELECT 1 AS x;\n"
        "CREATE OR REPLACE FUNCTION f() RETURNS void AS $$\n"
        "  CREATE TABLE inner_t (x int);\n"
        "$$ LANGUAGE sql;"
    )
    assert parse_created_tables(sql) == ["outer_t"]


def test_function_sql_detection():
    assert is_function_sql("CREATE OR REPLACE FUNCTION f() RETURNS int AS $$ 1 $$;")
    assert is_function_sql("create   or\nreplace\tfunction g() ...")
    assert not is_function_sql("CREATE TABLE f (x int);")
    assert is_function_sql(
        "-- replayed after publish\n"
        "CREATE OR REPLACE TEMPORARY FUNCTION h(s STRING) RETURNS STRING RETURN s"
    )
    assert not is_function_sql("SELECT 'CREATE OR REPLACE FUNCTION f()' AS s")
