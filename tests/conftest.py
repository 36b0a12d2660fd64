"""Shared fixtures: one SparkSession per test session, DuckDB oracle
connection per test, sf-dir paths."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nycdb_k8s_loader_spark.session import TPCH_TABLES, get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    sp = get_spark(
        app_name="nycdb-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        warehouse_dir=warehouse,
        extra_conf={
            "spark.driver.memory": "4g",
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={warehouse}",
        },
    )
    yield sp


@pytest.fixture()
def distributed_cc(monkeypatch):
    """Keep connected components on the distributed loop: no edge
    checkpoint is small enough for the driver-side union-find exit."""
    from nycdb_k8s_loader_spark.operators import graph

    monkeypatch.setattr(graph, "_DRIVER_CC_MAX_EDGES", -1)


@pytest.fixture()
def duck():
    con = duckdb.connect()
    yield con
    con.close()


def register_duck_views(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    for t in TPCH_TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )


@pytest.fixture()
def duck_sf001(duck):
    register_duck_views(duck, SF_SMALL)
    return duck


@pytest.fixture()
def duck_sf01(duck):
    register_duck_views(duck, SF_MEDIUM)
    return duck
