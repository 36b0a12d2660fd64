#!/usr/bin/env python
"""Spot-check named catalog queries against their DuckDB oracles —
the same row-count/value-hash compare as ``bench.py --sweep`` but for
an explicit subset, so an optimization loop can verify equivalence in
seconds instead of sweeping all 168 entries.

Each invocation runs under its own fresh temp dir, removed at exit: the
streaming entries (st06, st12-st15, c08's states) key their stream
checkpoints and sinks under the temp dir by fixture path and mtime, so
under a shared temp dir a re-check would consume no new input and hash
the previous run's sink.

Usage: python tools/check_queries.py q1 q2 ...   [env SPARK_GRAFT_SWEEP_DIR]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    with tempfile.TemporaryDirectory(prefix="check-queries-") as tmp:
        # before Spark starts, so its Python workers inherit it too
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        failures = check(sys.argv[1:])
    sys.exit(1 if failures else 0)


def check(names: list[str]) -> int:
    """Compare each named query with its oracle; the mismatch count."""
    import duckdb

    from bench import vhash

    from nycdb_k8s_loader_spark.plans.catalog import QUERIES, _load_all
    from nycdb_k8s_loader_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SWEEP_DIR", "/root/testdata/sf0.01")
    spark = get_spark(app_name="check-queries")
    _load_all()
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    failures = 0
    for name in names:
        spec = QUERIES[name]
        spdf = spec.fn(spark, sf_dir).toPandas()
        if spec.oracle is None:
            print(f"{name}: {len(spdf)} rows (no oracle)")
            continue
        dpdf = con.execute(spec.oracle).fetchdf()
        ok = len(spdf) == len(dpdf) and vhash(spdf) == vhash(dpdf)
        print(f"{name}: {'OK' if ok else 'MISMATCH'} "
              f"(spark {len(spdf)} rows, oracle {len(dpdf)} rows)")
        failures += 0 if ok else 1
    spark.stop()
    return failures


if __name__ == "__main__":
    main()
