"""Unit tests for operator helpers: relational determinism, graph
components, multimodal plumbing, trigram similarity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nycdb_k8s_loader_spark.functions.text_similarity import (
    normalized_name,
    trigram_similarity,
)
from nycdb_k8s_loader_spark.operators.graph import (
    cluster_assignments,
    connected_components,
)
from nycdb_k8s_loader_spark.operators.multimodal import (
    decode_media_metadata,
    sample_frames,
    synthetic_media,
)
from nycdb_k8s_loader_spark.operators.relational import (
    arg_max,
    count_where,
    latest_per_group,
)


class TestRelationalDeterminism:
    def test_latest_per_group_total_tiebreak(self, spark):
        # two rows with the SAME sort key — unique id must break the tie
        df = spark.createDataFrame(
            [(1, "2024-01-01", 100), (1, "2024-01-01", 200), (2, "2024-01-02", 300)],
            "k int, d string, id int",
        )
        out = {
            r["k"]: r["id"]
            for r in latest_per_group(df, ["k"], ["d", "id"]).collect()
        }
        assert out == {1: 200, 2: 300}

    def test_arg_max_matches_window(self, spark):
        df = spark.createDataFrame(
            [(1, "2024-01-01", 10), (1, "2024-01-02", 20), (1, "2024-01-02", 30)],
            "k int, d string, v int",
        )
        agg = df.groupBy("k").agg(arg_max("v", "d", "v").alias("v")).collect()
        assert agg[0]["v"] == 30

    def test_count_where_skips_nulls(self, spark):
        df = spark.createDataFrame([(1,), (2,), (None,)], "x int")
        n = df.agg(count_where(F.col("x") > 1).alias("n")).collect()[0]["n"]
        assert n == 1


class TestConnectedComponents:
    def test_two_components_and_chain(self, spark):
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], "src bigint, dst bigint"
        )
        comp = {
            r["node"]: r["component"]
            for r in connected_components(edges).collect()
        }
        assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    def test_loop_fences_isolated_from_caller_session(self, spark, monkeypatch):
        """The loop fence (clamped shuffle partitions) lives on a
        PRIVATE cloned session so a concurrent query planned on the
        caller's session keeps its own conf. The spy runs inside the
        loop: the caller session's conf must be untouched, the loop
        frame must live on a different session with the clamp applied
        and the caller's AQE setting, and the returned frame must be
        rebased back onto the caller."""
        from nycdb_k8s_loader_spark.operators import graph

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], "src bigint, dst bigint"
        )
        prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
        prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
        seen = {}
        orig = graph._label_propagation_loop

        def spy(raw, max_iterations):
            seen["caller_sp"] = spark.conf.get("spark.sql.shuffle.partitions")
            seen["caller_aqe"] = spark.conf.get(
                "spark.sql.adaptive.enabled", "true"
            )
            seen["loop_is_clone"] = raw.sparkSession is not spark
            seen["loop_sp"] = raw.sparkSession.conf.get(
                "spark.sql.shuffle.partitions"
            )
            seen["loop_aqe"] = raw.sparkSession.conf.get(
                "spark.sql.adaptive.enabled"
            )
            return orig(raw, max_iterations)

        monkeypatch.setattr(graph, "_label_propagation_loop", spy)
        out = graph.connected_components(edges)
        assert out.sparkSession is spark  # rebased back onto the caller
        comp = {r["node"]: r["component"] for r in out.collect()}
        assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
        assert seen["loop_is_clone"]
        assert seen["caller_sp"] == prev_sp
        assert seen["caller_aqe"] == prev_aqe
        assert seen["loop_aqe"] == prev_aqe
        assert int(seen["loop_sp"]) <= int(prev_sp)
        assert spark.conf.get("spark.sql.shuffle.partitions") == prev_sp
        assert spark.conf.get("spark.sql.adaptive.enabled", "true") == prev_aqe

    def test_repeated_loops_share_one_clone(self, spark, monkeypatch):
        """Three loops on one caller session create ONE loop session
        (a clone per call used to be created and never released)."""
        from nycdb_k8s_loader_spark.operators import graph

        graph._LOOP_SESSIONS.pop(spark, None)
        made = []
        new_session = spark.newSession

        def counting():
            made.append(new_session())
            return made[-1]

        monkeypatch.setattr(spark, "newSession", counting)
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "src bigint, dst bigint"
        )
        for _ in range(3):
            comp = {
                r["node"]: r["component"]
                for r in graph.connected_components(edges).collect()
            }
            assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
        assert len(made) == 1

    def test_concurrent_loops_on_one_caller(self, spark, monkeypatch):
        """More threads than cores run connected_components on one
        caller session at once: every answer is right, they share ONE
        clone (a lost update of the cache would make more), and the
        caller's conf is never written."""
        import sys
        from concurrent.futures import ThreadPoolExecutor

        from nycdb_k8s_loader_spark.operators import graph

        graph._LOOP_SESSIONS.pop(spark, None)
        made = []
        new_session = spark.newSession

        def counting():
            made.append(new_session())
            return made[-1]

        monkeypatch.setattr(spark, "newSession", counting)
        prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        prev_sp = spark.conf.get("spark.sql.shuffle.partitions")

        def run(i):
            base = 100 * i
            edges = spark.createDataFrame(
                [(base, base + 1), (base + 1, base + 2), (base + 50, base + 51)],
                "src bigint, dst bigint",
            )
            return {
                r["node"]: r["component"]
                for r in graph.connected_components(edges).collect()
            }

        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            with ThreadPoolExecutor(6) as pool:
                futures = [pool.submit(run, i) for i in range(6)]
                results = [f.result(timeout=300) for f in futures]
        finally:
            sys.setswitchinterval(interval)
        for i, comp in enumerate(results):
            b = 100 * i
            assert comp == {
                b: b, b + 1: b, b + 2: b, b + 50: b + 50, b + 51: b + 50
            }
        assert len(made) == 1
        assert prev_aqe == "true"
        assert spark.conf.get("spark.sql.adaptive.enabled") == prev_aqe
        assert spark.conf.get("spark.sql.shuffle.partitions") == prev_sp

    def test_caller_conf_change_reaches_next_loop(self, spark, monkeypatch):
        """A caller conf set after a loop ran (e.g. the lazily set
        legacy nanos parquet switch) is visible to the next loop."""
        from nycdb_k8s_loader_spark.operators import graph

        key = "spark.graft.test.loopConfMarker"
        seen = []
        orig = graph._label_propagation_loop

        def spy(raw, max_iterations):
            seen.append(raw.sparkSession.conf.get(key, None))
            return orig(raw, max_iterations)

        monkeypatch.setattr(graph, "_label_propagation_loop", spy)
        edges = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
        try:
            graph.connected_components(edges).collect()
            spark.conf.set(key, "set-after-first-loop")
            graph.connected_components(edges).collect()
        finally:
            spark.conf.unset(key)
        assert seen == [None, "set-after-first-loop"]

    def test_cluster_assignments_shape(self, spark):
        pairs = spark.createDataFrame([(5, 7), (7, 9)], "doc_a bigint, doc_b bigint")
        rows = cluster_assignments(pairs).collect()
        assert {(r["doc_id"], r["cluster_id"]) for r in rows} == {
            (5, 5),
            (7, 5),
            (9, 5),
        }


class TestMultimodal:
    def test_decode_stub_schema_and_determinism(self, spark):
        media = synthetic_media(spark, n=12)
        meta = decode_media_metadata(media)
        rows = meta.collect()
        assert len(rows) == 12
        by_id = {r["media_id"]: r for r in rows}
        img = next(r for r in rows if r["kind"] == "image")
        assert img["width"] is not None and img["duration_ms"] is None
        aud = next(r for r in rows if r["kind"] == "audio")
        assert aud["width"] is None and aud["duration_ms"] is not None
        # deterministic: same payload → same checksum on rerun
        rows2 = decode_media_metadata(media).collect()
        assert {r["media_id"]: r["checksum"] for r in rows2} == {
            k: v["checksum"] for k, v in by_id.items()
        }

    def test_decode_without_stub_raises(self, spark):
        media = synthetic_media(spark, n=3)
        import pytest as _pytest

        with _pytest.raises(Exception, match="NotImplementedError|decoding"):
            decode_media_metadata(media, decode_stub=False).collect()

    def test_frame_sampling_lattice(self, spark):
        media = synthetic_media(spark, n=9)
        frames = sample_frames(media, every_ms=1000, max_frames=4)
        rows = frames.collect()
        assert rows, "expected video rows"
        for r in rows:
            assert r["frame_idx"] < 4
            assert r["offset_ms"] % 1000 == 0
            assert r["offset_ms"] <= r["duration_ms"]


class TestTrigram:
    def test_identical_strings_sim_1(self, spark):
        df = spark.createDataFrame([("hello world", "hello world")], "a string, b string")
        sim = df.select(trigram_similarity("a", "b").alias("s")).collect()[0]["s"]
        assert sim == 1.0

    def test_disjoint_strings_sim_0(self, spark):
        df = spark.createDataFrame([("aaaa", "zzzz")], "a string, b string")
        sim = df.select(trigram_similarity("a", "b").alias("s")).collect()[0]["s"]
        assert sim == 0.0

    def test_normalized_name(self, spark):
        df = spark.createDataFrame([("  Ácme,   LLC.  ",)], "n string")
        out = df.select(normalized_name("n").alias("n")).collect()[0]["n"]
        assert out == "CME LLC"  # non-ASCII collapsed with punctuation


class TestTemporalJoins:
    def _frames(self, spark):
        left = spark.createDataFrame(
            [(1, 10, "e1"), (1, 20, "e2"), (1, 5, "e0"), (2, 50, "e3")],
            "k int, t int, ev string",
        )
        right = spark.createDataFrame(
            [(1, 10, "r-10"), (1, 15, "r-15"), (2, 60, "r-60")],
            "k int, rt int, payload string",
        )
        return left, right

    def test_asof_inner_inclusive_and_unmatched_dropped(self, spark):
        from nycdb_k8s_loader_spark.operators.temporal import asof_join

        left, right = self._frames(spark)
        out = {
            r["ev"]: r["payload"]
            for r in asof_join(
                left, right, "k", "t", "rt", ["payload"], how="inner"
            ).collect()
        }
        # e1 at t=10 matches r-10 (inclusive); e2 picks the later r-15;
        # e0 precedes all right rows -> dropped; e3 at 50 < 60 -> dropped.
        assert out == {"e1": "r-10", "e2": "r-15"}

    def test_asof_left_keeps_unmatched_null(self, spark):
        from nycdb_k8s_loader_spark.operators.temporal import asof_join

        left, right = self._frames(spark)
        out = {
            r["ev"]: r["payload"]
            for r in asof_join(
                left, right, "k", "t", "rt", ["payload"], how="left"
            ).collect()
        }
        assert out == {"e1": "r-10", "e2": "r-15", "e0": None, "e3": None}

    def test_asof_equal_time_tie_resolves_to_struct_max(self, spark):
        from nycdb_k8s_loader_spark.operators.temporal import asof_join

        left = spark.createDataFrame([(1, 10, "e")], "k int, t int, ev string")
        right = spark.createDataFrame(
            [(1, 10, 1), (1, 10, 2)], "k int, rt int, rid int"
        )
        rows = asof_join(left, right, "k", "t", "rt", ["rid"]).collect()
        assert [r["rid"] for r in rows] == [2]

    def test_range_join_window_bounds(self, spark):
        from nycdb_k8s_loader_spark.operators.temporal import range_join

        left = spark.createDataFrame(
            [(1, "2024-01-01 00:30:00"), (1, "2024-01-01 01:00:00")],
            "k int, ts string",
        ).select("k", F.col("ts").cast("timestamp").alias("ts"))
        right = spark.createDataFrame(
            [(1, "2024-01-01 00:00:00", "w")], "k int, start string, tag string"
        ).select(
            "k", F.col("start").cast("timestamp").alias("start"), "tag"
        )
        out = range_join(left, right, "k", "ts", "start", "INTERVAL 1 HOUR")
        # 00:30 inside [00:00, 01:00); 01:00 excluded (half-open)
        assert [r["ts"].minute for r in out.collect()] == [30]


class TestSkewHelpers:
    def test_salted_join_equals_plain_join(self, spark):
        from nycdb_k8s_loader_spark.operators.skew import salted_join

        fact = spark.createDataFrame(
            [(i, "hot" if i < 80 else f"k{i}", i * 1.0) for i in range(100)],
            "row_id int, k string, v double",
        )
        dim = spark.createDataFrame(
            [("hot", "H"), ("k85", "A"), ("k99", "B")], "k string, tag string"
        )
        plain = set(
            (r["row_id"], r["tag"])
            for r in fact.join(dim, "k").select("row_id", "tag").collect()
        )
        salted = set(
            (r["row_id"], r["tag"])
            for r in salted_join(fact, dim, "k", "row_id", n_salts=4)
            .select("row_id", "tag")
            .collect()
        )
        assert salted == plain and len(plain) == 82

    def test_two_phase_distinct(self, spark):
        from nycdb_k8s_loader_spark.operators.skew import two_phase_distinct

        df = spark.createDataFrame(
            [("a", 1), ("a", 1), ("a", 2), ("b", 5)], "k string, v int"
        )
        out = {
            r["k"]: r["n_distinct"]
            for r in two_phase_distinct(df, ["k"], "v").collect()
        }
        assert out == {"a": 2, "b": 1}

    def test_salted_collect_equals_sorted_collect(self, spark):
        from nycdb_k8s_loader_spark.operators.skew import salted_collect

        df = spark.createDataFrame(
            [(i, "hot", i % 7) for i in range(50)] + [(99, "cold", 42)],
            "row_id int, k string, v int",
        )
        expect = {
            r["k"]: r["vs"]
            for r in df.groupBy("k")
            .agg(F.sort_array(F.collect_list("v")).alias("vs"))
            .collect()
        }
        got = {
            r["k"]: r["values"]
            for r in salted_collect(df, ["k"], "v", "row_id", n_salts=4).collect()
        }
        assert got == expect


class TestStarComponents:
    def test_deep_path_graph(self, spark):
        """A 60-node path has diameter 59 — min-label propagation would
        need 59 rounds; large-star/small-star converges in O(log^2 n)."""
        from nycdb_k8s_loader_spark.operators.graph import (
            connected_components_star,
        )

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(59)], "src long, dst long"
        )
        out = connected_components_star(edges)
        rows = out.collect()
        assert len(rows) == 60
        assert all(r["component"] == 0 for r in rows)

    def test_matches_label_propagation_on_shallow_graph(self, spark):
        from nycdb_k8s_loader_spark.operators.graph import (
            connected_components,
            connected_components_star,
        )

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (12, 11), (20, 21)],
            "src long, dst long",
        )
        lp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
        ss = {r["node"]: r["component"] for r in connected_components_star(edges).collect()}
        assert lp == ss == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    def test_label_propagation_raises_on_cap(self, spark):
        import pytest

        from nycdb_k8s_loader_spark.operators.graph import connected_components

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(30)], "src long, dst long"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(edges, max_iterations=3)

    def test_asof_null_right_ts_excluded(self, spark):
        from nycdb_k8s_loader_spark.operators.temporal import asof_join

        left = spark.createDataFrame([(1, 10, "e")], "k int, t int, ev string")
        right = spark.createDataFrame(
            [(1, None, "null-ts"), (1, 5, "ok")],
            "k int, rt int, payload string",
        )
        rows = asof_join(left, right, "k", "t", "rt", ["payload"]).collect()
        assert [r["payload"] for r in rows] == ["ok"]


class TestGeo:
    def _random_points(self, spark, n=300, seed=7):
        import random

        rng = random.Random(seed)
        rows = [
            (i, 40.0 + rng.random(), -74.0 + rng.random())
            for i in range(n)
        ]
        return spark.createDataFrame(rows, ["id", "lat", "lng"])

    def test_radius_join_equals_brute_force(self, spark):
        """The grid-bin join must find exactly the pairs the O(n^2)
        haversine scan finds — the binning must lose nothing."""
        from nycdb_k8s_loader_spark.operators.geo import (
            haversine_km,
            radius_self_join,
        )

        pts = self._random_points(spark)
        radius = 3.0
        got = {
            (r["id_a"], r["id_b"])
            for r in radius_self_join(
                pts, "id", "lat", "lng", radius, max_abs_lat_deg=41.0
            ).collect()
        }
        a, b = pts.alias("a"), pts.alias("b")
        brute = {
            (r["id_a"], r["id_b"])
            for r in a.join(b, F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                haversine_km(
                    F.col("a.lat"),
                    F.col("a.lng"),
                    F.col("b.lat"),
                    F.col("b.lng"),
                ).alias("d"),
            )
            .filter(F.col("d") <= radius)
            .collect()
        }
        assert got == brute and len(brute) > 50

    def test_cell_edge_covers_radius(self):
        import math

        from nycdb_k8s_loader_spark.operators.geo import (
            KM_PER_LAT_DEG,
            KM_PER_LNG_DEG_EQUATOR,
            cell_edge_deg,
        )

        edge = cell_edge_deg(2.0, 60.0)
        assert edge * KM_PER_LAT_DEG >= 2.0
        assert (
            edge * KM_PER_LNG_DEG_EQUATOR * math.cos(math.radians(60.0))
            >= 2.0 - 1e-9
        )
        import pytest

        with pytest.raises(ValueError):
            cell_edge_deg(1.0, 89.5)


class TestSampling:
    def test_hash_sample_nests_and_is_partition_invariant(self, spark):
        from nycdb_k8s_loader_spark.operators.sampling import hash_sample

        df = spark.range(0, 5000).withColumnRenamed("id", "k")
        s10 = {r["k"] for r in hash_sample(df, "k", 100_000).collect()}
        s20 = {r["k"] for r in hash_sample(df, "k", 200_000).collect()}
        assert s10 < s20  # nesting: growing the fraction only adds rows
        assert abs(len(s10) / 5000 - 0.10) < 0.02
        assert abs(len(s20) / 5000 - 0.20) < 0.02
        # repartitioning must not change membership
        s10b = {
            r["k"]
            for r in hash_sample(df.repartition(13), "k", 100_000).collect()
        }
        assert s10 == s10b

    def test_stratified_sample_exact_counts_deterministic(self, spark):
        from nycdb_k8s_loader_spark.operators.sampling import (
            stratified_sample,
        )

        df = spark.range(0, 1000).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("string").alias("g"),
        )
        out1 = stratified_sample(df, ["g"], 20, "k")
        counts = {
            r["g"]: r["n"]
            for r in out1.groupBy("g").agg(F.count("*").alias("n")).collect()
        }
        assert counts == {"0": 20, "1": 20, "2": 20}
        # stratum smaller than n: keep all of it
        small = df.filter((F.col("g") != "2") | (F.col("k") < 15))
        c2 = {
            r["g"]: r["n"]
            for r in stratified_sample(small, ["g"], 20, "k")
            .groupBy("g")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert c2["2"] == 5  # only ids 0..14 ≡ 2 mod 3 → 5 rows survive
        # identical selection under a different partitioning
        ids1 = sorted(r["k"] for r in out1.collect())
        ids2 = sorted(
            r["k"]
            for r in stratified_sample(df.repartition(17), ["g"], 20, "k").collect()
        )
        assert ids1 == ids2


class TestIncrementalRollup:
    def test_merge_of_splits_equals_direct(self, spark):
        """merge(rollup(base), rollup(delta)) == rollup(all), including
        null measures, an all-null group, and an empty delta."""
        from nycdb_k8s_loader_spark.operators.incremental import (
            finalize_rollup,
            merge_rollups,
            partial_rollup,
        )

        rows = [
            ("a", 1.0), ("a", None), ("a", 3.0),
            ("b", None), ("b", None),          # all-null group → avg null
            ("c", 5.0),
        ]
        df = spark.createDataFrame(rows, ["g", "v"])

        def as_map(out):
            return {
                r["g"]: (
                    r["n_rows"], r["v_sum"], r["v_min"], r["v_max"], r["v_avg"]
                )
                for r in out.collect()
            }

        direct = as_map(
            finalize_rollup(partial_rollup(df, ["g"], ["v"]), ["g"], ["v"])
        )
        base = df.filter(F.col("v").isNotNull() | (F.col("g") == "b"))
        delta = df.subtract(base)
        empty = df.filter(F.lit(False))
        merged = as_map(
            finalize_rollup(
                merge_rollups(
                    [
                        partial_rollup(base, ["g"], ["v"]),
                        partial_rollup(delta, ["g"], ["v"]),
                        partial_rollup(empty, ["g"], ["v"]),
                    ],
                    ["g"],
                    ["v"],
                ),
                ["g"],
                ["v"],
            )
        )
        assert direct == merged
        assert merged["b"][4] is None  # all-null avg stays null


class TestScalePhysicalPlans:
    """Assert the plan *shapes* that make the new operators scale —
    the properties that survive a 1000-executor cluster, not timings."""

    def _plan(self, df):
        return df._jdf.queryExecution().executedPlan().toString()

    def test_geo01_bin_join_is_equi_not_cartesian(self, spark):
        from nycdb_k8s_loader_spark.plans.catalog import queries

        plan = self._plan(
            queries()["geo01_nearby_pairs"](spark, "/root/testdata/sf0.001")
        )
        assert "Cartesian" not in plan and "NestedLoop" not in plan
        assert "HashJoin" in plan or "SortMergeJoin" in plan

    def test_p01_hash_sample_has_no_shuffle(self, spark):
        from nycdb_k8s_loader_spark.plans.catalog import queries

        plan = self._plan(
            queries()["p01_hash_sample_docs"](spark, "/root/testdata/sf0.001")
        )
        assert "Exchange" not in plan  # pure map-side filter

    def test_q35_merge_is_single_aggregation_pass(self, spark):
        """Partial rollups + merge must plan as partial/final hash
        aggregates — no join, no extra exchange beyond the group keys."""
        from nycdb_k8s_loader_spark.plans.catalog import queries

        plan = self._plan(
            queries()["q35_incremental_rollup"](spark, "/root/testdata/sf0.001")
        )
        assert "Join" not in plan
        assert plan.count("Exchange hashpartitioning") <= 2

    def test_q04_preagg_join_has_no_expand(self, spark):
        """q04 (round-4 re-plan): COUNT(DISTINCT) was rewritten away
        by the per-order rollup, so the plan must carry NO Expand, and
        lineitem must reach its only shuffle as a partial aggregate
        (map-side combine) — the shuffle payload is (orderkey, rev),
        never raw lines."""
        from nycdb_k8s_loader_spark.plans.catalog import queries

        plan = self._plan(
            queries()["q04_revenue_by_nation"](
                spark, "/root/testdata/sf0.001"
            )
        )
        assert "Expand" not in plan
        # pre-agg shuffle on l_orderkey + final groupBy = the only
        # hash exchanges (broadcasts are separate exchange kinds)
        assert plan.count("Exchange hashpartitioning") <= 2

    def test_q41_unpivot_is_single_scan_expand(self, spark):
        """Unpivot must plan as ONE scan of the fact feeding an Expand
        (row multiplication map-side) — not one scan per melted
        measure like the oracle's UNION ALL form."""
        from nycdb_k8s_loader_spark.plans.catalog import queries

        plan = self._plan(
            queries()["q41_unpivot_metrics"](spark, "/root/testdata/sf0.001")
        )
        assert "Expand" in plan
        assert plan.count("FileScan parquet") == 1

    def test_q38_deciles_have_no_data_scale_global_window(self, spark):
        """q38's ntile/percent_rank must derive from distributed_rank —
        no native ntile()/percent_rank() window function anywhere, and
        the ONLY single-partition exchange in the plan feeds the
        metadata-scale per-partition-counts frame (__pid, __cnt), never
        the customer-spend data."""
        from nycdb_k8s_loader_spark.plans.catalog import queries

        plan = self._plan(
            queries()["q38_customer_spend_deciles"](
                spark, "/root/testdata/sf0.001"
            )
        )
        assert "ntile" not in plan
        assert "percent_rank" not in plan
        assert plan.count("SinglePartition") == 1
        # Every window touching the data (spend) is partitioned by
        # __pid; only the counts window (sums __cnt) runs unpartitioned.
        window_lines = [
            ln for ln in plan.split("\n") if "windowspecdefinition" in ln
        ]
        assert window_lines
        for ln in window_lines:
            assert "__pid" in ln if "spend" in ln else "__cnt" in ln

    def test_c02_packing_windows_partition_by_shard(self, spark):
        """Sequence packing must never plan a global window: every
        windowspecdefinition partitions by shard, and no
        SinglePartition exchange exists anywhere."""
        from nycdb_k8s_loader_spark.plans.catalog import queries

        plan = self._plan(
            queries()["c02_sequence_packing"](spark, "/root/testdata/sf0.001")
        )
        assert "SinglePartition" not in plan
        window_lines = [
            ln for ln in plan.split("\n") if "windowspecdefinition" in ln
        ]
        assert window_lines
        assert all("shard" in ln for ln in window_lines)

    def test_d08_bucketed_gemm_joins_on_bucket(self, spark):
        """The bucketed-exact near-dup must join block pairs on the
        bucket key — no cartesian/broadcast-nested-loop pair blowup."""
        from nycdb_k8s_loader_spark.plans.catalog import queries

        plan = self._plan(
            queries()["d08_embedding_neardup_bucketed"](
                spark, "/root/testdata/sf0.001"
            )
        )
        assert "Cartesian" not in plan

    def test_q36_subqueries_decorrelate_to_joins(self, spark):
        """Both correlated scalar subqueries must plan as joins against
        pre-aggregated subtrees — no nested-loop per-row re-execution."""
        from nycdb_k8s_loader_spark.plans.catalog import queries

        plan = self._plan(
            queries()["q36_correlated_subquery"](
                spark, "/root/testdata/sf0.001"
            )
        )
        assert "NestedLoop" not in plan and "Cartesian" not in plan
        assert plan.count("Join") == 2

    def test_geo03_literal_argmin_has_no_shuffle(self, spark):
        from nycdb_k8s_loader_spark.plans.catalog import queries

        plan = self._plan(
            queries()["geo03_nearest_site"](spark, "/root/testdata/sf0.001")
        )
        assert "Exchange" not in plan and "Join" not in plan

    def test_radius_join_keeps_boundary_pairs(self, spark):
        """Pairs just inside the radius at the worst latitude must not
        fall outside the 3x3 cell neighborhood (regression: sizing the
        edge with the WGS84 111.320 km/deg while haversine uses the
        111.195 km/deg sphere made the edge ~0.11% too small and this
        exact pair vanished)."""
        from nycdb_k8s_loader_spark.operators.geo import (
            cell_edge_deg,
            radius_self_join,
        )

        edge = cell_edge_deg(2.0, 41.0)
        pts = spark.createDataFrame(
            [
                (1, 40.9999, 1000 * edge - 1e-7),
                (2, 40.9999, 1000 * edge - 1e-7 + 0.023820),
            ],
            ["id", "lat", "lng"],
        )
        got = radius_self_join(pts, "id", "lat", "lng", 2.0, 41.0).collect()
        assert [(r["id_a"], r["id_b"]) for r in got] == [(1, 2)]
        assert abs(got[0]["dist_km"] - 1.99898) < 1e-3


class TestBlockedNearDup:
    def test_blocked_equals_expression_fold(self, spark):
        """The blocked-GEMM exact near-dup must emit the IDENTICAL
        pair set as the oracle-shaped half-matrix expression form —
        on a corpus spanning diagonal and off-diagonal block pairs
        (ids interleave across blocks, so orientation min/max on
        off-diagonal blocks is exercised)."""
        import numpy as np
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.similarity import (
            embedding_neardup_pairs,
            embedding_neardup_pairs_blocked,
        )

        rng = np.random.RandomState(7)
        base = rng.randn(12, 8)
        rows = []
        vid = 0
        for i in range(12):
            rows.append((vid, [float(x) for x in base[i]])); vid += 1
            # a near-duplicate of each: tiny perturbation -> cos ~ 1
            rows.append((vid, [float(x) for x in base[i] + 0.01 * rng.randn(8)]))
            vid += 1
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        for thr in (0.5, 0.9):
            a = {tuple(r) for r in embedding_neardup_pairs(
                emb, threshold=thr, exact_allpairs=True).collect()}
            b = {tuple(r) for r in embedding_neardup_pairs_blocked(
                emb, threshold=thr, n_blocks=5).collect()}
            assert a == b and len(a) > 0

    def test_bucketed_prefilter_shrinks_candidates_keeps_neardups(
        self, spark
    ):
        """d08's contract: (1) every pair it emits is a true exact pair
        (subset of the all-pairs form), (2) near-identical twins are
        kept (sign buckets agree unless a coordinate sits at 0), and
        (3) the candidate pair count is a small fraction of n(n-1)/2 —
        the scale claim, asserted on the real embeddings table."""
        import numpy as np
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.similarity import (
            embedding_neardup_pairs,
            embedding_neardup_pairs_bucketed,
            sign_bucket,
        )

        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        n = emb.count()
        exact = {
            tuple(r)
            for r in embedding_neardup_pairs(
                emb, threshold=0.45, exact_allpairs=True
            ).collect()
        }
        bucketed = {
            tuple(r)
            for r in embedding_neardup_pairs_bucketed(
                emb, threshold=0.45
            ).collect()
        }
        assert bucketed <= exact and len(bucketed) > 0

        # candidate volume: sum over buckets of C(n_b, 2) << C(n, 2)
        counts = (
            emb.select(sign_bucket(F.col("embedding")).alias("b"))
            .groupBy("b")
            .count()
            .collect()
        )
        candidates = sum(r["count"] * (r["count"] - 1) // 2 for r in counts)
        assert candidates < 0.2 * n * (n - 1) // 2, (candidates, n)


class TestBfsReachable:
    def test_path_graph_hops_and_unreachable(self, spark):
        """Multi-hop distances on a path graph; disconnected component
        must NOT appear; seed itself is hops=0."""
        from nycdb_k8s_loader_spark.operators.graph import bfs_reachable

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
        )
        seeds = spark.createDataFrame([(2,)], "node long")
        got = {(r["node"], r["hops"]) for r in
               bfs_reachable(edges, seeds).collect()}
        assert got == {(2, 0), (1, 1), (3, 1), (4, 2)}

    def test_cycle_terminates_with_min_hops(self, spark):
        from nycdb_k8s_loader_spark.operators.graph import bfs_reachable

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1)], "src long, dst long"
        )
        seeds = spark.createDataFrame([(1,)], "node long")
        got = {(r["node"], r["hops"]) for r in
               bfs_reachable(edges, seeds).collect()}
        assert got == {(1, 0), (2, 1), (3, 1)}

    def test_raises_past_hop_cap(self, spark):
        import pytest

        from nycdb_k8s_loader_spark.operators.graph import bfs_reachable

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(6)], "src long, dst long"
        )
        seeds = spark.createDataFrame([(0,)], "node long")
        with pytest.raises(RuntimeError, match="hops"):
            bfs_reachable(edges, seeds, max_hops=3)
        # exactly enough hops: full chain reached
        out = bfs_reachable(edges, seeds, max_hops=6)
        assert out.count() == 7


class TestChunkDocuments:
    def test_overlap_boundaries_and_empty(self, spark):
        from nycdb_k8s_loader_spark.operators.textops import chunk_documents

        words = " ".join(f"w{i}" for i in range(95))
        df = spark.createDataFrame(
            [(1, words), (2, "only three words"), (3, "   "), (4, "")],
            "doc_id long, text string",
        )
        out = chunk_documents(df, chunk_tokens=50, stride=40)
        rows = {(r["doc_id"], r["chunk_id"]): (r["n_tokens"], r["chunk_text"])
                for r in out.collect()}
        # doc 1: 95 tokens -> starts 0, 40, 80
        assert rows[(1, 0)][0] == 50 and rows[(1, 0)][1].startswith("w0 ")
        assert rows[(1, 1)][0] == 50 and rows[(1, 1)][1].startswith("w40 ")
        assert rows[(1, 2)][0] == 15 and rows[(1, 2)][1].endswith("w94")
        # 10-token overlap: chunk 0 ends at w49, chunk 1 starts at w40
        assert rows[(1, 0)][1].endswith("w49")
        # short doc: single partial chunk; empty/whitespace docs: none
        assert rows[(2, 0)] == (3, "only three words")
        assert {k[0] for k in rows} == {1, 2}

    def test_chunking_is_shuffle_free(self, spark):
        from nycdb_k8s_loader_spark.operators.textops import chunk_documents

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        plan = chunk_documents(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestDistributedRank:
    def test_matches_global_window(self, spark):
        """Range-partition + offset-merge ranking must equal the
        single-partition global window, including ties in the leading
        order column (broken by the unique tiebreak)."""
        import random

        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.relational import (
            distributed_rank,
        )

        rng = random.Random(11)
        rows = [(i, rng.choice([1.0, 2.0, 3.0])) for i in range(500)]
        df = spark.createDataFrame(rows, "id long, v double")
        got = {
            (r["id"], r["rank"])
            for r in distributed_rank(df, ["v", "id"], num_partitions=7)
            .collect()
        }
        w = Window.orderBy("v", "id")
        want = {
            (r["id"], r["rank"])
            for r in df.withColumn(
                "rank", F.row_number().over(w).cast("long")
            ).collect()
        }
        assert got == want

    def test_ntile_percent_rank_match_native_window(self, spark):
        """The derived ntile/percent_rank must match Spark's native
        global-window functions exactly — including the SQL uneven-
        bucket rule (503 rows / 7 buckets: first 6 get 72, last gets
        71) and the n<k degenerate case."""
        import random

        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.relational import (
            distributed_rank,
        )

        rng = random.Random(7)
        for n_rows, k in [(503, 7), (12, 5), (3, 10), (1, 4)]:
            rows = [(i, rng.random()) for i in range(n_rows)]
            df = spark.createDataFrame(rows, "id long, v double")
            got = {
                (r["id"], r["ntile"], round(r["pr"], 9))
                for r in distributed_rank(
                    df,
                    ["v", "id"],
                    num_partitions=5,
                    ntile=k,
                    percent_rank_col="pr",
                ).collect()
            }
            w = Window.orderBy("v", "id")
            want = {
                (r["id"], r["ntile"], round(r["pr"], 9))
                for r in df.select(
                    "id",
                    F.ntile(k).over(w).alias("ntile"),
                    F.percent_rank().over(w).alias("pr"),
                ).collect()
            }
            assert got == want, f"n={n_rows} k={k}"


class TestScd2:
    def _snap(self, spark, rows):
        return spark.createDataFrame(
            rows,
            "id long, city string, valid_from timestamp, "
            "valid_to timestamp, is_current boolean",
        )

    def test_change_close_insert_and_idempotency(self, spark):
        import datetime as dt

        from nycdb_k8s_loader_spark.operators.incremental import scd2_apply

        t0 = dt.datetime(2024, 1, 1)
        t1 = dt.datetime(2024, 2, 1)
        snap = self._snap(
            spark,
            [(1, "nyc", t0, None, True), (2, "sf", t0, None, True)],
        )
        updates = spark.createDataFrame(
            [(1, "boston", t1), (3, "chicago", t1)],
            "id long, city string, effective_ts timestamp",
        )
        out = scd2_apply(snap, updates, ["id"], ["city"])
        rows = {
            (r["id"], r["city"], r["valid_to"], r["is_current"])
            for r in out.collect()
        }
        assert rows == {
            (1, "nyc", t1, False),      # closed at the change
            (1, "boston", None, True),  # new open version
            (2, "sf", None, True),      # untouched key
            (3, "chicago", None, True), # brand-new key
        }

        # re-applying the same batch is a no-op (values now match)
        again = scd2_apply(out, updates, ["id"], ["city"])
        assert {
            (r["id"], r["city"], r["valid_to"], r["is_current"])
            for r in again.collect()
        } == rows

    def test_null_transitions_version(self, spark):
        import datetime as dt

        from nycdb_k8s_loader_spark.operators.incremental import scd2_apply

        t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 3, 1)
        snap = self._snap(spark, [(1, None, t0, None, True)])
        updates = spark.createDataFrame(
            [(1, "nyc", t1)], "id long, city string, effective_ts timestamp"
        )
        out = scd2_apply(snap, updates, ["id"], ["city"]).collect()
        assert {(r["city"], r["is_current"]) for r in out} == {
            (None, False),
            ("nyc", True),
        }

    def test_rejects_multi_row_batch(self, spark):
        import datetime as dt

        import pytest

        from nycdb_k8s_loader_spark.operators.incremental import scd2_apply

        t0 = dt.datetime(2024, 1, 1)
        snap = self._snap(spark, [(1, "nyc", t0, None, True)])
        updates = spark.createDataFrame(
            [(1, "a", t0), (1, "b", t0)],
            "id long, city string, effective_ts timestamp",
        )
        with pytest.raises(ValueError, match="one row per key"):
            scd2_apply(snap, updates, ["id"], ["city"])


class TestFuzzyDedup:
    """d09: minhash candidates → verified Jaccard → clusters → keep."""

    def _docs(self, spark):
        rows = [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "the quick brown fox jumps over the lazy dog tonight"),
            (4, "pack my box with five dozen liquor jugs right now"),
            (5, "completely unrelated text about distributed query engines"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_clusters_and_keep_flags(self, spark):
        from nycdb_k8s_loader_spark.operators.dedup import fuzzy_dedup

        out = fuzzy_dedup(self._docs(spark), threshold=0.5).collect()
        by_id = {r["doc_id"]: r for r in out}
        assert len(by_id) == 5
        # 1 and 2 are exact dups → same cluster, min id kept.
        assert by_id[1]["cluster_id"] == by_id[2]["cluster_id"] == 1
        assert by_id[1]["is_kept"] and not by_id[2]["is_kept"]
        # 4 and 5 are singletons: own cluster, kept.
        for d in (4, 5):
            assert by_id[d]["cluster_id"] == d and by_id[d]["is_kept"]
        # exactly one kept doc per cluster id
        kept = [r for r in out if r["is_kept"]]
        assert {r["doc_id"] for r in kept} == {r["cluster_id"] for r in out}

    def test_verification_prunes_banding_false_positives(self, spark):
        from nycdb_k8s_loader_spark.operators.dedup import (
            fuzzy_dedup,
            minhash_signatures,
        )

        docs = self._docs(spark)
        # With a threshold of 1.0 only the exact pair (1,2) survives
        # verification, whatever the band pass surfaced.
        n_cand = minhash_signatures(docs, shingles=3).count()
        out = fuzzy_dedup(docs, threshold=1.0).collect()
        merged = [r for r in out if not r["is_kept"]]
        assert [r["doc_id"] for r in merged] == [2]
        assert n_cand >= 1  # the band pass did surface candidates


class TestCorpusSharding:
    def test_snake_balances_token_totals(self, spark):
        from nycdb_k8s_loader_spark.operators.textops import (
            token_balanced_shards,
        )

        # 32 docs with strongly skewed lengths: 1..32 words.
        rows = [(i, " ".join(f"w{j}" for j in range(i))) for i in range(1, 33)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = token_balanced_shards(docs, num_shards=4).collect()
        totals = {r["shard_id"]: r["total_tokens"] for r in out}
        counts = {r["shard_id"]: r["n_docs"] for r in out}
        assert set(totals) == {0, 1, 2, 3}
        assert all(c == 8 for c in counts.values())
        assert sum(totals.values()) == sum(range(1, 33))
        # snake-deal spread stays within one snake's largest doc
        assert max(totals.values()) - min(totals.values()) <= 32

    def test_tfidf_ranks_rare_terms_first(self, spark):
        from nycdb_k8s_loader_spark.operators.textops import tfidf_top_terms

        docs = spark.createDataFrame(
            [
                (1, "common common rare_a"),
                (2, "common common rare_b"),
                (3, "common zzz_unique"),
            ],
            "doc_id long, text string",
        )
        out = tfidf_top_terms(docs, k=1).collect()
        top = {r["doc_id"]: r["term"] for r in out}
        # the doc-unique term beats 'common' (df=3) despite lower tf
        assert top == {1: "rare_a", 2: "rare_b", 3: "zzz_unique"}


class TestScaleSafeDefaults:
    """Round-4 flip (verdict item 5): the dedup entry points default
    to their bucketed/banded scale paths; the quadratic exact forms
    must be asked for by name (exact_allpairs=True) as oracle
    baselines."""

    def test_embedding_default_is_bucketed(self, spark):
        from nycdb_k8s_loader_spark.operators.similarity import (
            embedding_neardup_pairs,
            embedding_neardup_pairs_bucketed,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        default = {
            tuple(r)
            for r in embedding_neardup_pairs(emb, threshold=0.45).collect()
        }
        bucketed = {
            tuple(r)
            for r in embedding_neardup_pairs_bucketed(
                emb, threshold=0.45
            ).collect()
        }
        exact = {
            tuple(r)
            for r in embedding_neardup_pairs(
                emb, threshold=0.45, exact_allpairs=True
            ).collect()
        }
        assert default == bucketed
        assert default <= exact and len(default) > 0

    def test_ngram_default_is_lsh_verified(self, spark):
        """Default-mode pairs: every emitted pair clears the EXACT
        Jaccard threshold (verification step — no false positives),
        is a subset of the all-pairs form (LSH can only lose pairs),
        and the candidate volume stays well under n(n-1)/2."""
        from nycdb_k8s_loader_spark.operators.dedup import (
            minhash_signatures,
            ngram_jaccard_pairs,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        n = docs.count()
        default = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(
                docs, threshold=0.6, shingles=3
            ).collect()
        }
        exact = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(
                docs, threshold=0.6, shingles=3, exact_allpairs=True
            ).collect()
        }
        assert len(default) > 0
        assert set(default) <= set(exact)
        # verified values agree exactly with the all-pairs computation
        for k, v in default.items():
            assert exact[k] == v

        # the scale claim: banding candidates << all pairs
        n_cands = minhash_signatures(docs, shingles=3).count()
        assert n_cands < 0.2 * (n * (n - 1) / 2)


class TestCanonicalUrl:
    def test_canonicalization_rules(self, spark):
        from nycdb_k8s_loader_spark.operators.dedup import canonical_url

        cases = [
            ("HTTPS://WWW.Example.COM:443/A/B/", "https://example.com/A/B"),
            ("http://example.com:80/x?utm_source=a&b=1#frag",
             "http://example.com/x"),
            ("https://sub.example.com/", "https://sub.example.com"),
            ("https://example.com", "https://example.com"),
            # path case is PRESERVED (host/scheme are the
            # case-insensitive parts of a URL; paths are not)
            ("https://example.com/CaseSensitive",
             "https://example.com/CaseSensitive"),
        ]
        df = spark.createDataFrame(
            [(u,) for u, _ in cases], "url string"
        ).select("url", canonical_url("url").alias("c"))
        got = {r["url"]: r["c"] for r in df.collect()}
        for url, want in cases:
            assert got[url] == want, (url, got[url], want)

    def test_url_dedup_keeps_min_id(self, spark):
        from nycdb_k8s_loader_spark.operators.dedup import url_dedup

        df = spark.createDataFrame(
            [
                (1, "https://www.a.com/x/"),
                (2, "HTTPS://a.com:443/x?utm_c=1"),
                (3, "https://b.com/y"),
            ],
            "doc_id long, url string",
        )
        rows = {
            r["canonical_url"]: (r["keep_doc_id"], r["n_dups"])
            for r in url_dedup(df).collect()
        }
        assert rows == {
            "https://a.com/x": (1, 2),
            "https://b.com/y": (3, 1),
        }


class TestPipelinePlanShapes:
    """Plan assertions for the round-4 pipeline entries."""

    def _plan(self, df):
        return df._jdf.queryExecution().executedPlan().toString()

    def test_d10_is_single_shuffle_no_text(self, spark):
        from nycdb_k8s_loader_spark.plans.catalog import queries

        df = queries()["d10_url_dedup"](spark, "/root/testdata/sf0.001")
        plan = self._plan(df)
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Join" not in plan
        # column pruning: the scan must not read the text body for a
        # URL-identity operator
        assert "text" not in plan.split("ReadSchema")[-1]

    def test_t12_funnel_is_one_scan_one_tiny_shuffle(self, spark):
        from nycdb_k8s_loader_spark.plans.catalog import queries

        df = queries()["t12_filter_funnel"](spark, "/root/testdata/sf0.001")
        plan = self._plan(df)
        assert plan.count("FileScan parquet") == 1  # never per-stage
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Join" not in plan

    def test_p04_upsampling_has_zero_shuffle(self, spark):
        from nycdb_k8s_loader_spark.plans.catalog import queries

        df = queries()["p04_source_upsampling"](
            spark, "/root/testdata/sf0.001"
        )
        plan = self._plan(df)
        assert "Exchange" not in plan  # pure map-side row generation

    def test_c07_stage_boundaries_never_recompute(self, spark):
        """The composed curation pipeline materializes each stage
        boundary ONCE (eager localCheckpoint — the in-session analog
        of a published stage table). The RETURNED attribution plan
        must therefore read checkpointed stage RDDs plus at most ONE
        parquet scan (the 2-column mixture source fetch) — if any
        upstream stage leaked into the final plan as lineage, a
        downstream consumer would re-run the whole pipeline and the
        scan count betrays it. Also pins attribution totality."""
        from nycdb_k8s_loader_spark.plans.catalog import queries

        df = queries()["c07_curation_pipeline_e2e"](
            spark, "/root/testdata/sf0.001"
        )
        plan = self._plan(df)
        assert plan.count("FileScan parquet") == 0
        assert plan.count("Scan ExistingRDD") >= 5  # spine+c3+c4+f5+s6
        rows = df.collect()
        assert len(rows) == 500  # one attribution row per input doc
        stages = {r["stage"] for r in rows}
        assert stages <= {
            "gopher", "url", "scrubbed_empty", "fuzzy_dup",
            "mixture", "kept",
        }
        for r in rows:
            if r["stage"] == "kept":
                assert r["n_tokens_clean"] > 0
            if r["stage"] == "gopher":
                # rejected before any cleaning: stats must be zeros
                assert r["sentences_removed"] == 0
                assert r["dup_tokens"] == 0 and r["n_tokens_clean"] == 0


class TestWktPointInPolygon:
    def test_parse_and_nonconvex_containment(self, spark):
        """Ray casting on a non-convex (L-shaped) ring — the case the
        rectangle-bounds oracle of geo04 can never exercise."""
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.geo import (
            parse_wkt_polygon,
            point_in_polygon,
        )

        l_shape = (
            "POLYGON ((0 0, 4 0, 4 2, 2 2, 2 4, 0 4, 0 0))"
        )
        cases = [
            (1.0, 1.0, True),    # lower arm
            (1.0, 3.0, True),    # upper arm
            (3.0, 3.0, False),   # the notch — inside bbox, outside ring
            (3.0, 1.0, True),
            (5.0, 5.0, False),   # fully outside
            (-1.0, 1.0, False),
        ]
        df = spark.createDataFrame(
            [(x, y, want) for x, y, want in cases],
            "x double, y double, want boolean",
        ).withColumn("wkt", F.lit(l_shape))
        out = df.select(
            "x", "y", "want",
            point_in_polygon(
                F.col("x"), F.col("y"), parse_wkt_polygon("wkt")
            ).alias("got"),
        ).collect()
        for r in out:
            assert r["got"] == r["want"], (r["x"], r["y"])

    def test_parse_vertices(self, spark):
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.geo import parse_wkt_polygon

        df = spark.createDataFrame(
            [("POLYGON ((0 0, 10 0, 10 5, 0 5, 0 0))",)], "wkt string"
        )
        verts = df.select(
            parse_wkt_polygon("wkt").alias("v")
        ).first()["v"]
        assert [(p["x"], p["y"]) for p in verts] == [
            (0.0, 0.0), (10.0, 0.0), (10.0, 5.0), (0.0, 5.0), (0.0, 0.0),
        ]

    def test_degenerate_rings_are_false_not_abort(self, spark):
        """Junk WKT (1- or 2-vertex 'rings') must yield containment
        false and area 0, never a negative-slice runtime abort: a
        1-vertex ring is trivially 'closed' so _open_ring collapses
        it to EMPTY and the old rotate slice went length -1
        (round-8 ADVICE). Junk rows degrade, jobs never die."""
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.geo import (
            parse_wkt_polygon,
            point_in_polygon,
            polygons_intersect,
            ring_area,
        )

        df = spark.createDataFrame(
            [
                (1, "POLYGON ((2 2, 2 2))"),       # 1 distinct vertex
                (2, "POLYGON ((0 0, 4 4))"),        # 2-vertex segment
                (3, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"),  # real
            ],
            "pid long, wkt string",
        )
        square = parse_wkt_polygon(
            F.lit("POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))")
        )
        out = {
            r["pid"]: r
            for r in df.select(
                "pid",
                point_in_polygon(
                    F.lit(2.0), F.lit(2.0), parse_wkt_polygon("wkt")
                ).alias("contains"),
                ring_area(parse_wkt_polygon("wkt")).alias("area"),
                polygons_intersect(
                    parse_wkt_polygon("wkt"), square
                ).alias("isect"),
            ).collect()
        }
        assert out[1]["contains"] is False and out[1]["area"] == 0.0
        assert out[2]["contains"] is False and out[2]["area"] == 0.0
        assert out[3]["contains"] is True and out[3]["area"] == 16.0
        assert out[3]["isect"] is True
        # degenerate vs real: the predicate degrades to the
        # containment test of the surviving representative vertex
        assert out[1]["isect"] is True   # point (2,2) inside square


class TestFilteredAnn:
    def test_candidate_filter_semantics_and_pushdown(self, spark):
        """Filtered ANN: neighbors all satisfy the predicate, queries
        are never filtered by it, and the predicate reaches the
        candidate parquet scan as a pushed filter."""
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.similarity import cosine_topk

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        out = cosine_topk(
            emb,
            query_ids=[0, 1, 2],
            k=3,
            candidate_filter=F.col("label").isin(4, 5),
        )
        rows = out.collect()
        assert len(rows) > 0
        allowed = {
            r["vec_id"]
            for r in emb.filter(F.col("label").isin(4, 5))
            .select("vec_id")
            .collect()
        }
        assert {r["neighbor_id"] for r in rows} <= allowed
        # query 0 exists in results even if ITS label is not 4/5
        assert {r["query_id"] for r in rows} == {0, 1, 2}

        plan = out._jdf.queryExecution().executedPlan().toString()
        pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
        assert any("label" in l for l in pushed)


class TestExactSubstringScrub:
    def test_shared_span_removed_from_all_carriers(self, spark):
        from nycdb_k8s_loader_spark.operators.dedup import (
            exact_substring_scrub,
        )

        df = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog today"),
                (2, "the quick brown fox jumps high above everything else"),
                (3, "completely unique sentence with no shared spans here"),
                (4, "tiny doc"),  # shorter than the ngram → untouched
            ],
            "doc_id long, text string",
        )
        rows = {
            r["doc_id"]: r
            for r in exact_substring_scrub(df, ngram=5).collect()
        }
        assert len(rows) == 4  # every doc present, scrubbed or not
        # the shared 5-gram is removed from BOTH carriers
        assert rows[1]["cleaned_text"] == "over the lazy dog today"
        assert rows[2]["cleaned_text"] == "high above everything else"
        assert rows[1]["dup_tokens"] == rows[2]["dup_tokens"] == 5
        # untouched docs keep their text (normalized casing aside)
        assert rows[3]["dup_tokens"] == 0
        assert rows[3]["cleaned_text"].startswith("completely unique")
        assert rows[4]["cleaned_text"] == "tiny doc"

    def test_within_doc_repeat_counts(self, spark):
        """min_count counts occurrences corpus-wide, so a span repeated
        INSIDE one doc is scrubbed too (both occurrences covered)."""
        from nycdb_k8s_loader_spark.operators.dedup import (
            exact_substring_scrub,
        )

        df = spark.createDataFrame(
            [(1, "a b c d e x y a b c d e")],
            "doc_id long, text string",
        )
        r = exact_substring_scrub(df, ngram=5).first()
        assert r["dup_tokens"] == 12 - 2  # both 5-gram spans covered
        assert r["cleaned_text"] == "x y"


class TestIncrementalDedup:
    """d11: batch-vs-corpus verdicts, never re-clustering the corpus."""

    def _frames(self, spark):
        corpus = spark.createDataFrame(
            [
                (2, "the quick brown fox jumps over the lazy dog today"),
                (4, "pack my box with five dozen liquor jugs right now"),
                (6, "a completely different corpus document about engines"),
            ],
            "doc_id long, text string",
        )
        batch = spark.createDataFrame(
            [
                # exact dup of corpus doc 2 (normalization: case/trim)
                (1, "  The quick brown fox jumps over the lazy dog today "),
                # near dup of corpus doc 4 (one word changed)
                (3, "pack my box with five dozen liquor jugs right here"),
                # genuinely new
                (5, "nothing like anything the corpus has ever seen before"),
            ],
            "doc_id long, text string",
        )
        return corpus, batch

    def test_verdicts(self, spark):
        from nycdb_k8s_loader_spark.operators.dedup import incremental_dedup

        corpus, batch = self._frames(spark)
        out = {
            r["doc_id"]: r["verdict"]
            for r in incremental_dedup(
                corpus, batch, threshold=0.5, shingles=3
            ).collect()
        }
        assert out == {1: "exact_dup", 3: "near_dup", 5: "keep"}

    def test_batch_internal_dups_do_not_flag(self, spark):
        from nycdb_k8s_loader_spark.operators.dedup import incremental_dedup

        corpus, _ = self._frames(spark)
        batch = corpus.sparkSession.createDataFrame(
            [
                (11, "twin text that appears twice inside this batch only"),
                (13, "twin text that appears twice inside this batch only"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r["verdict"]
            for r in incremental_dedup(
                corpus, batch, threshold=0.5, shingles=3
            ).collect()
        }
        # intra-batch dups are out of scope: both keep
        assert out == {11: "keep", 13: "keep"}


class TestLengthBucketBatches:
    def test_buckets_and_batch_sizes(self, spark):
        from nycdb_k8s_loader_spark.operators.textops import (
            length_bucket_batches,
        )

        # lengths 1..40 words → buckets 1..6 (binary digit count)
        rows = [(i, " ".join(f"w{j}" for j in range(i))) for i in range(1, 41)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = length_bucket_batches(docs, batch_size=4).collect()
        assert len(out) == 40
        for r in out:
            assert r["bucket"] == len(bin(r["n_tokens"])) - 2
        # every (bucket, batch_idx) group holds at most batch_size docs,
        # and batch indices are dense from 0 within each bucket
        from collections import Counter, defaultdict

        sizes = Counter((r["bucket"], r["batch_idx"]) for r in out)
        assert max(sizes.values()) <= 4
        per_bucket = defaultdict(set)
        for b, i in sizes:
            per_bucket[b].add(i)
        for b, idxs in per_bucket.items():
            assert idxs == set(range(len(idxs)))

    def test_deterministic_across_partitionings(self, spark):
        from nycdb_k8s_loader_spark.operators.textops import (
            length_bucket_batches,
        )

        rows = [(i, " ".join(f"w{j}" for j in range(i % 17 + 1)))
                for i in range(1, 101)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        a = sorted(
            map(tuple, length_bucket_batches(docs, 8).collect())
        )
        b = sorted(
            map(tuple, length_bucket_batches(docs.repartition(13), 8).collect())
        )
        assert a == b


class TestTemperatureMixture:
    def test_alpha_one_is_proportional(self, spark):
        from nycdb_k8s_loader_spark.operators.sampling import (
            temperature_mixture,
        )

        docs = spark.createDataFrame(
            [(1, "a b c d", "web"), (2, "a b c d", "web"),
             (3, "a b c d", "books")],
            "doc_id long, text string, source string",
        )
        out = {r["source"]: r for r in temperature_mixture(docs, alpha=1.0).collect()}
        assert abs(out["web"]["weight"] - 2 / 3) < 1e-6
        assert abs(out["books"]["weight"] - 1 / 3) < 1e-6
        # proportional mixture means sampling_factor == 1 everywhere
        assert abs(out["web"]["sampling_factor"] - 1.0) < 1e-4
        assert abs(out["books"]["sampling_factor"] - 1.0) < 1e-4

    def test_alpha_flattens_toward_uniform(self, spark):
        from nycdb_k8s_loader_spark.operators.sampling import (
            temperature_mixture,
        )

        docs = spark.createDataFrame(
            [(i, "w " * 10, "big") for i in range(9)]
            + [(100, "w " * 10, "small")],
            "doc_id long, text string, source string",
        )
        out = {r["source"]: r for r in temperature_mixture(docs, alpha=0.5).collect()}
        assert abs(sum(r["weight"] for r in out.values()) - 1.0) < 1e-5
        # sqrt scaling: small source's share rises above its 10% token
        # share, big source's falls below 90%
        assert out["small"]["weight"] > 0.1
        assert out["big"]["weight"] < 0.9
        assert out["small"]["sampling_factor"] > 1.0
        assert out["big"]["sampling_factor"] < 1.0


class TestSemanticDedup:
    def test_spread_small_scan_is_scale_adaptive(self, spark):
        """r14: a narrow input that scans as fewer partitions than
        defaultParallelism is hash-repartitioned UP (so per-row argmin
        folds parallelize); an input already at/above parallelism is
        returned untouched (the 100 TB no-op branch)."""
        from nycdb_k8s_loader_spark.operators.similarity import (
            _spread_small_scan,
        )

        par = spark.sparkContext.defaultParallelism
        small = spark.createDataFrame(
            [(i, float(i)) for i in range(20)], "vid long, v double"
        ).coalesce(1)
        spread = _spread_small_scan(small, "vid")
        assert spread.rdd.getNumPartitions() == par
        assert sorted(r["vid"] for r in spread.collect()) == list(range(20))

        wide = spark.createDataFrame(
            [(i, float(i)) for i in range(20)], "vid long, v double"
        ).repartition(par + 2, "vid")
        assert _spread_small_scan(wide, "vid") is wide

    def test_within_cluster_pruning_keeps_min_id(self, spark):
        from nycdb_k8s_loader_spark.operators.similarity import semantic_dedup

        # centroids = ids 0,1 (k=2): cluster A near (1,0,...), B near
        # (0,1,...). 5 and 7 duplicate 0's direction → pruned; 9 lands
        # in cluster B but points 31° off its axis (cos ≈ 0.86 < 0.9)
        # → kept.
        def v(x, y):
            return [float(x), float(y), 0.0, 0.0]

        emb = spark.createDataFrame(
            [
                (0, v(1, 0), 0),
                (1, v(0, 1), 0),
                (5, v(0.99, 0.01), 0),
                (7, v(1.01, -0.01), 0),
                (9, v(0.6, 1.0), 0),
            ],
            "vec_id long, embedding array<float>, label int",
        )
        out = {
            r["vec_id"]: r
            for r in semantic_dedup(emb, k=2, threshold=0.9).collect()
        }
        assert out[0]["is_kept"] and not out[5]["is_kept"]
        assert not out[7]["is_kept"]
        assert out[1]["is_kept"] and out[9]["is_kept"]
        # 0/5/7 share a cluster; 1/9 share the other
        assert out[0]["cluster_id"] == out[5]["cluster_id"] == out[7]["cluster_id"]
        assert out[1]["cluster_id"] == out[9]["cluster_id"]
        assert out[0]["cluster_id"] != out[1]["cluster_id"]

    def test_seeding_survives_nonzero_id_space(self, spark):
        """r4 ADVICE: ids not starting at 0 must still seed k
        centroids (rank-based), not silently null every cluster."""
        from nycdb_k8s_loader_spark.operators.similarity import semantic_dedup

        emb = spark.createDataFrame(
            [
                (1000, [1.0, 0.0], 0),
                (1001, [0.0, 1.0], 0),
                (1005, [0.999, 0.001], 0),
            ],
            "vec_id long, embedding array<float>, label int",
        )
        out = {
            r["vec_id"]: r
            for r in semantic_dedup(emb, k=2, threshold=0.9).collect()
        }
        assert all(r["cluster_id"] is not None for r in out.values())
        assert out[1000]["is_kept"] and not out[1005]["is_kept"]
        assert out[1000]["cluster_id"] == out[1005]["cluster_id"]

    def test_empty_input_fails_loudly(self, spark):
        from nycdb_k8s_loader_spark.operators.similarity import semantic_dedup

        emb = spark.createDataFrame(
            [], "vec_id long, embedding array<float>, label int"
        )
        import pytest as _pytest

        with _pytest.raises(ValueError, match="empty"):
            semantic_dedup(emb, k=2)

    def test_hot_cluster_sub_blocking_bounds_tasks(self, spark):
        """A deliberately hot cluster must split into ceil(n_c/B)
        blocks with every (cid, blk) cell bounded by ~B rows — the
        GEMM task budget — and the blocked result must equal the
        single-block result."""
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.similarity import (
            _cluster_blocks,
            semantic_dedup,
        )

        # 40 vectors all pointing near +x (one hot cluster under k=2
        # would be unstable; use explicit assigned frame for the block
        # seam, then the full operator for equivalence)
        rows = [(i, [1.0, float(i) * 1e-4]) for i in range(40)]
        emb = spark.createDataFrame(
            [(i, v, 0) for i, v in rows],
            "vec_id long, embedding array<float>, label int",
        )
        assigned = spark.createDataFrame(
            [(i, [float(x) for x in v], 0) for i, v in rows],
            "vid long, v array<double>, cid int",
        )
        unit = _cluster_blocks(assigned, max_block_rows=8)
        per_cell = (
            unit.groupBy("cid", "blk").agg(F.count("*").alias("n")).collect()
        )
        assert {r["blk"] for r in per_cell} == set(range(5))  # ceil(40/8)
        assert max(r["n"] for r in per_cell) == 8
        # behavioral equivalence: tiny blocks vs one giant block
        blocked = {
            (r["vec_id"], r["cluster_id"], r["is_kept"])
            for r in semantic_dedup(
                emb, k=2, threshold=0.9, max_block_rows=8
            ).collect()
        }
        single = {
            (r["vec_id"], r["cluster_id"], r["is_kept"])
            for r in semantic_dedup(
                emb, k=2, threshold=0.9, max_block_rows=1 << 30
            ).collect()
        }
        assert blocked == single
        # the hot direction keeps exactly its smallest id
        kept = [vid for vid, _, ik in blocked if ik]
        assert 0 in kept


class TestSemanticDedupSampled:
    """The production (sampled-train + IVF-assignment) form of d12 —
    round-6 verdict #2. The committed agreement number lives in
    test_agreement_audit below."""

    def test_output_contract_and_determinism(self, spark):
        from nycdb_k8s_loader_spark.operators.similarity import (
            semantic_dedup_sampled,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        a = sorted(map(tuple, semantic_dedup_sampled(
            emb, k=8, threshold=0.45
        ).collect()))
        b = sorted(map(tuple, semantic_dedup_sampled(
            emb.repartition(13), k=8, threshold=0.45
        ).collect()))
        assert a == b  # hash sample + rounded Lloyd → rerun-stable
        assert len(a) == emb.count()  # one verdict per input vector
        # exactly one kept vector per surviving near-dup group: every
        # pruned vector has a smaller-id kept neighbor in its cluster
        by_cluster: dict[int, list] = {}
        for vid, cid, kept in a:
            by_cluster.setdefault(cid, []).append((vid, kept))
        for cid, members in by_cluster.items():
            if any(not kept for _vid, kept in members):
                assert any(kept for _vid, kept in members)

    def test_empty_input_fails_loudly(self, spark):
        import pytest

        from nycdb_k8s_loader_spark.operators.similarity import (
            semantic_dedup_sampled,
        )

        emb = spark.createDataFrame(
            [], "vec_id long, embedding array<float>"
        )
        with pytest.raises(ValueError, match="empty"):
            semantic_dedup_sampled(emb, k=4)

    def test_agreement_audit(self, spark):
        """THE committed audit number (s10 pattern): at sf0.001
        (500 vectors, k=8) the sampled-train + IVF-assignment form
        agrees with the exact flat form on >= 95% of is_kept verdicts
        (measured 99.6% when this pin was written). A production
        rollout re-runs this at deploy scale and tunes
        train_per_centroid / coarse_cells until it clears."""
        from nycdb_k8s_loader_spark.operators.similarity import (
            semdedup_agreement,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        row = semdedup_agreement(emb, k=8, threshold=0.45).collect()[0]
        assert row["n_vectors"] == 500
        assert row["agreement"] >= 0.95, (
            f"sampled/IVF form diverged from flat: {row.asDict()}"
        )


class TestRound4LatePlanShapes:
    """Plan assertions for d11/d12/c05/p05."""

    def _plan(self, df):
        return df._jdf.queryExecution().executedPlan().toString()

    def test_p05_single_scan_metadata_joins_only(self, spark):
        from nycdb_k8s_loader_spark.plans.catalog import queries

        df = queries()["p05_temperature_mixture"](
            spark, "/root/testdata/sf0.001"
        )
        plan = self._plan(df)
        # the ONE corpus scan happened inside the eager checkpoint of
        # the per-source aggregate; the visible plan must be pure
        # metadata arithmetic — re-deriving the totals from the lazy
        # aggregate used to re-plan the corpus scan 4x
        assert plan.count("FileScan parquet") == 0
        assert "SortMergeJoin" not in plan
        assert plan.count("Exchange hashpartitioning") == 0

    def test_c05_no_per_bucket_data_window(self, spark):
        from nycdb_k8s_loader_spark.plans.catalog import queries

        df = queries()["c05_length_bucket_batches"](
            spark, "/root/testdata/sf0.001"
        )
        plan = self._plan(df)
        # per-bucket offsets broadcast back; the only Window runs over
        # the metadata-scale per-partition counts frame inside
        # distributed_rank — a data-scale window partitioned by bucket
        # would show 'Window [...bucket...]' with a hashpartitioning
        # exchange on bucket feeding it
        assert "BroadcastHashJoin" in plan
        for frag in plan.split("Window [")[1:]:
            assert "row_number" not in frag.split("]")[0] or \
                "__pid" in frag.split("]")[0]

    def test_d12_pair_join_is_cluster_keyed(self, spark):
        from nycdb_k8s_loader_spark.plans.catalog import queries

        df = queries()["d12_semantic_dedup"](spark, "/root/testdata/sf0.001")
        plan = self._plan(df)
        # the pairwise stage must be an equi-join on the cluster id,
        # never a cartesian over vectors
        assert "CartesianProduct" not in plan
        # centroid array + final dup-marker joins broadcast
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan

    def test_d11_has_no_cartesian_and_prunes_corpus_text(self, spark):
        from nycdb_k8s_loader_spark.plans.catalog import queries

        df = queries()["d11_incremental_dedup"](
            spark, "/root/testdata/sf0.001"
        )
        plan = self._plan(df)
        assert "CartesianProduct" not in plan


class TestVideoSceneCuts:
    def test_frame_pair_counts_and_cut_rule(self, spark):
        from nycdb_k8s_loader_spark.operators.multimodal import (
            synthetic_media,
            video_scene_cuts,
        )

        media = synthetic_media(spark, n=12)
        rows = video_scene_cuts(media, frame_len=32, threshold=60.0).collect()
        assert rows, "expected video frame pairs"
        by_media = {}
        for r in rows:
            by_media.setdefault(r["media_id"], []).append(r)
        for mid, rs in by_media.items():
            n = 128 + (mid % 5) * 64
            assert len(rs) == n // 32 - 1
            assert sorted(r["frame_idx"] for r in rs) == list(range(len(rs)))
            for r in rs:
                # byte stream is linear mod 256: per-position diff is 32
                # or 224, so mad = 32 + 6*wraps — never at the 60.0
                # threshold boundary
                assert (r["mad"] - 32.0) % 6.0 == 0.0
                assert r["is_cut"] == (r["mad"] > 60.0)

    def test_short_payload_emits_nothing(self, spark):
        from nycdb_k8s_loader_spark.operators.multimodal import (
            MEDIA_SCHEMA,
            video_scene_cuts,
        )

        one = spark.createDataFrame(
            [(0, "video", bytes(range(40)), "application/x-video", "s3://x")],
            MEDIA_SCHEMA,
        )
        # 40 bytes < 2 full 32-byte frames → no pairs
        assert video_scene_cuts(one).count() == 0


class TestCorpusShuffleAndExactSample:
    def _docs(self, spark, n=200):
        return spark.createDataFrame(
            [(i, f"doc {i}") for i in range(n)], "doc_id long, text string"
        )

    def test_shuffle_is_dense_permutation_and_seed_sensitive(self, spark):
        from nycdb_k8s_loader_spark.operators.sampling import corpus_shuffle

        docs = self._docs(spark)
        a = {r["doc_id"]: r["shuffle_pos"]
             for r in corpus_shuffle(docs).collect()}
        assert sorted(a.values()) == list(range(1, 201))  # dense 1..n
        # partitioning-invariant
        b = {r["doc_id"]: r["shuffle_pos"]
             for r in corpus_shuffle(docs.repartition(7)).collect()}
        assert a == b
        # a different seed is a different permutation
        c = {r["doc_id"]: r["shuffle_pos"]
             for r in corpus_shuffle(docs, seed="epoch2").collect()}
        assert sorted(c.values()) == list(range(1, 201))
        assert c != a

    def test_exact_sample_is_nested_prefix(self, spark):
        from nycdb_k8s_loader_spark.operators.sampling import (
            global_exact_sample,
        )

        docs = self._docs(spark)
        small = {r["doc_id"] for r in global_exact_sample(docs, 30).collect()}
        big = {r["doc_id"] for r in global_exact_sample(docs, 80).collect()}
        assert len(small) == 30 and len(big) == 80
        assert small < big  # growing the sample never churns it
        # n beyond |df| returns everything
        assert global_exact_sample(docs, 10_000).count() == 200


class TestIncrementalDedupState:
    """The persisted-signature production loop (r4 VERDICT wrong-item
    #4): batch verdicts must be identical whether corpus signatures
    are recomputed or read from a published state table, and the
    from-state plan must never scan corpus text."""

    def _frames(self, spark):
        corpus = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta"),
                (2, "one two three four five six seven okay fine done"),
                (3, "unrelated words entirely here now"),
            ],
            "doc_id long, text string",
        )
        batch2 = spark.createDataFrame(
            [
                (10, "alpha beta gamma delta epsilon zeta"),   # exact
                (11, "one two three four five six seven okay fine extra"),  # near
                (12, "completely novel content stream okay"),   # keep
            ],
            "doc_id long, text string",
        )
        return corpus, batch2

    def test_two_batch_loop_state_equals_recompute(self, spark, tmp_path):
        from nycdb_k8s_loader_spark.operators.dedup import (
            dedup_signature_state,
            incremental_dedup,
            incremental_dedup_from_state,
        )

        corpus, batch2 = self._frames(spark)
        corpus_path = str(tmp_path / "corpus.parquet")
        state_path = str(tmp_path / "state.parquet")
        corpus.write.parquet(corpus_path)
        corpus_on_disk = spark.read.parquet(corpus_path)
        # corpus refresh: persist the signature state once
        dedup_signature_state(corpus_on_disk).write.parquet(state_path)

        recomputed = {
            r["doc_id"]: r["verdict"]
            for r in incremental_dedup(corpus_on_disk, batch2).collect()
        }
        state = spark.read.parquet(state_path)
        from_state_df = incremental_dedup_from_state(state, batch2)
        from_state = {
            r["doc_id"]: r["verdict"] for r in from_state_df.collect()
        }
        assert from_state == recomputed == {
            10: "exact_dup", 11: "near_dup", 12: "keep"
        }
        # plan assertion: the from-state probe reads the STATE table,
        # never the corpus parquet (corpus text is not re-scanned)
        files = from_state_df.inputFiles()
        assert files and all("state.parquet" in f for f in files)
        assert not any("corpus.parquet" in f for f in files)

    def test_state_kinds_cover_probe_surfaces(self, spark):
        from nycdb_k8s_loader_spark.operators.dedup import (
            dedup_signature_state,
        )

        from nycdb_k8s_loader_spark.operators.dedup import bands_for

        corpus, _ = self._frames(spark)
        state = dedup_signature_state(corpus)
        kinds = {
            r["kind"]: r["n"]
            for r in state.groupBy("kind").count()
            .withColumnRenamed("count", "n").collect()
        }
        # defaults route through the bands_for policy on the corpus count
        nh, b = bands_for(3, target_sim=0.7)
        assert kinds["hash"] == 3          # one content hash per doc
        assert kinds["band"] == 3 * b      # one key per (doc, band)
        assert kinds["shingle"] > 0
        assert kinds["meta"] == 1          # one self-description row
        meta_key = state.filter("kind = 'meta'").collect()[0]["key"]
        assert meta_key == f"num_hashes={nh};bands={b};shingles=3"
        # bodies never enter the state
        assert "text" not in state.columns

    def test_state_preserves_string_id_type(self, spark):
        """The meta row is built with the input's actual id type — a
        string-id corpus must not see every hash/band row's id coerced
        through union widening (schema drift vs pre-meta states)."""
        from nycdb_k8s_loader_spark.operators.dedup import (
            dedup_signature_state,
        )

        corpus = spark.createDataFrame(
            [("a", "one two three four"), ("b", "five six seven eight")],
            "doc_id string, text string",
        )
        state = dedup_signature_state(corpus)
        assert state.schema["doc_id"].dataType.simpleString() == "string"
        ids = {r["doc_id"] for r in state.select("doc_id").collect()}
        assert ids == {"a", "b", None}  # meta row carries a NULL id

    def test_extend_perms_no_degenerate_or_duplicate(self):
        """2^31-1 is odd yet ≡ 0 mod the Mersenne prime — a constant
        permutation; the generator must also never emit a repeated
        (a, b) pair."""
        from nycdb_k8s_loader_spark.operators.dedup import (
            _MERSENNE31,
            _extend_perms,
        )

        perms: list[tuple[int, int]] = [(2, 1)]
        _extend_perms(perms, upto=128)
        assert len(perms) == len(set(perms)) == 128
        assert all(a % _MERSENNE31 != 0 for a, _ in perms)


class TestScaleSafeDefaults:
    """bands_for is the LIVE default of the banded dedup operators
    (round-6 verdict #1: it had shipped as dead code). These pin (a)
    the policy's scale properties — monotone banding, bounded
    signature width, candidates ≪ n²/2 — and (b) that the operator
    defaults actually route through it."""

    def test_hashed_grams_default_routes_by_corpus_size(self, spark):
        """t13 form selection mirrors the bands_for precedent (round-7
        verdict #4): a bare caller gets the string form below ~50k
        docs and the hashed global-frequency pass at/above it;
        explicit args always pin."""
        from nycdb_k8s_loader_spark.operators.dedup import (
            _HASHED_GRAMS_DOC_THRESHOLD,
            _resolve_hashed_grams,
        )

        small = spark.range(100)
        big = spark.range(_HASHED_GRAMS_DOC_THRESHOLD)
        assert _resolve_hashed_grams(small, None) is False
        assert _resolve_hashed_grams(big, None) is True
        assert _resolve_hashed_grams(big, False) is False
        assert _resolve_hashed_grams(small, True) is True

    def test_policy_monotone_and_bounded(self):
        from nycdb_k8s_loader_spark.operators.dedup import (
            MINHASH_PERMS,
            bands_for,
        )

        prev_r, prev_b = 0, 0
        for n in (10, 1_000, 100_000, 10_000_000, 1_000_000_000):
            nh, b = bands_for(n)
            r = nh // b
            assert nh % b == 0, "bands must divide num_hashes"
            assert nh <= len(MINHASH_PERMS) <= 128
            # rows-per-band AND band count are monotone in corpus size:
            # more docs -> sharper S-curve, never a looser one
            assert r >= prev_r and b >= prev_b
            prev_r, prev_b = r, b
        # small corpora keep the recall-friendly r=2 (the historical
        # pinned default); billion-doc corpora sharpen to r>=6
        assert bands_for(100)[0] // bands_for(100)[1] == 2
        nh, b = bands_for(1_000_000_000)
        assert nh // b >= 6

    def test_policy_validation(self):
        import pytest

        from nycdb_k8s_loader_spark.operators.dedup import bands_for

        with pytest.raises(ValueError):
            bands_for(0)
        with pytest.raises(ValueError):
            bands_for(100, target_sim=0.0)
        with pytest.raises(ValueError):
            bands_for(100, target_sim=1.0)

    def test_half_explicit_banding_rejected(self, spark):
        import pytest

        from nycdb_k8s_loader_spark.operators.dedup import fuzzy_dedup

        docs = spark.createDataFrame(
            [(1, "a b c d e f")], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="BOTH num_hashes and bands"):
            fuzzy_dedup(docs, num_hashes=8).collect()

    def test_candidates_far_below_allpairs_at_two_sizes(self, spark):
        """The brief's 'done' bar: policy-resolved banding keeps the
        candidate-pair set ≪ n²/2 at two corpus sizes (500 and 5000
        docs — a 10x step), and candidate growth stays far below the
        quadratic 100x."""
        from nycdb_k8s_loader_spark.operators.dedup import (
            bands_for,
            minhash_signatures,
        )

        counts = {}
        for sf, n_expect in (("sf0.001", 500), ("sf0.1", 5000)):
            docs = spark.read.parquet(
                f"/root/testdata/{sf}/documents.parquet"
            )
            n = docs.count()
            assert n == n_expect
            nh, b = bands_for(n, target_sim=0.7)
            cands = minhash_signatures(
                docs, num_hashes=nh, bands=b, shingles=3
            ).count()
            assert cands < 0.05 * (n * (n - 1) / 2), (
                f"{sf}: {cands} candidates vs {n*(n-1)//2} pairs"
            )
            counts[n] = cands
        # 10x docs: candidate growth must stay far below quadratic
        # (allow 3x the data ratio for true-dup density variation)
        assert counts[5000] <= 30 * max(counts[500], 1)

    def test_operator_defaults_match_policy_pin(self, spark):
        """fuzzy_dedup / ngram_jaccard_pairs defaults produce EXACTLY
        the frame explicit bands_for(...) values produce — the wiring
        is live, not parallel code paths."""
        from nycdb_k8s_loader_spark.operators.dedup import (
            bands_for,
            fuzzy_dedup,
            ngram_jaccard_pairs,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        nh, b = bands_for(docs.count(), target_sim=0.7)
        got = sorted(map(tuple, fuzzy_dedup(docs, threshold=0.7).collect()))
        want = sorted(map(tuple, fuzzy_dedup(
            docs, threshold=0.7, num_hashes=nh, bands=b
        ).collect()))
        assert got == want
        nh6, b6 = bands_for(docs.count(), target_sim=0.6)
        got_p = sorted(map(tuple, ngram_jaccard_pairs(
            docs, threshold=0.6, shingles=3
        ).collect()))
        want_p = sorted(map(tuple, ngram_jaccard_pairs(
            docs, threshold=0.6, shingles=3, num_hashes=nh6, bands=b6
        ).collect()))
        assert got_p == want_p

    def test_from_state_resolves_banding_from_meta(self, spark):
        """incremental_dedup_from_state with NO banding args probes
        with the parameterization recorded in the state's meta row —
        and refuses to guess when the meta row is missing."""
        import pytest

        from nycdb_k8s_loader_spark.operators.dedup import (
            dedup_signature_state,
            incremental_dedup_from_state,
        )

        corpus = spark.createDataFrame(
            [(2, "alpha beta gamma delta epsilon zeta"),
             (4, "one two three four five six seven okay fine done")],
            "doc_id long, text string",
        )
        batch = spark.createDataFrame(
            [(11, "alpha beta gamma delta epsilon zeta"),
             (13, "totally new words never seen anywhere before now")],
            "doc_id long, text string",
        )
        state = dedup_signature_state(
            corpus, num_hashes=6, bands=3, shingles=3
        )
        got = {
            r["doc_id"]: r["verdict"]
            for r in incremental_dedup_from_state(state, batch).collect()
        }
        want = {
            r["doc_id"]: r["verdict"]
            for r in incremental_dedup_from_state(
                state, batch, num_hashes=6, bands=3, shingles=3
            ).collect()
        }
        assert got == want == {11: "exact_dup", 13: "keep"}
        with pytest.raises(ValueError, match="meta"):
            incremental_dedup_from_state(
                state.filter("kind <> 'meta'"), batch
            )


class TestHashedGramTwin:
    """t13's hashed-gram frequency pass (round-6 brief #5): the
    xxhash64 global count + exact-string candidate verify must produce
    IDENTICAL verdicts to the string-shuffle form on catalog data."""

    def test_identical_span_starts_and_scrub(self, spark):
        from nycdb_k8s_loader_spark.operators.dedup import (
            duplicated_span_starts,
            exact_substring_scrub,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        s_str = sorted(map(tuple, duplicated_span_starts(
            docs, ngram=5, min_count=2
        ).collect()))
        s_hash = sorted(map(tuple, duplicated_span_starts(
            docs, ngram=5, min_count=2, hashed_grams=True
        ).collect()))
        assert s_str == s_hash and len(s_str) > 0
        c_str = sorted(map(tuple, exact_substring_scrub(
            docs, ngram=5, min_count=2
        ).collect()))
        c_hash = sorted(map(tuple, exact_substring_scrub(
            docs, ngram=5, min_count=2, hashed_grams=True
        ).collect()))
        assert c_str == c_hash

    def test_collision_verify_is_exact(self, spark):
        """The exact-string re-count on the candidate subset kills a
        (simulated) hash collision: two DIFFERENT grams that land in
        one hash bucket must not cross-trigger each other."""
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.dedup import (
            duplicated_span_starts,
        )

        # 'a b c d e' appears twice (a true dup); 'v w x y z' once.
        docs = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d e"), (3, "v w x y z")],
            "doc_id long, text string",
        )
        out = duplicated_span_starts(
            docs, ngram=5, min_count=2, hashed_grams=True
        ).collect()
        assert sorted((r["doc_id"], r["pos"]) for r in out) == [
            (1, 0), (2, 0)
        ]
        # plan check: the hashed form's FIRST aggregate keys on the
        # 64-bit hash, not the gram string
        plan = duplicated_span_starts(
            docs, ngram=5, min_count=2, hashed_grams=True
        )._jdf.queryExecution().optimizedPlan().toString()
        assert "xxhash64" in plan


class TestContaminationAndRepetition:
    def test_benchmark_contamination_flags_overlap_only(self, spark):
        from nycdb_k8s_loader_spark.operators.dedup import (
            benchmark_contamination,
        )

        bench = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string",
        )
        train = spark.createDataFrame(
            [
                # contains the bench 5-gram "quick brown fox jumps over"
                (1, "a quick brown fox jumps over fences daily it seems"),
                # no shared 5-gram
                (2, "completely different words with no overlap at all here"),
                # exact copy: every 5-gram shared
                (3, "the quick brown fox jumps over the lazy dog"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in benchmark_contamination(train, bench, shingles=5)
            .collect()
        }
        assert out[1]["is_contaminated"]
        assert out[1]["n_shared_ngrams"] >= 1
        assert not out[2]["is_contaminated"]
        assert out[2]["n_shared_ngrams"] == 0
        assert out[3]["is_contaminated"]
        assert out[3]["n_shared_ngrams"] == 5  # 9 words -> 5 grams

    def test_repetition_scores_flag_boilerplate(self, spark):
        from nycdb_k8s_loader_spark.operators.textops import (
            repetition_scores,
        )

        docs = spark.createDataFrame(
            [
                (1, "spam spam spam spam spam spam"),      # one gram x4
                (2, "one two three four five six seven"),  # all distinct
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r for r in repetition_scores(docs).collect()
        }
        assert out[1]["n_ngrams"] == 4
        assert out[1]["dup_ngram_frac"] == 0.75   # 1 distinct of 4
        assert out[1]["top_ngram_frac"] == 1.0
        assert out[2]["dup_ngram_frac"] == 0.0
        assert out[2]["n_ngrams"] == 5
        assert out[2]["top_ngram_frac"] == 0.2


class TestSemanticDedupTwoLevel:
    def test_two_level_matches_flat_on_separated_clusters(self, spark):
        """coarse_cells assignment equals the flat argmin when
        clusters are well separated (the approximation only bites at
        cell boundaries)."""
        from nycdb_k8s_loader_spark.operators.similarity import (
            semantic_dedup,
        )

        def v(axis, eps=0.0):
            out = [0.0, 0.0, 0.0, 0.0]
            out[axis] = 1.0
            out[(axis + 1) % 4] = eps
            return out

        rows = []
        vid = 0
        # interleaved so ids 0..3 (the seeds) cover all four axes
        for eps in (0.0, 0.001, -0.001, 0.002):
            for axis in range(4):
                rows.append((vid, v(axis, eps), 0))
                vid += 1
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        flat = {
            (r["vec_id"], r["cluster_id"], r["is_kept"])
            for r in semantic_dedup(emb, k=4, threshold=0.95).collect()
        }
        two = {
            (r["vec_id"], r["cluster_id"], r["is_kept"])
            for r in semantic_dedup(
                emb, k=4, threshold=0.95, coarse_cells=2
            ).collect()
        }
        assert flat == two
        # sanity: 4 clusters, each axis keeps exactly its smallest id
        # (ids 0..3 after interleaving)
        kept = sorted(vid for vid, _c, ik in flat if ik)
        assert kept == [0, 1, 2, 3]


class TestPiiScrubAndImageNearDup:
    def test_pii_scrub_counts_and_cascade(self, spark):
        from nycdb_k8s_loader_spark.operators.textops import pii_scrub

        docs = spark.createDataFrame(
            [
                (1, "reach me at bob.smith@corp.io or 555-1234 ok"),
                (2, "server 192.168.0.1 rebooted"),
                (3, "nothing sensitive here"),
                # email whose domain carries an IPv4-shaped span:
                # email masks FIRST so the IP is consumed by [EMAIL]
                (4, "x@10.0.0.1.example.com y"),
                # mixed-case PII detected; non-PII casing untouched
                (5, "Dear Ann, mail Bob.Smith@Corp.IO ASAP"),
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
        assert (out[1]["n_emails"], out[1]["n_phones"]) == (1, 1)
        assert "[EMAIL]" in out[1]["redacted"]
        assert "[PHONE]" in out[1]["redacted"]
        assert out[2]["n_ipv4"] == 1 and "[IP]" in out[2]["redacted"]
        assert not out[3]["has_pii"]
        assert out[3]["redacted"] == "nothing sensitive here"
        assert out[4]["n_emails"] == 1 and out[4]["n_ipv4"] == 1
        assert "[IP]" not in out[4]["redacted"]  # cascade pinned
        # scrub must only replace the PII span — casing elsewhere is
        # preserved verbatim (a lowercasing scrub destroys the corpus)
        assert out[5]["n_emails"] == 1
        assert out[5]["redacted"] == "Dear Ann, mail [EMAIL] ASAP"

    def test_image_neardup_pairs_exact_and_banded(self, spark):
        from nycdb_k8s_loader_spark.operators.multimodal import (
            image_neardup_pairs,
            synthetic_media,
        )

        pairs = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in image_neardup_pairs(
                synthetic_media(spark), max_hamming=6
            ).collect()
        }
        # identical fingerprints surface with hamming 0 (verified
        # against the oracle's char-compare; (0, 6) is one such pair)
        assert pairs[(0, 6)] == 0
        assert all(h <= 6 for h in pairs.values())
        assert all(a < b for (a, b) in pairs)


class TestRound5PlanShapes:
    """Plan pins for the round-5 additions (the executedPlan toString
    discipline from TestRound4LatePlanShapes)."""

    def _plan(self, df):
        return df._jdf.queryExecution().executedPlan().toString()

    def test_t14_benchmark_side_broadcasts(self, spark):
        from nycdb_k8s_loader_spark.plans.catalog import queries

        df = queries()["t14_benchmark_contamination"](
            spark, "/root/testdata/sf0.001"
        )
        plan = self._plan(df)
        # eval-set grams must be the broadcast side of the hash join —
        # a shuffled join here would re-partition the whole training
        # corpus by gram string
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_m07_band_join_no_cartesian(self, spark):
        from nycdb_k8s_loader_spark.plans.catalog import queries

        df = queries()["m07_image_neardup_pairs"](
            spark, "/root/testdata/sf0.001"
        )
        plan = self._plan(df)
        # candidates come from the (band, slice) equi-join, never an
        # all-pairs product over fingerprints
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_t16_is_pure_projection(self, spark):
        from nycdb_k8s_loader_spark.plans.catalog import queries

        df = queries()["t16_pii_scrub"](spark, "/root/testdata/sf0.001")
        plan = self._plan(df)
        # regex scrub must run at scan speed: no exchange, no join
        assert "Exchange" not in plan
        assert "Join" not in plan

    def test_t15_two_partial_agg_groupbys(self, spark):
        from nycdb_k8s_loader_spark.plans.catalog import queries

        df = queries()["t15_repetition_scores"](
            spark, "/root/testdata/sf0.001"
        )
        plan = self._plan(df)
        # (doc, gram) count then per-doc aggregate — both hash
        # aggregates with map-side partials; no window, no join
        assert "Window" not in plan
        assert plan.count("HashAggregate") >= 4  # partial+final x2


class TestDerivedSizeBroadcastPins:
    """Round-7 regression pins for the derived-size broadcast bomb
    (PERFORMANCE.md): Generate/Aggregate pass the parquet scan's
    sizeInBytes through, so Catalyst estimates multi-million-row
    exploded posting/gram tables at ~2 MB and BROADCASTs them under
    any generous autoBroadcastJoinThreshold (measured ×8.3 wall on a
    ×3 data step at sf3). Every derived-side join now carries an
    explicit shuffle_hash hint; these pins fail if a refactor drops
    one, because at sf0.001 the un-hinted plan would flip straight
    back to broadcast."""

    def _plan(self, df):
        return df._jdf.queryExecution().executedPlan().toString()

    def test_incremental_dedup_all_shuffled_hash(self, spark):
        from nycdb_k8s_loader_spark.plans.catalog import queries

        for name in (
            "d11_incremental_dedup",
            "d13_incremental_dedup_from_state",
        ):
            plan = self._plan(queries()[name](spark, "/root/testdata/sf0.001"))
            # exact semi-join, band-candidate join, postings verify
            # join, size joins, verdict left-joins — all hinted
            assert plan.count("ShuffledHashJoin") >= 6, name
            assert "BroadcastHashJoin" not in plan, name

    def test_t13_dup_gram_joins_shuffled_hash(self, spark):
        from nycdb_k8s_loader_spark.plans.catalog import queries

        plan = self._plan(
            queries()["t13_exact_substring_scrub"](
                spark, "/root/testdata/sf0.001"
            )
        )
        # r13 window form (string grams): the dup-gram count rides a
        # window over the gram-partitioned rows — no count+join-back
        # pair, so the only join left is the coverage left-join, and
        # it must stay shuffled-hash (never a derived-size broadcast)
        assert plan.count("ShuffledHashJoin") >= 1
        assert "Window" in plan
        assert "BroadcastHashJoin" not in plan

    def test_d09_never_broadcasts_postings(self, spark):
        from nycdb_k8s_loader_spark.plans.catalog import queries

        plan = self._plan(
            queries()["d09_fuzzy_dedup_e2e"](spark, "/root/testdata/sf0.001")
        )
        # the visible plan is the post-checkpoint tail (connected
        # components truncates lineage) — the pin is that no join
        # anywhere in it rides a size estimate into a broadcast
        assert "BroadcastHashJoin" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestCurationPack:
    """Round-7 curation additions: Gopher rules (t17), lexical
    diversity (t18), BM25 retrieval (s11)."""

    def test_gopher_rules_hand_computed(self, spark):
        from nycdb_k8s_loader_spark.operators.textops import (
            gopher_quality_rules,
        )

        docs = spark.createDataFrame(
            [
                # 60 words incl stopwords 'the','a' -> passes all
                (1, " ".join(["the", "a"] + ["word"] * 58)),
                # too short (3 words), one stopword
                (2, "the tiny doc"),
                # long words -> mean word len out of range
                (3, " ".join(["the", "a"] + ["x" * 20] * 58)),
                # digits only -> alpha fraction fails
                (4, " ".join(["the", "a"] + ["123"] * 58)),
            ],
            "doc_id long, text string",
        )
        r = {x["doc_id"]: x for x in gopher_quality_rules(docs).collect()}
        assert r[1]["keep"] and r[1]["n_words"] == 60
        assert r[1]["stopword_hits"] == 2
        assert not r[2]["keep"] and r[2]["ok_mean_word_len"]
        assert not r[2]["ok_word_count"]
        assert not r[3]["keep"] and not r[3]["ok_mean_word_len"]
        assert not r[4]["keep"] and not r[4]["ok_alpha_frac"]
        # 2 alpha words of 60 -> 0.0333
        assert r[4]["alpha_word_frac"] == 0.0333

    def test_gopher_passthrough_collision_raises(self, spark):
        """A passthrough name equal to an output statistic, the id or
        an internal staging column would emit duplicate-named columns
        and ambiguous references downstream: it must raise."""
        from nycdb_k8s_loader_spark.operators.textops import (
            gopher_quality_rules,
        )

        docs = spark.createDataFrame(
            [(1, "the a word", "x")],
            "doc_id long, text string, keep string",
        )
        for name in ("keep", "n_words", "doc_id", "__ws", "__nonspace"):
            with pytest.raises(ValueError, match=name):
                gopher_quality_rules(docs, passthrough=(name,))
        out = gopher_quality_rules(docs, passthrough=("text",))
        assert out.columns[-1] == "text"

    def test_gopher_rules_empty_and_whitespace_docs(self, spark):
        """A quality filter must survive junk docs: empty / blank text
        has n_words == 0, and under Spark 4's default ANSI mode a bare
        division would abort the whole job (DIVIDE_BY_ZERO).  Ratios
        come back NULL (matching DuckDB's x/0) and every verdict is a
        non-NULL false."""
        from nycdb_k8s_loader_spark.operators.textops import (
            gopher_quality_rules,
        )

        docs = spark.createDataFrame(
            [(1, ""), (2, "   "), (3, "\t\n  "), (4, "the a" + " word" * 58)],
            "doc_id long, text string",
        )
        r = {x["doc_id"]: x for x in gopher_quality_rules(docs).collect()}
        for i in (1, 2):
            assert r[i]["n_words"] == 0
            assert r[i]["mean_word_len"] is None
            assert r[i]["alpha_word_frac"] is None
            assert r[i]["keep"] is False
            assert r[i]["ok_mean_word_len"] is False
            assert r[i]["ok_alpha_frac"] is False
        # trim strips spaces only (same as DuckDB), so "\t\n" is a
        # 1-word doc — no zero division, verdicts all false
        assert r[3]["n_words"] == 1 and r[3]["keep"] is False
        assert r[4]["keep"] is True

    def test_lexical_diversity_hand_computed(self, spark):
        from nycdb_k8s_loader_spark.operators.textops import (
            lexical_diversity,
        )

        docs = spark.createDataFrame(
            [(1, "a a a b c"), (2, "x y z w")],
            "doc_id long, text string",
        )
        r = {x["doc_id"]: x for x in lexical_diversity(docs).collect()}
        # doc 1: 5 words, 3 types (a,b,c), hapax b,c -> 2/3, top a 3/5
        assert r[1]["n_words"] == 5 and r[1]["n_types"] == 3
        assert r[1]["type_token_ratio"] == 0.6
        assert r[1]["hapax_frac"] == 0.6667
        assert r[1]["top_word_frac"] == 0.6
        # doc 2: all hapax
        assert r[2]["type_token_ratio"] == 1.0
        assert r[2]["hapax_frac"] == 1.0

    def test_bm25_ranks_matching_doc_first(self, spark):
        from nycdb_k8s_loader_spark.operators.retrieval import bm25_topk

        docs = spark.createDataFrame(
            [
                (0, "apple banana cherry"),
                (1, "apple banana cherry date"),   # 3 shared terms
                (2, "apple fig grape"),            # 1 shared term
                (3, "kiwi lemon mango"),           # no shared terms
            ],
            "doc_id long, text string",
        )
        out = bm25_topk(docs, query_ids=[0], k=10).collect()
        got = {r["doc_id"]: r for r in out}
        # doc 3 shares no terms -> absent; doc 1 outranks doc 2
        assert set(got) == {1, 2}
        assert got[1]["rank"] == 1 and got[2]["rank"] == 2
        assert got[1]["score"] > got[2]["score"] > 0

    def test_bm25_no_self_match_and_k_limit(self, spark):
        from nycdb_k8s_loader_spark.operators.retrieval import bm25_topk

        docs = spark.createDataFrame(
            [(i, "shared word plus unique%d token" % i) for i in range(8)],
            "doc_id long, text string",
        )
        out = bm25_topk(docs, query_ids=[0, 1], k=3).toPandas()
        assert set(out["query_id"]) == {0, 1}
        for q in (0, 1):
            sub = out[out["query_id"] == q]
            assert len(sub) == 3
            assert q not in set(sub["doc_id"])
            assert list(sub.sort_values("rank")["rank"]) == [1, 2, 3]

    def test_plan_shapes(self, spark):
        """t17 is a pure projection (scan speed); s11's probe is an
        equi-join on term with a broadcast totals frame — never a
        cartesian of docs."""
        from nycdb_k8s_loader_spark.plans.catalog import queries

        t17 = queries()["t17_gopher_quality_rules"](
            spark, "/root/testdata/sf0.001"
        )
        plan = t17._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Join" not in plan

        s11 = queries()["s11_bm25_topk"](spark, "/root/testdata/sf0.001")
        plan = s11._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" in plan or "Broadcast" in plan


class TestDSIRImportanceWeights:
    """t19: DSIR importance weights vs a pure-Python model, hashed-mode
    agreement, top-k selection, and the plan pins."""

    def _toy(self, spark):
        return spark.createDataFrame(
            [
                (1, "en", "a a b"),
                (2, "en", "a c"),
                (3, "fr", "b b c"),
            ],
            "doc_id long, lang string, text string",
        )

    def _model(self):
        """Pure-Python mirror of the add-one-smoothed log-ratio."""
        import math

        docs = {1: ["a", "a", "b"], 2: ["a", "c"], 3: ["b", "b", "c"]}
        target = {1, 2}
        c_r: dict = {}
        c_t: dict = {}
        for d, ws in docs.items():
            for w in ws:
                c_r[w] = c_r.get(w, 0) + 1
                if d in target:
                    c_t[w] = c_t.get(w, 0) + 1
        n_r, n_t, v = sum(c_r.values()), sum(c_t.values()), len(c_r)
        lr = {
            w: math.log((c_t.get(w, 0) + 1) / (n_t + v))
            - math.log((c_r[w] + 1) / (n_r + v))
            for w in c_r
        }
        return {
            d: round(sum(lr[w] for w in ws) / len(ws), 4)
            for d, ws in docs.items()
        }

    def test_hand_computed_weights(self, spark):
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.textops import (
            dsir_importance_weights,
        )

        out = {
            r["doc_id"]: r
            for r in dsir_importance_weights(
                self._toy(spark), F.col("lang") == "en"
            ).collect()
        }
        want = self._model()
        assert {d: out[d]["avg_log_ratio"] for d in want} == want
        assert out[1]["n_tokens"] == 3 and out[2]["n_tokens"] == 2
        # target-looking docs score above the off-target doc
        assert out[2]["avg_log_ratio"] > out[1]["avg_log_ratio"] > 0
        assert out[3]["avg_log_ratio"] < 0

    def test_hashed_mode_matches_exact_without_collisions(self, spark):
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.textops import (
            dsir_importance_weights,
        )

        df = self._toy(spark)
        exact = {
            r["doc_id"]: r["avg_log_ratio"]
            for r in dsir_importance_weights(
                df, F.col("lang") == "en"
            ).collect()
        }
        # 2^20 buckets over a 3-word vocab: collision-free, so the
        # hashed production form must reproduce the exact weights
        hashed = {
            r["doc_id"]: r["avg_log_ratio"]
            for r in dsir_importance_weights(
                df, F.col("lang") == "en", hash_buckets=1 << 20
            ).collect()
        }
        assert hashed == exact

    def test_top_k_selection_rank(self, spark):
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.textops import (
            dsir_importance_weights,
        )

        out = dsir_importance_weights(
            self._toy(spark), F.col("lang") == "en", top_k=2
        ).collect()
        assert len(out) == 2
        by_rank = {r["select_rank"]: r["doc_id"] for r in out}
        # doc 2 has the highest weight (hand-computed), then doc 1
        assert by_rank[1] == 2 and by_rank[2] == 1

    def test_plan_count_join_shuffled_totals_broadcast(self, spark):
        from nycdb_k8s_loader_spark.plans.catalog import queries

        df = queries()["t19_dsir_importance_weights"](
            spark, "/root/testdata/sf0.001"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        # vocabulary counts are aggregate-derived -> must not ride the
        # scan's size estimate into a broadcast
        assert "ShuffledHashJoin" in plan
        assert "BroadcastHashJoin" not in plan
        # corpus totals are the one intentional 1-row broadcast
        assert "BroadcastNestedLoopJoin" in plan


class TestCheckpointHygiene:
    """Iterative operators must release superseded localCheckpoint
    generations (round 7): ContextCleaner's default 30-min periodic GC
    otherwise leaves every iteration's blocks pinned in the block
    manager, and queries later in a long-lived session slow 2-10x
    under the accumulated storage (measured at sf3: d11 12 s clean vs
    117 s in a leaky session). Each op may keep ONLY the checkpoints
    its returned plan still references."""

    def _n_persisted(self, spark):
        return len(spark._jsc.sc().getRDDStorageInfo())

    def _drain(self, spark, floor, timeout=15.0):
        """GC until the persisted count stops above ``floor`` or
        timeout — py4j frees JVM refs asynchronously."""
        import time

        deadline = time.time() + timeout
        n = self._n_persisted(spark)
        while n > floor and time.time() < deadline:
            spark.sparkContext._jvm.System.gc()
            time.sleep(0.5)
            n = self._n_persisted(spark)
        return n

    def test_connected_components_keeps_only_result(self, spark):
        from nycdb_k8s_loader_spark.operators.graph import (
            connected_components,
        )

        base = self._drain(spark, 0)
        # three 6-node chains: ~5 label-propagation rounds
        rows = [
            (c * 10 + i, c * 10 + i + 1) for c in range(3) for i in range(5)
        ]
        edges = spark.createDataFrame(rows, "src long, dst long")
        out = connected_components(edges)
        assert out.count() == 18
        # superseded label generations + sym released in-loop, without
        # waiting for a driver GC: only the returned labels remain
        assert self._n_persisted(spark) <= base + 1

    def test_pagerank_keeps_only_result(self, spark):
        from nycdb_k8s_loader_spark.operators.graph import pagerank

        base = self._drain(spark, 0)
        edges = spark.createDataFrame(
            [(i, (i * 7 + 1) % 20) for i in range(20)], "src long, dst long"
        )
        ranks = pagerank(edges, iterations=4)
        assert ranks.count() > 0
        assert self._n_persisted(spark) <= base + 1

    def test_bfs_keeps_only_result(self, spark):
        from nycdb_k8s_loader_spark.operators.graph import bfs_reachable

        base = self._drain(spark, 0)
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(10)], "src long, dst long"
        )
        seeds = spark.createDataFrame([(0,)], "node long")
        out = bfs_reachable(edges, seeds)
        assert out.count() == 11
        assert self._n_persisted(spark) <= base + 1

    def test_released_result_still_collectable(self, spark):
        """The returned frame must survive its op's internal releases:
        re-collect after the loop frames are gone."""
        from nycdb_k8s_loader_spark.operators.graph import (
            connected_components,
        )

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "src long, dst long"
        )
        out = connected_components(edges)
        a = sorted(tuple(r) for r in out.collect())
        b = sorted(tuple(r) for r in out.collect())  # re-execute
        assert a == b and len(a) == 5


class TestSentenceDedup:
    """t20: CCNet-style sentence-level boilerplate removal — hand
    model, hashed-key agreement, the min_words guard, all-removed
    docs, and plan pins."""

    def _toy(self, spark):
        # "common footer text" appears in docs 1+2 (cross-doc dup);
        # "unique line here" only in doc 1; doc 3 repeats its OWN
        # sentence twice but shares it with nobody; "ok" is a
        # cross-doc dup but under the min_words guard
        return spark.createDataFrame(
            [
                (1, "unique line here. common footer text. ok"),
                (2, "common footer text. something else entirely. ok"),
                (3, "solo repeated line. solo repeated line"),
                (4, ""),
            ],
            "doc_id long, text string",
        )

    def test_cross_doc_dup_removed_in_order(self, spark):
        from nycdb_k8s_loader_spark.operators.textops import sentence_dedup

        out = {
            r["doc_id"]: r for r in sentence_dedup(self._toy(spark)).collect()
        }
        # every input doc comes back, untouched ones with n_removed=0
        assert set(out) == {1, 2, 3, 4}
        assert out[1]["cleaned_text"] == "unique line here. ok"
        assert out[1]["n_sentences"] == 3 and out[1]["n_removed"] == 1
        assert out[2]["cleaned_text"] == "something else entirely. ok"
        # same-doc repetition is NOT cross-doc boilerplate
        assert out[3]["n_removed"] == 0
        assert out[3]["cleaned_text"] == "solo repeated line. solo repeated line"
        # empty doc: zero sentences, empty cleaned text
        assert out[4]["n_sentences"] == 0 and out[4]["cleaned_text"] == ""

    def test_min_words_guard(self, spark):
        from nycdb_k8s_loader_spark.operators.textops import sentence_dedup

        # "ok" is duplicated across docs 1+2 but has 1 word < 3
        out = {
            r["doc_id"]: r["cleaned_text"]
            for r in sentence_dedup(self._toy(spark)).collect()
        }
        assert out[1].endswith("ok") and out[2].endswith("ok")
        # lowering the guard removes it too
        loose = {
            r["doc_id"]: r["cleaned_text"]
            for r in sentence_dedup(self._toy(spark), min_words=1).collect()
        }
        assert loose[1] == "unique line here"

    def test_hashed_keys_same_verdicts(self, spark):
        from nycdb_k8s_loader_spark.operators.textops import sentence_dedup

        df = self._toy(spark)
        exact = sorted(map(tuple, sentence_dedup(df).collect()))
        hashed = sorted(
            map(tuple, sentence_dedup(df, hashed_keys=True).collect())
        )
        assert hashed == exact

    def test_plan_hinted_joins_no_broadcast_of_derived(self, spark):
        from nycdb_k8s_loader_spark.plans.catalog import queries

        df = queries()["t20_sentence_dedup"](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        # dup keys + removed-position sets are aggregate-derived: they
        # must not ride the scan's size estimate into a broadcast
        assert "ShuffledHashJoin" in plan
        assert "BroadcastHashJoin" not in plan


class TestBigramFluency:
    """t21: corpus-self-trained bigram LM fluency — pure-Python model
    parity, fluency ordering, hashed production mode, plan pins."""

    def _toy(self, spark):
        # docs 1+2 share the common "a b" pattern; doc 3 is the odd
        # sequence out and must score LESS fluent (higher -logprob)
        return spark.createDataFrame(
            [
                (1, "a b a b a b"),
                (2, "a b a b"),
                (3, "c a x b"),
                (4, "solo"),
            ],
            "doc_id long, text string",
        )

    def _model(self):
        import math

        docs = {
            1: ["a", "b", "a", "b", "a", "b"],
            2: ["a", "b", "a", "b"],
            3: ["c", "a", "x", "b"],
        }
        bg: dict = {}
        for ws in docs.values():
            for w1, w2 in zip(ws, ws[1:]):
                bg[(w1, w2)] = bg.get((w1, w2), 0) + 1
        ug: dict = {}
        for (w1, _), c in bg.items():
            ug[w1] = ug.get(w1, 0) + c
        v = len(bg)
        out = {}
        for d, ws in docs.items():
            nlps = [
                math.log(ug[w1] + v) - math.log(bg[(w1, w2)] + 1)
                for w1, w2 in zip(ws, ws[1:])
            ]
            out[d] = round(sum(nlps) / len(nlps), 4)
        return out

    def test_matches_pure_python_model(self, spark):
        from nycdb_k8s_loader_spark.operators.textops import bigram_fluency

        out = {
            r["doc_id"]: r for r in bigram_fluency(self._toy(spark)).collect()
        }
        want = self._model()
        assert {d: out[d]["avg_neg_logprob"] for d in want} == want
        assert out[1]["n_bigrams"] == 5 and out[3]["n_bigrams"] == 3
        # single-token doc has no bigrams: excluded by contract
        assert 4 not in out
        # the odd sequence scores less fluent than the common pattern
        assert out[3]["avg_neg_logprob"] > out[1]["avg_neg_logprob"]

    def test_hashed_mode_matches_exact_without_collisions(self, spark):
        from nycdb_k8s_loader_spark.operators.textops import bigram_fluency

        df = self._toy(spark)
        exact = {
            r["doc_id"]: r["avg_neg_logprob"]
            for r in bigram_fluency(df).collect()
        }
        hashed = {
            r["doc_id"]: r["avg_neg_logprob"]
            for r in bigram_fluency(df, hash_buckets=1 << 20).collect()
        }
        assert hashed == exact

    def test_plan_hinted_joins_v_broadcast(self, spark):
        from nycdb_k8s_loader_spark.plans.catalog import queries

        df = queries()["t21_bigram_fluency"](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the bigram/context count tables are aggregate-derived — they
        # must not ride the scan's size estimate into a broadcast
        assert "ShuffledHashJoin" in plan
        assert "BroadcastHashJoin" not in plan
        # the 1-row V frame is the one intentional broadcast
        assert "BroadcastNestedLoopJoin" in plan


class TestTokenBudgetMixture:
    """p07: token-budget mixing — rate math, saturation, nesting, and
    the map-side-only plan shape."""

    def _corpus(self, spark):
        # srcA: 100 docs x 10 tokens = 1000 tokens
        # srcB: 10 docs x 10 tokens = 100 tokens (scarce)
        rows = [(i, "srcA", "w " * 9 + "w") for i in range(100)]
        rows += [(1000 + i, "srcB", "w " * 9 + "w") for i in range(10)]
        return spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        )

    def test_rates_and_saturation(self, spark):
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.sampling import (
            token_budget_mixture,
        )

        # budget = 50% of 1100 = 550 tokens; srcB targets 40% of the
        # budget (220 tokens) but only has 100 -> saturates at 1.0;
        # srcA targets 60% (330 of its 1000) -> rate 330000 ppm
        out = token_budget_mixture(
            self._corpus(spark),
            {"srcA": 600_000, "srcB": 400_000},
            budget_ppm_of_corpus=500_000,
        )
        rates = {
            r["source"]: r["rate_ppm"]
            for r in out.select("source", "rate_ppm").distinct().collect()
        }
        assert rates["srcB"] == 1_000_000  # saturation: keep all
        assert rates["srcA"] == 330_000
        # every srcB doc kept; srcA downsampled to ~33%
        by_src = {
            r["source"]: r["n"]
            for r in out.groupBy("source")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert by_src["srcB"] == 10
        assert 0 < by_src["srcA"] < 100

    def test_budget_growth_keeps_superset(self, spark):
        from nycdb_k8s_loader_spark.operators.sampling import (
            token_budget_mixture,
        )

        df = self._corpus(spark)
        shares = {"srcA": 600_000, "srcB": 400_000}
        small = {
            r["doc_id"]
            for r in token_budget_mixture(
                df, shares, budget_ppm_of_corpus=300_000
            ).collect()
        }
        big = {
            r["doc_id"]
            for r in token_budget_mixture(
                df, shares, budget_ppm_of_corpus=600_000
            ).collect()
        }
        assert small <= big and len(small) < len(big)

    def test_corpus_never_shuffles(self, spark):
        from nycdb_k8s_loader_spark.plans.catalog import queries

        df = queries()["p07_token_budget_mixture"](
            spark, "/root/testdata/sf0.001"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the doc-side join must be the broadcast of the rates frame,
        # never an exchange of the corpus
        assert "BroadcastHashJoin" in plan
        assert "ShuffledHashJoin" not in plan and "SortMergeJoin" not in plan

    def test_source_missing_from_shares_is_excluded(self, spark):
        from nycdb_k8s_loader_spark.operators.sampling import (
            token_budget_mixture,
        )

        # srcB has no target share: excluded from the mix entirely
        # (share 0 -> rate 0), by definition rather than by NULL
        out = token_budget_mixture(
            self._corpus(spark),
            {"srcA": 1_000_000},
            budget_ppm_of_corpus=500_000,
        )
        assert out.filter("source = 'srcB'").count() == 0
        assert out.filter("source = 'srcA'").count() > 0


class TestRound7ReviewFixes:
    """Regression pins for the round-7 review findings."""

    def test_policy_banding_on_empty_corpus_returns_empty(self, spark):
        from nycdb_k8s_loader_spark.operators.dedup import fuzzy_dedup

        empty = spark.createDataFrame([], "doc_id long, text string")
        # pre-fix: bands_for(0) raised ValueError; the policy default
        # must degrade to an empty result like the old fixed 8/4 did
        assert fuzzy_dedup(empty, threshold=0.7).count() == 0

    def test_pagerank_zero_iterations_collectable(self, spark):
        from nycdb_k8s_loader_spark.operators.graph import pagerank

        edges = spark.createDataFrame(
            [(1, 2), (2, 3)], "src long, dst long"
        )
        # pre-fix: the post-loop release dropped the nodes checkpoint
        # the returned (uniform) plan still referenced
        out = pagerank(edges, iterations=0).collect()
        assert len(out) == 3
        assert all(abs(r["rank"] - 1 / 3) < 1e-6 for r in out)

    def test_state_probe_rejects_contradicting_explicit_banding(
        self, spark
    ):
        import pytest

        from nycdb_k8s_loader_spark.operators.dedup import (
            dedup_signature_state,
            incremental_dedup_from_state,
        )

        docs = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon")],
            "doc_id long, text string",
        )
        state = dedup_signature_state(
            docs, num_hashes=8, bands=4, shingles=3
        )
        batch = spark.createDataFrame(
            [(2, "alpha beta gamma delta epsilon")],
            "doc_id long, text string",
        )
        # agreeing explicit values: fine (the catalog's pinned form)
        assert (
            incremental_dedup_from_state(
                state, batch, num_hashes=8, bands=4, shingles=3
            ).count()
            == 1
        )
        # contradicting shingles: must raise, not silently find nothing
        with pytest.raises(ValueError, match="contradicts"):
            incremental_dedup_from_state(
                state, batch, num_hashes=8, bands=4, shingles=5
            )

    def test_star_components_keep_only_result_frames(self, spark):
        import time

        from nycdb_k8s_loader_spark.operators.graph import (
            connected_components_star,
        )

        def n_persisted():
            return len(spark._jsc.sc().getRDDStorageInfo())

        # drain leftovers from earlier tests (py4j frees JVM refs
        # asynchronously — same loop as TestCheckpointHygiene._drain)
        deadline = time.time() + 15.0
        base = n_persisted()
        while base > 0 and time.time() < deadline:
            spark.sparkContext._jvm.System.gc()
            time.sleep(0.5)
            base = n_persisted()
        rows = [
            (c * 10 + i, c * 10 + i + 1) for c in range(3) for i in range(5)
        ]
        edges = spark.createDataFrame(rows, "src long, dst long")
        out = connected_components_star(edges)
        a = sorted(tuple(r) for r in out.collect())
        # superseded edge generations released in-loop; the returned
        # plan legitimately references TWO checkpoints (the converged
        # edge set and the all-nodes frame)
        assert n_persisted() <= base + 2
        assert a == sorted(tuple(r) for r in out.collect())  # re-exec

    def test_star_steps_emit_canonical_distinct(self, spark):
        """The r13 star-loop restructure feeds _large_star straight
        into _small_star and compares edge generations WITHOUT
        re-canonicalizing — valid only while both steps emit strictly
        (u > v)-canonical, duplicate-free edge sets (large-star:
        u=b > a >= m=v; small-star: m < v and m < u after the equal
        filter). Pin that invariant on a messy multi-component graph
        with long chains (multiple contraction generations)."""
        from nycdb_k8s_loader_spark.operators.graph import (
            _large_star,
            _small_star,
            _symmetrized,
        )

        rows = (
            [(i, i + 1) for i in range(20)]           # long chain
            + [(100 + i, 100 + (i * 7 + 3) % 17) for i in range(17)]
            + [(1, 2), (2, 1), (200, 201), (201, 200)]  # dup/reversed
        )
        edges = spark.createDataFrame(rows, "src long, dst long")
        cur = (
            edges.filter("src <> dst")
            .selectExpr(
                "greatest(src, dst) as u", "least(src, dst) as v"
            )
            .distinct()
        )
        for _ in range(3):  # several generations, incl. post-converged
            # checkpoint per generation like the real loop — the test
            # checks row invariants, not lineage behavior
            ls = _large_star(
                _symmetrized(cur, "u", "v")
            ).localCheckpoint(eager=True)
            ss = _small_star(ls).localCheckpoint(eager=True)
            for step_name, df in (("large_star", ls), ("small_star", ss)):
                got = [(r["u"], r["v"]) for r in df.collect()]
                assert all(u > v for u, v in got), step_name
                assert len(got) == len(set(got)), step_name
            cur = ss


class TestPolygonIntersection:
    """geo05's general predicate: proper edge crossing, mutual
    containment, disjoint — hand-checked geometry, no oracle needed
    (the catalog entry carries the rectangle-algebra oracle)."""

    def _pairs(self, spark, a_wkts, b_wkts):
        from nycdb_k8s_loader_spark.operators.geo import (
            polygon_intersection_join,
        )

        a = spark.createDataFrame(
            [(i, w) for i, w in enumerate(a_wkts)], "aid int, wa string"
        )
        b = spark.createDataFrame(
            [(i, w) for i, w in enumerate(b_wkts)], "bid int, wb string"
        )
        out = polygon_intersection_join(a, b, wkt_a="wa", wkt_b="wb")
        return {(r["aid"], r["bid"]) for r in out.collect()}

    def test_cross_contain_disjoint(self, spark):
        square = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
        crossing = "POLYGON ((8 4, 14 4, 14 6, 8 6, 8 4))"   # crosses x=10
        inside = "POLYGON ((2 2, 3 2, 3 3, 2 3, 2 2))"       # contained
        around = "POLYGON ((-5 -5, 15 -5, 15 15, -5 15, -5 -5))"  # contains
        far = "POLYGON ((100 100, 101 100, 101 101, 100 101, 100 100))"
        got = self._pairs(
            spark, [square], [crossing, inside, around, far]
        )
        assert got == {(0, 0), (0, 1), (0, 2)}

    def test_triangle_diamond_nonrect(self, spark):
        """Non-axis-aligned rings: the predicate is general even
        though the oracle fixture uses rectangles."""
        tri = "POLYGON ((0 0, 10 0, 5 9, 0 0))"
        diamond_hit = "POLYGON ((5 3, 8 6, 5 9, 2 6, 5 3))"
        diamond_miss = "POLYGON ((20 0, 23 3, 20 6, 17 3, 20 0))"
        got = self._pairs(spark, [tri], [diamond_hit, diamond_miss])
        assert got == {(0, 0)}

    def test_overlapping_columns_rejected(self, spark):
        from nycdb_k8s_loader_spark.operators.geo import (
            polygon_intersection_join,
        )

        a = spark.createDataFrame([(1, "w")], "id int, geom_wkt string")
        with pytest.raises(ValueError, match="rename overlapping"):
            polygon_intersection_join(a, a)

    def test_broadcast_no_shuffle_plan(self, spark):
        """The A side broadcasts: the physical plan must be a
        broadcast nested-loop over the B scan — no exchange of B."""
        from nycdb_k8s_loader_spark.operators.geo import (
            polygon_intersection_join,
        )

        a = spark.createDataFrame(
            [(1, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")],
            "aid int, wa string",
        )
        b = spark.createDataFrame(
            [(2, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")],
            "bid int, wb string",
        )
        plan = (
            polygon_intersection_join(a, b, wkt_a="wa", wkt_b="wb")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastNestedLoopJoin" in plan
        assert "Exchange hashpartitioning" not in plan


class TestIncrementalSemanticState:
    """d14 (round-7 verdict #7): batch verdicts identical whether the
    corpus state is computed inline or read back from parquet, and
    the probe finds planted near-duplicates."""

    def _frames(self, spark):
        import math

        def unit(seed, dim=8):
            # deterministic pseudo-vector, then L2-normalize
            raw = [((seed * 31 + i * 17) % 97) / 97.0 - 0.5
                   for i in range(dim)]
            n = math.sqrt(sum(x * x for x in raw))
            return [x / n for x in raw]

        corpus_rows = [(i, unit(i)) for i in range(0, 40, 2)]
        # batch: vec 101 = exact copy of corpus vec 2 (near-dup);
        # 103/105 must be KEEPs, and the lattice generator's outputs
        # are all >= 0.97 cosine to some corpus vector (measured), so
        # keeps come from outside its span: a negated lattice vector
        # (max corpus cosine 0.58) and an alternating-sign unit
        # vector (0.50) — both far below the 0.95 threshold.
        batch_rows = [
            (101, unit(2)),
            (103, [-x for x in unit(55)]),
            (105, [((-1) ** i) / math.sqrt(8) for i in range(8)]),
        ]
        corpus = spark.createDataFrame(
            corpus_rows, "vec_id long, embedding array<double>"
        )
        batch = spark.createDataFrame(
            batch_rows, "vec_id long, embedding array<double>"
        )
        return corpus, batch

    def test_state_roundtrip_equals_inline(self, spark, tmp_path):
        from nycdb_k8s_loader_spark.operators.similarity import (
            incremental_semantic_dedup,
            incremental_semantic_dedup_from_state,
            semantic_dedup_state,
        )

        corpus, batch = self._frames(spark)
        inline = sorted(
            map(tuple, incremental_semantic_dedup(
                corpus, batch, k=4, threshold=0.95
            ).collect())
        )
        path = str(tmp_path / "semstate")
        semantic_dedup_state(corpus, k=4).write.parquet(path)
        state = spark.read.parquet(path)
        from_state = sorted(
            map(tuple, incremental_semantic_dedup_from_state(
                state, batch, threshold=0.95
            ).collect())
        )
        assert inline == from_state
        verdicts = {v[0]: v[2] for v in from_state}
        assert verdicts[101] is False  # planted copy of corpus vec 2
        assert verdicts[103] is True and verdicts[105] is True

    def test_state_shape_and_id_type(self, spark):
        from nycdb_k8s_loader_spark.operators.similarity import (
            semantic_dedup_state,
        )

        corpus, _ = self._frames(spark)
        st = semantic_dedup_state(corpus, k=4)
        kinds = {
            r["kind"]: r["count"]
            for r in st.groupBy("kind").count().collect()
        }
        assert kinds == {"member": 20, "centroid": 4, "meta": 1}
        meta_u = (
            st.filter("kind = 'meta'").select("u").collect()[0]["u"]
        )
        assert meta_u == [4.0, -1.0, -1.0]  # k, coarse_cells, train
        # members are unit-normalized
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.similarity import dot

        norms = (
            st.filter("kind = 'member'")
            .select(F.sqrt(dot(F.col("u"), F.col("u"))).alias("n"))
            .collect()
        )
        assert all(abs(r["n"] - 1.0) < 1e-9 for r in norms)

    def test_probe_never_reads_corpus_embeddings(self, spark, tmp_path):
        """The from-state plan scans the STATE parquet only — corpus
        embedding files stay untouched per increment."""
        from nycdb_k8s_loader_spark.operators.similarity import (
            incremental_semantic_dedup_from_state,
            semantic_dedup_state,
        )

        corpus, batch = self._frames(spark)
        cpath = str(tmp_path / "corpus_emb")
        corpus.write.parquet(cpath)
        spath = str(tmp_path / "semstate")
        semantic_dedup_state(spark.read.parquet(cpath), k=4).write.parquet(
            spath
        )
        plan = (
            incremental_semantic_dedup_from_state(
                spark.read.parquet(spath), batch, threshold=0.95
            )
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "corpus_emb" not in plan

    def test_meta_resolves_and_validates_coarse_cells(self, spark):
        """The probe assigns through the SAME flat/two-level path the
        state was built with (resolved from the kind='meta' row); an
        explicit contradiction raises instead of silently missing
        boundary near-duplicates (round-8 ADVICE, similarity.py)."""
        import pytest as _pytest

        from nycdb_k8s_loader_spark.operators.similarity import (
            incremental_semantic_dedup_from_state,
            semantic_dedup_state,
        )

        corpus, batch = self._frames(spark)
        st2 = semantic_dedup_state(corpus, k=4, coarse_cells=2)
        meta_u = (
            st2.filter("kind = 'meta'").select("u").collect()[0]["u"]
        )
        assert meta_u[1] == 2.0
        # default None resolves to the recorded 2 (no raise, verdicts
        # match an explicit agreeing probe)
        v_default = sorted(map(tuple, incremental_semantic_dedup_from_state(
            st2, batch, threshold=0.95
        ).collect()))
        v_explicit = sorted(map(tuple, incremental_semantic_dedup_from_state(
            st2, batch, threshold=0.95, coarse_cells=2
        ).collect()))
        assert v_default == v_explicit
        with _pytest.raises(ValueError, match="contradicts"):
            incremental_semantic_dedup_from_state(
                st2, batch, threshold=0.95, coarse_cells=3
            ).collect()
        # a unioned/double-built state (2+ meta rows) is ambiguous,
        # not "legacy" — raising beats silently skipping resolution
        # AND validation (round-9 ADVICE, similarity.py)
        with _pytest.raises(ValueError, match="meta rows"):
            incremental_semantic_dedup_from_state(
                st2.union(st2), batch, threshold=0.95
            ).collect()


class TestCurationFromState:
    """The curation plane's persisted-state probes (c08/st14):
    sentence boilerplate keys and duplicated grams published from a
    standing corpus, applied to incoming batches — corpus-driven
    removals only, intra-batch repetition out of contract (the
    incremental_dedup split-invariance rule)."""

    def test_sentence_dedup_from_state(self, spark):
        from nycdb_k8s_loader_spark.operators.textops import (
            sentence_dedup_from_state,
            sentence_dedup_state,
        )

        corpus = spark.createDataFrame(
            [
                (1, "all rights reserved here. unique alpha text one"),
                (2, "all rights reserved here. unique beta text two"),
            ],
            "doc_id long, text string",
        )
        state = sentence_dedup_state(corpus, min_docs=2, min_words=3)
        assert [r["k"] for r in state.collect()] == [
            "all rights reserved here"
        ]
        batch = spark.createDataFrame(
            [
                (10, "fresh words. all rights reserved here. tail bit"),
                # batch-internal dup ('batch only banner') in 11+12:
                # NOT in the corpus state -> kept
                (11, "batch only banner. some content eleven"),
                (12, "batch only banner. some content twelve"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in sentence_dedup_from_state(state, batch).collect()
        }
        assert out[10]["n_removed"] == 1
        assert out[10]["cleaned_text"] == "fresh words. tail bit"
        assert out[11]["n_removed"] == 0 and out[12]["n_removed"] == 0

    def test_scrub_from_state(self, spark):
        from nycdb_k8s_loader_spark.operators.dedup import (
            duplicated_gram_state,
            exact_substring_scrub,
            exact_substring_scrub_from_state,
        )

        lic = "licensed under the apache license"
        corpus = spark.createDataFrame(
            [(1, f"alpha one {lic} aa bb"),
             (2, f"beta cc {lic} dd ee")],
            "doc_id long, text string",
        )
        state = duplicated_gram_state(corpus, ngram=5, hashed_grams=False)
        assert {r["gram"] for r in state.collect()} == {lic}
        batch = spark.createDataFrame(
            [
                (10, f"start {lic} end"),
                # batch-internal dup gram in 11+12: kept (not in state)
                (11, "shared five token run here once"),
                (12, "shared five token run here twice"),
                (13, "wholly unique little document"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in exact_substring_scrub_from_state(
                state, batch, ngram=5
            ).collect()
        }
        assert out[10]["dup_tokens"] == 5
        assert out[10]["cleaned_text"] == "start end"
        assert out[11]["dup_tokens"] == 0 and out[12]["dup_tokens"] == 0
        assert out[13]["dup_tokens"] == 0
        # hashed state stores EXACT strings (collision discipline)
        from nycdb_k8s_loader_spark.operators.dedup import (
            duplicated_gram_state as dgs,
        )
        hs = dgs(corpus, ngram=5, hashed_grams=True)
        assert {r["gram"] for r in hs.collect()} == {lic}
        # inline scrub on the same batch WOULD also kill the
        # batch-internal dup — pin the contract difference
        inline = {
            r["doc_id"]: r["dup_tokens"]
            for r in exact_substring_scrub(
                batch, ngram=5, hashed_grams=False
            ).collect()
        }
        assert inline[11] == 5 and inline[12] == 5


class TestIncrementalCuration:
    """c08/st14: the whole curation funnel as a from-state probe —
    batch == stream (mode-independence) and string == hashed key
    forms (the production-key twin rule)."""

    def test_stream_equals_batch(self, spark):
        from nycdb_k8s_loader_spark.plans.catalog import queries

        qs = queries()
        sf = "/root/testdata/sf0.001"
        batch = sorted(map(tuple, qs["c08_incremental_curation"](
            spark, sf
        ).collect()))
        streamed = sorted(map(tuple, qs["st14_streaming_curation"](
            spark, sf
        ).collect()))
        assert batch == streamed
        # rerun replays nothing and returns the same published rows
        again = sorted(map(tuple, qs["st14_streaming_curation"](
            spark, sf
        ).collect()))
        assert again == streamed

    def test_hashed_key_form_is_verdict_identical(self, spark):
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.sampling import (
            sample_bucket,
        )
        from nycdb_k8s_loader_spark.plans.curation_queries import (
            _c08_states,
            _incremental_curation,
        )

        sf = "/root/testdata/sf0.001"
        batch = (
            spark.read.parquet(f"{sf}/documents.parquet")
            .filter(sample_bucket(F.col("doc_id")) >= 500_000)
        )
        a = sorted(map(tuple, _incremental_curation(
            spark, batch, _c08_states(spark, sf, hashed=False),
            hashed=False,
        ).collect()))
        b = sorted(map(tuple, _incremental_curation(
            spark, batch, _c08_states(spark, sf, hashed=True),
            hashed=True,
        ).collect()))
        assert a == b

    def test_mixture_keep_rate_matches_rate_ppm(self, spark):
        """The r9-impossible pin: among batch docs that REACH the
        mixture stage, each source's realized keep rate must sit
        within binomial tolerance of its frozen rate_ppm.  Before the
        salt fix the split (bucket >= 500k) and the mixture keep
        (bucket < rate_ppm) shared one hash channel, so every source
        with rate_ppm < 500000 — 15 of 20 in this fixture — kept
        exactly ZERO batch docs (VERDICT r9 #1)."""
        import math

        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.plans.catalog import queries
        from nycdb_k8s_loader_spark.plans.curation_queries import (
            _c08_states,
        )

        sf = "/root/testdata/sf0.01"
        out = queries()["c08_incremental_curation"](spark, sf)
        docs = spark.read.parquet(f"{sf}/documents.parquet").select(
            "doc_id", "source"
        )
        per = (
            out.filter(F.col("stage").isin("mixture", "kept"))
            .join(docs, "doc_id")
            .groupBy("source")
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    (F.col("stage") == "kept").cast("long")
                ).alias("kept"),
            )
            .collect()
        )
        rates = {
            r["source"]: r["rate_ppm"] / 1e6
            for r in _c08_states(spark, sf)["rates"].collect()
        }
        assert per, "no docs reached the mixture stage"
        low_n = low_kept = 0.0
        pool_dev2 = pool_var = 0.0
        for row in per:
            p = rates[row["source"]]
            n, kept = row["n"], row["kept"]
            # 4-sigma + 1 per source (small n), pooled 4-sigma below
            tol = 4 * math.sqrt(max(n * p * (1 - p), 0.0)) + 1
            assert abs(kept - n * p) <= tol, (
                row["source"], n, kept, p
            )
            pool_dev2 += kept - n * p
            pool_var += n * p * (1 - p)
            if p < 0.5:
                low_n += n
                low_kept += kept
        # sources whose rate is below the split threshold kept 0
        # batch docs before the fix — this line cannot pass unsalted
        assert low_n > 0 and low_kept > 0
        assert abs(pool_dev2) <= 4 * math.sqrt(pool_var) + 1

    def test_salted_channels_are_independent(self, spark):
        """Property pin for the defect class itself: conditioned on
        the DEFAULT-channel split (bucket >= 500k), a salted channel's
        threshold decisions still realize their nominal fractions —
        and the unsalted channel provably does not (the regression
        guard is exact: unsalted keep-below-450k among splits
        survivors is ZERO)."""
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.sampling import (
            sample_bucket,
        )

        keys = spark.range(0, 100_000).withColumnRenamed("id", "k")
        surv = keys.filter(sample_bucket(F.col("k")) >= 500_000)
        n = surv.count()
        for thresh in (158_000, 445_000, 865_000):
            got = surv.filter(
                sample_bucket(F.col("k"), salt=1) < thresh
            ).count()
            assert abs(got / n - thresh / 1e6) < 0.01, (thresh, got, n)
        # the unsalted composition is deterministically empty below
        # the split threshold — the bug this whole fix removes
        assert (
            surv.filter(sample_bucket(F.col("k")) < 450_000).count()
            == 0
        )
        # distinct salts are themselves mutually decorrelated
        s1 = surv.filter(sample_bucket(F.col("k"), salt=1) < 300_000)
        n1 = s1.count()
        got12 = s1.filter(
            sample_bucket(F.col("k"), salt=2) < 300_000
        ).count()
        assert abs(got12 / n1 - 0.3) < 0.02

    def test_order_selection_composes_with_thresholds(self, spark):
        """The r10 VERDICT 'What's wrong #1' pin, extended to ORDER
        consumers: stratified_sample's exact-k set under salt 0 is by
        construction the globally-smallest-bucket rows, so a later
        salt-0 threshold decision on the sample keeps ALL of it (rate
        1.0 where 0.5 was nominal) — while a salt-carved sample
        realizes the nominal rate.  Also pins that a salted order
        selection is unbiased downstream of a salt-0 threshold split
        (the eval-set-from-survivors composition)."""
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.sampling import (
            sample_bucket,
            stratified_sample,
        )

        df = spark.range(0, 100_000).select(
            F.lit(1).alias("g"), F.col("id").alias("k")
        )
        # same-channel composition: selection order == threshold
        # metric, so the k smallest buckets ALL clear any mid-range
        # threshold — realized rate exactly 1.0, not 0.5
        sel0 = stratified_sample(df, ["g"], 2_000, "k")  # salt 0
        kept0 = sel0.filter(
            sample_bucket(F.col("k")) < 500_000
        ).count()
        assert kept0 == 2_000
        # distinct-salt composition: the salted selection realizes
        # the nominal 50% under the salt-0 threshold
        sel3 = stratified_sample(df, ["g"], 2_000, "k", salt=3)
        kept3 = sel3.filter(
            sample_bucket(F.col("k")) < 500_000
        ).count()
        assert abs(kept3 / 2_000 - 0.5) < 0.05, kept3
        # and downstream of a salt-0 split, a salted order selection
        # still picks ~uniformly among survivors (not the smallest-
        # bucket tail): its own salt-1 keep realizes nominal too
        surv = df.filter(sample_bucket(F.col("k")) >= 500_000)
        sel_s = stratified_sample(surv, ["g"], 2_000, "k", salt=3)
        kept_s = sel_s.filter(
            sample_bucket(F.col("k"), salt=1) < 300_000
        ).count()
        assert abs(kept_s / 2_000 - 0.3) < 0.05, kept_s

    def test_c09_takedown_compact_equals_rebuild(self, spark):
        """The whole-funnel compact==rebuild contract: probing the
        batch through c09's FOUR compacted states yields exactly the
        funnel output of states built from scratch on the retained
        corpus — per-state unit pins compose into the e2e takedown.
        Also pins that the re-frozen rates actually moved: frozen
        rates built pre-takedown are stale by construction (retired
        tokens inflate every denominator), which is why the rate
        state keeps the decrementable (source, t_s) form."""
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.sampling import (
            sample_bucket,
        )
        from nycdb_k8s_loader_spark.plans.curation_queries import (
            _C09_TAKEDOWN_PPM,
            _C09_TAKEDOWN_SALT,
            _c08_states,
            _c09_compacted_states,
            _docs,
            _incremental_curation,
        )

        sf = "/root/testdata/sf0.001"
        docs = _docs(spark, sf)
        takedown = (
            sample_bucket(F.col("doc_id"), salt=_C09_TAKEDOWN_SALT)
            < _C09_TAKEDOWN_PPM
        )
        retained = docs.filter(
            sample_bucket(F.col("doc_id")) < 500_000
        ).filter(~takedown)
        rebuilt = _c08_states(spark, sf, corpus=retained)
        compacted = _c09_compacted_states(spark, sf)

        # per-state equality on the probe-visible columns
        def keyset(df, col):
            return sorted(str(r[col]) for r in df.select(col).collect())

        assert keyset(compacted["st3"], "k") == keyset(
            rebuilt["st3"], "k"
        )
        assert keyset(compacted["st4"], "gram") == keyset(
            rebuilt["st4"], "gram"
        )
        assert sorted(
            map(str, compacted["st5"].collect())
        ) == sorted(map(str, rebuilt["st5"].collect()))
        assert sorted(
            map(tuple, compacted["rates"].collect())
        ) == sorted(map(tuple, rebuilt["rates"].collect()))

        # stale-rates pin: the pre-takedown freeze differs (so
        # re-freezing is semantics, not a no-op)
        pre = {
            r["source"]: r["rate_ppm"]
            for r in _c08_states(spark, sf)["rates"].collect()
        }
        post = {
            r["source"]: r["rate_ppm"]
            for r in compacted["rates"].collect()
        }
        assert any(pre[s] != post[s] for s in post), (pre, post)

        # e2e funnel equality
        batch = docs.filter(sample_bucket(F.col("doc_id")) >= 500_000)
        a = sorted(map(tuple, _incremental_curation(
            spark, batch, compacted
        ).collect()))
        b = sorted(map(tuple, _incremental_curation(
            spark, batch, rebuilt
        ).collect()))
        assert a == b


class TestProductQuantization:
    """s12's machinery: PQ codebooks + ADC scoring. The recall floor
    is the s10-style measure-don't-guess gate a PQ rollout needs."""

    def test_recall_floor_vs_bruteforce(self, spark):
        from nycdb_k8s_loader_spark.operators.similarity import (
            cosine_topk,
            pq_topk,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.01/embeddings.parquet"
        )
        qids = list(range(10))
        truth = {
            (r["query_id"], r["neighbor_id"])
            for r in cosine_topk(emb, query_ids=qids, k=10).collect()
        }
        from nycdb_k8s_loader_spark.operators.similarity import (
            pq_rerank_topk,
        )

        pq = {
            (r["query_id"], r["neighbor_id"])
            for r in pq_topk(emb, query_ids=qids, k=10).collect()
        }
        raw = len(truth & pq) / len(truth)
        # raw ADC at 8 bytes/vector is lossy by design (the published
        # PQ trade); measured 0.34 here — well above chance
        # (10/499 ~ 0.02). The deployment path is rerank.
        assert raw >= 0.25, raw
        rr = {
            (r["query_id"], r["neighbor_id"])
            for r in pq_rerank_topk(
                emb, qids, k=10, rerank_from=100
            ).collect()
        }
        reranked = len(truth & rr) / len(truth)
        # measured 0.85 at rerank_from=100 (0.71 at 50) — the recall
        # dial works; pin with margin
        assert reranked >= 0.7, reranked
        assert reranked > raw

    def test_persisted_codebooks_reused(self, spark, tmp_path):
        """The production path: train once, persist the (m, cid, c)
        codebook table, reuse for every query batch — results equal
        the train-inline form."""
        from nycdb_k8s_loader_spark.operators.similarity import (
            pq_topk,
            pq_train_codebooks,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        path = str(tmp_path / "pq_codebooks")
        pq_train_codebooks(emb, m=8, codebook=16).write.parquet(path)
        cb = spark.read.parquet(path)
        inline = sorted(map(tuple, pq_topk(
            emb, query_ids=[0, 1, 2], k=5
        ).collect()))
        reused = sorted(map(tuple, pq_topk(
            emb, query_ids=[0, 1, 2], k=5, codebooks=cb
        ).collect()))
        assert inline == reused

    def test_ivfpq_prunes_and_keeps_recall(self, spark):
        """s14's two contracts: (1) the ADC sum runs over the probed
        cells' members only — candidate rows ≪ corpus (the round-9
        gap: s12 scanned every code row per query batch); (2) recall
        vs s01 brute-force truth stays useful at nprobe=2 and
        recovers the cell-pruned share of s12's raw ADC recall."""
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.similarity import (
            cosine_topk,
            ivf_pq_topk,
            pq_topk,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.01/embeddings.parquet"
        )
        qids = list(range(10))
        n_corpus = emb.count()
        n_cells = emb.select("label").distinct().count()
        # candidate bound PER QUERY: nprobe * max cell size — the
        # pruning contract (s12 scored n_corpus rows per query; s14
        # scores at most the probed cells' members), measured exactly
        # since cells are fixture labels
        max_cell = (
            emb.groupBy("label").count().agg(F.max("count")).first()[0]
        )
        assert 2 * max_cell < n_corpus / 2, (
            "fixture too small for the pruning claim to mean anything"
        )

        truth = {
            (r["query_id"], r["neighbor_id"])
            for r in cosine_topk(emb, query_ids=qids, k=10).collect()
        }
        ivfpq = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_pq_topk(
                emb, query_ids=qids, k=10, nprobe=2
            ).collect()
        }
        raw_full = {
            (r["query_id"], r["neighbor_id"])
            for r in pq_topk(emb, query_ids=qids, k=10).collect()
        }
        rec_ivfpq = len(truth & ivfpq) / len(truth)
        rec_full = len(truth & raw_full) / len(truth)
        # measured: full-scan ADC 0.34, IVFADC@nprobe=2 keeps most of
        # it (cell pruning only loses true neighbors outside the
        # probed cells) — pin well above chance and within 2× of full
        assert rec_ivfpq >= 0.15, (rec_ivfpq, rec_full)
        assert rec_ivfpq >= rec_full * 0.5, (rec_ivfpq, rec_full)
        # results are a subset of what full-scan ADC could return
        # only when the neighbor's cell was probed — sanity: every
        # IVFADC neighbor shares a probed cell with its query
        assert len(ivfpq) == len(qids) * 10

    def test_ivfpq_from_state_plan_shape(self, spark, tmp_path):
        """Physical-plan pins for the deployment path: the candidate
        code join is the ONE shuffled hash join (corpus-keyed sides,
        never a derived-size broadcast of the code stream); every
        raw-embedding scan is either the query rows (In-pushdown on
        vec_id) or the 2-column cell-membership projection — raw
        vectors never stream corpus-wide."""
        import re

        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.similarity import (
            _pq_assign,
            _pq_sub_frame,
            ivf_pq_topk,
            label_centroids,
            pq_train_codebooks,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        cb = pq_train_codebooks(emb, m=8, codebook=16)
        cb.write.parquet(str(tmp_path / "cb"))
        cb = spark.read.parquet(str(tmp_path / "cb"))
        _pq_assign(
            _pq_sub_frame(emb, 8, 8, "vec_id", "embedding"), cb
        ).withColumnRenamed("cid", "code").write.parquet(
            str(tmp_path / "codes")
        )
        (
            label_centroids(emb)
            .groupBy("label")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "avg_val"))
                    ),
                    lambda s: s["avg_val"],
                ).alias("cv")
            )
            .write.parquet(str(tmp_path / "cents"))
        )
        plan = (
            ivf_pq_topk(
                emb, [0, 1, 2], k=5, nprobe=2,
                codebooks=cb,
                codes=spark.read.parquet(str(tmp_path / "codes")),
                centroids=spark.read.parquet(str(tmp_path / "cents")),
            )
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("ShuffledHashJoin") == 1
        emb_scans = [
            m.group(0)
            for m in re.finditer(r"FileScan parquet[^\n]*", plan)
            if "embeddings" in m.group(0)
        ]
        assert emb_scans
        for s in emb_scans:
            pushed_query_rows = "In(vec_id, [0,1,2" in s
            schema = re.search(r"ReadSchema: [^\n]*", s)
            membership_only = (
                schema is not None
                and "embedding" not in schema.group(0)
            )
            assert pushed_query_rows or membership_only, s

    def test_ivfpq_from_published_artifacts(self, spark, tmp_path):
        """The production path: codebooks, the 8-byte code stream,
        and the centroid table persist with the corpus refresh; a
        query batch injects all three and never re-trains, re-encodes
        or re-averages — results equal the build-inline form."""
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.similarity import (
            _pq_assign,
            _pq_sub_frame,
            ivf_pq_topk,
            label_centroids,
            pq_train_codebooks,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        cb = pq_train_codebooks(emb, m=8, codebook=16)
        cb.write.parquet(str(tmp_path / "cb"))
        cb = spark.read.parquet(str(tmp_path / "cb"))
        _pq_assign(
            _pq_sub_frame(emb, 8, 8, "vec_id", "embedding"), cb
        ).withColumnRenamed("cid", "code").write.parquet(
            str(tmp_path / "codes")
        )
        (
            label_centroids(emb)
            .groupBy("label")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "avg_val"))
                    ),
                    lambda s: s["avg_val"],
                ).alias("cv")
            )
            .write.parquet(str(tmp_path / "cents"))
        )
        qids = [0, 1, 2]
        inline = sorted(map(tuple, ivf_pq_topk(
            emb, qids, k=5, nprobe=2
        ).collect()))
        injected = sorted(map(tuple, ivf_pq_topk(
            emb, qids, k=5, nprobe=2,
            codebooks=cb,
            codes=spark.read.parquet(str(tmp_path / "codes")),
            centroids=spark.read.parquet(str(tmp_path / "cents")),
        ).collect()))
        assert inline == injected


class TestStateLifecycle:
    """Compaction/retirement for the persisted-state family — the
    compact(build(corpus), retired) == build(corpus \\ retired) pins
    (exact where states are per-row independent; documented weaker
    contracts where not)."""

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_signature_state_compact_equals_rebuild(self, spark):
        from nycdb_k8s_loader_spark.operators.dedup import (
            dedup_signature_state,
            incremental_dedup_from_state,
        )
        from nycdb_k8s_loader_spark.operators.state_lifecycle import (
            dedup_signature_state_compact,
        )

        corpus = self._docs(spark, [
            (i, f"alpha beta gamma delta {i} common tail words here")
            for i in range(10)
        ] + [(10, "alpha beta gamma delta 3 common tail words here")])
        retired = self._docs(spark, [
            (3, "alpha beta gamma delta 3 common tail words here"),
            (7, "alpha beta gamma delta 7 common tail words here"),
        ]).select("doc_id")
        kw = dict(num_hashes=8, bands=4, shingles=3)
        full = dedup_signature_state(corpus, **kw)
        compacted = dedup_signature_state_compact(full, retired)
        rebuilt = dedup_signature_state(
            corpus.join(retired, "doc_id", "left_anti"), **kw
        )
        key = lambda df: sorted(  # noqa: E731
            str(tuple(r)) for r in df.collect()
        )
        assert key(compacted) == key(rebuilt)
        # probe equivalence: doc 10 duplicates RETIRED doc 3's shape
        # only via exact text of doc 3 — against the compacted state
        # the verdicts equal probing the rebuilt state
        batch = self._docs(spark, [
            (100, "alpha beta gamma delta 3 common tail words here"),
            (101, "totally unrelated fresh content nothing shared xx"),
        ])
        va = sorted(map(tuple, incremental_dedup_from_state(
            compacted, batch, num_hashes=8, bands=4, shingles=3
        ).collect()))
        vb = sorted(map(tuple, incremental_dedup_from_state(
            rebuilt, batch, num_hashes=8, bands=4, shingles=3
        ).collect()))
        assert va == vb

    def test_sentence_state_compact_equals_rebuild(self, spark):
        from nycdb_k8s_loader_spark.operators.state_lifecycle import (
            sentence_dedup_state_compact,
        )
        from nycdb_k8s_loader_spark.operators.textops import (
            sentence_dedup_state,
        )

        # boiler A in docs {1,2,3}; boiler B in docs {2,3} — retiring
        # doc 3 keeps A (nd 2) and drops B (nd 1)
        rows = [
            (1, "unique one stuff here. boiler plate sentence aaa"),
            (2, "boiler plate sentence aaa. boiler plate line bbb"),
            (3, "boiler plate sentence aaa. boiler plate line bbb. "
                "more unique content three"),
            (4, "nothing shared at all in this document four"),
        ]
        corpus = self._docs(spark, rows)
        retired = self._docs(spark, [rows[2]])
        for hashed in (False, True):
            full = sentence_dedup_state(
                corpus, hashed_keys=hashed, with_counts=True
            )
            compacted = sentence_dedup_state_compact(
                full, retired, hashed_keys=hashed
            )
            rebuilt = sentence_dedup_state(
                corpus.filter("doc_id <> 3"),
                hashed_keys=hashed,
                with_counts=True,
            )
            assert sorted(map(tuple, compacted.collect())) == sorted(
                map(tuple, rebuilt.collect())
            ), hashed

    def test_gram_state_compact_equals_rebuild(self, spark):
        from nycdb_k8s_loader_spark.operators.dedup import (
            duplicated_gram_state,
        )
        from nycdb_k8s_loader_spark.operators.state_lifecycle import (
            duplicated_gram_state_compact,
        )

        lic = "licensed under the apache license version two"
        rows = [
            (1, f"doc one begins {lic} and ends here"),
            (2, f"doc two other text {lic} trailing words"),
            (3, f"third doc again {lic} closing remark"),
            (4, "completely different content with no shared spans"),
        ]
        corpus = self._docs(spark, rows)
        retired = self._docs(spark, rows[1:3])  # retire docs 2 and 3
        for hashed in (False, True):
            full = duplicated_gram_state(
                corpus, ngram=5, hashed_grams=hashed, with_counts=True
            )
            compacted = duplicated_gram_state_compact(
                full, retired, ngram=5
            )
            rebuilt = duplicated_gram_state(
                corpus.filter("doc_id = 1 or doc_id = 4"),
                ngram=5,
                hashed_grams=hashed,
                with_counts=True,
            )
            assert sorted(map(tuple, compacted.collect())) == sorted(
                map(tuple, rebuilt.collect())
            ), hashed

    def test_countless_states_raise(self, spark):
        import pytest as _pytest

        from nycdb_k8s_loader_spark.operators.dedup import (
            duplicated_gram_state,
        )
        from nycdb_k8s_loader_spark.operators.state_lifecycle import (
            duplicated_gram_state_compact,
            sentence_dedup_state_compact,
        )
        from nycdb_k8s_loader_spark.operators.textops import (
            sentence_dedup_state,
        )

        corpus = self._docs(spark, [
            (1, "shared boiler sentence one. some unique text"),
            (2, "shared boiler sentence one. other unique text"),
        ])
        with _pytest.raises(ValueError, match="with_counts"):
            sentence_dedup_state_compact(
                sentence_dedup_state(corpus), corpus.limit(1)
            )
        with _pytest.raises(ValueError, match="with_counts"):
            duplicated_gram_state_compact(
                duplicated_gram_state(corpus, ngram=3), corpus.limit(1)
            )

    def test_semantic_compact_flips_retired_only_dups(self, spark):
        from nycdb_k8s_loader_spark.operators.similarity import (
            incremental_semantic_dedup_from_state,
            semantic_dedup_state,
        )
        from nycdb_k8s_loader_spark.operators.state_lifecycle import (
            semantic_dedup_state_compact,
        )

        def vec(x, y):
            return [float(x), float(y), 0.0, 0.0]

        corpus = spark.createDataFrame(
            [
                (0, vec(1, 0)), (1, vec(0.999, 0.02)),
                (2, vec(0, 1)), (3, vec(0.02, 0.999)),
            ],
            "vec_id long, embedding array<double>",
        )
        state = semantic_dedup_state(corpus, k=2)
        retired = spark.createDataFrame([(2,), (3,)], "vec_id long")
        compacted = semantic_dedup_state_compact(state, retired)
        # centroid + meta rows untouched (the frozen quantizer)
        for kind in ("centroid", "meta"):
            assert sorted(
                map(str, state.filter(f"kind = '{kind}'").collect())
            ) == sorted(
                map(str, compacted.filter(f"kind = '{kind}'").collect())
            )
        batch = spark.createDataFrame(
            [(100, vec(0.01, 1.0)), (101, vec(1.0, 0.01))],
            "vec_id long, embedding array<double>",
        )
        before = {
            r["vec_id"]: r["is_kept"]
            for r in incremental_semantic_dedup_from_state(
                state, batch, threshold=0.95
            ).collect()
        }
        after = {
            r["vec_id"]: r["is_kept"]
            for r in incremental_semantic_dedup_from_state(
                compacted, batch, threshold=0.95
            ).collect()
        }
        # 100's only near-dups (2,3) retired -> flips dup->keep;
        # 101's near-dups (0,1) retained -> stays dup
        assert before == {100: False, 101: False}
        assert after == {100: True, 101: False}

    def test_components_compact_exact_and_boundary(self, spark):
        from nycdb_k8s_loader_spark.operators.graph import (
            components_state,
            incremental_components_from_state,
        )
        from nycdb_k8s_loader_spark.operators.state_lifecycle import (
            components_state_compact,
        )

        cc = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
        # comp {1,2,3} rooted at 1; comp {10,11}; isolated 20
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 20)], "src long, dst long"
        )
        state = components_state(edges)
        # EXACT case: retire root 1 — {2,3} stay connected via (2,3),
        # relabel to min retained member 2
        retired = spark.createDataFrame([(1,)], "node long")
        compacted = components_state_compact(state, retired)
        rebuilt = components_state(
            spark.createDataFrame(
                [(2, 3), (10, 11), (20, 20)], "src long, dst long"
            )
        )
        assert cc(compacted) == cc(rebuilt)
        # compacted state still composes with the incremental fold
        inc = incremental_components_from_state(
            compacted,
            spark.createDataFrame([(3, 10)], "src long, dst long"),
        )
        merged = dict(cc(inc))
        assert merged[2] == merged[3] == merged[10] == merged[11] == 2
        # BOUNDARY case: retiring BRIDGE node 2 from {1,2,3} keeps
        # {1,3} grouped (no edges in the state to see the split) —
        # the documented conservative over-grouping
        bridge_retired = spark.createDataFrame([(2,)], "node long")
        over = dict(cc(components_state_compact(state, bridge_retired)))
        assert over[1] == over[3] == 1  # rebuild would split them


class TestIncrementalComponents:
    """g04's machinery: persisted CC state + batch-edge probe equals
    the full recompute — min-id labels compose across super-nodes."""

    def _cc(self, df):
        return sorted(map(tuple, df.collect()))

    def test_state_probe_equals_recompute(self, spark, tmp_path):
        from nycdb_k8s_loader_spark.operators.graph import (
            components_state,
            connected_components_star,
            incremental_components_from_state,
        )

        # old graph: {1,2,3} (root 1), {10,11} (root 10), isolated 20
        old = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 20)], "src long, dst long"
        )
        # batch: merges the two comps via a chain through NEW node 5,
        # introduces a smaller-than-root id 0 into {10,11}, a fresh
        # pair {30,31}, and an edge internal to an old comp (no-op)
        batch = spark.createDataFrame(
            [(3, 5), (5, 10), (0, 11), (30, 31), (1, 3)],
            "src long, dst long",
        )
        path = str(tmp_path / "ccstate")
        components_state(old).write.parquet(path)
        state = spark.read.parquet(path)
        got = self._cc(
            incremental_components_from_state(state, batch)
        )
        want = self._cc(
            connected_components_star(
                old.unionByName(batch), src="src", dst="dst"
            )
        )
        assert got == want
        comp = dict(got)
        # chain-merge + smaller new id: everything roots at 0
        assert comp[1] == comp[3] == comp[5] == comp[10] == comp[0] == 0
        assert comp[20] == 20          # untouched isolated node kept
        assert comp[30] == comp[31] == 30  # fresh batch-only comp

    def test_empty_batch_and_no_merges(self, spark):
        from nycdb_k8s_loader_spark.operators.graph import (
            components_state,
            incremental_components_from_state,
        )

        old = spark.createDataFrame([(1, 2)], "src long, dst long")
        state = components_state(old)
        # batch whose edges are all internal: state returned unchanged
        internal = spark.createDataFrame([(2, 1)], "src long, dst long")
        got = self._cc(incremental_components_from_state(state, internal))
        assert got == [(1, 1), (2, 1)]


class TestMultipolygonGeometry:
    """geo08/09/10's machinery: holed MULTIPOLYGON parse, containment,
    area, intersection, and the relational clip-area decomposition.
    Hand-computed geometry; catalog entries carry the donut-bounds
    oracles."""

    DONUT = (
        "MULTIPOLYGON (((0 0, 8 0, 8 8, 0 8, 0 0), "
        "(3 3, 5 3, 5 5, 3 5, 3 3)), "
        "((9 0, 10 0, 10 1, 9 1, 9 0)))"
    )

    def test_parse_contains_area(self, spark):
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.geo import (
            multipolygon_area,
            multipolygon_contains,
            parse_wkt_geometry,
        )

        holed = (
            "POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), "
            "(3 3, 5 3, 5 5, 3 5, 3 3))"
        )
        plain = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
        df = spark.createDataFrame(
            [(1, self.DONUT), (2, holed), (3, plain)], "gid long, w string"
        )
        g = parse_wkt_geometry("w")
        out = {
            r["gid"]: r
            for r in df.select(
                "gid",
                F.size(g).alias("n_polys"),
                F.round(multipolygon_area(g), 6).alias("area"),
                multipolygon_contains(
                    F.lit(4.0), F.lit(4.0), g
                ).alias("at_hole_center"),
                multipolygon_contains(
                    F.lit(1.0), F.lit(1.0), g
                ).alias("in_outer"),
                multipolygon_contains(
                    F.lit(9.5), F.lit(0.5), g
                ).alias("in_exclave"),
            ).collect()
        }
        assert out[1]["n_polys"] == 2 and out[1]["area"] == 61.0
        assert out[1]["at_hole_center"] is False
        assert out[1]["in_outer"] is True
        assert out[1]["in_exclave"] is True
        assert out[2]["n_polys"] == 1 and out[2]["area"] == 60.0
        assert out[2]["at_hole_center"] is False
        assert out[3]["n_polys"] == 1 and out[3]["area"] == 16.0
        # plain single-ring POLYGON parses into the same shape: one
        # polygon, one ring — geo04-era WKT keeps working
        assert out[3]["at_hole_center"] is False  # (4,4) on edge-free pt

    def test_intersection_hole_semantics(self, spark):
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.geo import (
            multipolygons_intersect,
            parse_wkt_geometry,
        )

        cases = [
            # fully inside the hole: NOT an intersection
            (1, "POLYGON ((3.5 3.5, 4.5 3.5, 4.5 4.5, 3.5 4.5, 3.5 3.5))",
             False),
            # straddles the hole boundary: intersects
            (2, "POLYGON ((2.5 2.5, 4.5 2.5, 4.5 4.5, 2.5 4.5, 2.5 2.5))",
             True),
            # overlaps the exclave only
            (3, "POLYGON ((9.25 0.25, 9.75 0.25, 9.75 0.75, 9.25 0.75, "
                "9.25 0.25))", True),
            # far away
            (4, "POLYGON ((20 20, 21 20, 21 21, 20 21, 20 20))", False),
            # donut wholly inside a big ring (containment branch)
            (5, "POLYGON ((-1 -1, 11 -1, 11 11, -1 11, -1 -1))", True),
            # square strictly containing ONLY the exclave — the
            # non-FIRST component of the donut side, no edge
            # crossings: the r9 single-representative-vertex fallback
            # returned False here (ADVICE r9); per-component exists
            # must say True
            (6, "POLYGON ((8.5 -0.5, 10.5 -0.5, 10.5 1.5, 8.5 1.5, "
                "8.5 -0.5))", True),
        ]
        df = spark.createDataFrame(
            [(i, w) for i, w, _ in cases], "cid long, w string"
        ).withColumn("donut", F.lit(self.DONUT))
        got = {
            r["cid"]: r["v"]
            for r in df.select(
                "cid",
                multipolygons_intersect(
                    parse_wkt_geometry("donut"), parse_wkt_geometry("w")
                ).alias("v"),
            ).collect()
        }
        for cid, _, want in cases:
            assert got[cid] == want, cid

    def test_clip_area_join_inclusion_exclusion(self, spark):
        from nycdb_k8s_loader_spark.operators.geo import (
            multipolygon_clip_area_join,
        )

        clips = spark.createDataFrame(
            [("D1", self.DONUT)], "cid string, clip_wkt string"
        )
        subs = spark.createDataFrame(
            [
                (1, "POLYGON ((3.5 3.5, 4.5 3.5, 4.5 4.5, 3.5 4.5, "
                    "3.5 3.5))"),               # in hole -> 0, filtered
                (2, "POLYGON ((2.5 2.5, 4.5 2.5, 4.5 4.5, 2.5 4.5, "
                    "2.5 2.5))"),               # 4 - 2.25 = 1.75
                (3, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"),  # 16 - 1 = 15
                (4, "POLYGON ((8.5 0.25, 9.5 0.25, 9.5 0.75, 8.5 0.75, "
                    "8.5 0.25))"),              # exclave 0.5x0.5 = 0.25
            ],
            "pid long, geom_wkt string",
        )
        got = {
            r["pid"]: r["clip_area"]
            for r in multipolygon_clip_area_join(subs, clips).collect()
        }
        assert got == {2: 1.75, 3: 15.0, 4: 0.25}

    def test_concave_clip_area_hand_computed(self, spark):
        """concave_clip_area_join on cases NO convex-clip operator
        can do: U∩rect straddling the cavity, L∩L, donut∩rect, and a
        CW-wound subject — all hand-computed. The signed origin-fan
        decomposition must reproduce each exactly (terms are dyadic
        rationals; int64 1e-8 quantization is exact here)."""
        from nycdb_k8s_loader_spark.operators.geo import (
            concave_clip_area_join,
        )

        # U-shape: 6x3 block minus the inner cavity [2,4]x[1,3]
        u_wkt = ("POLYGON ((0 0, 6 0, 6 3, 4 3, 4 1, 2 1, 2 3, 0 3, "
                 "0 0))")
        # L-shape: 4x4 minus top-right 2x2
        l_wkt = "POLYGON ((0 0, 4 0, 4 2, 2 2, 2 4, 0 4, 0 0))"
        # CW copy of the L (reversed winding) — must clip identically
        l_cw = "POLYGON ((0 0, 0 4, 2 4, 2 2, 4 2, 4 0, 0 0))"
        donut = ("MULTIPOLYGON (((0 0, 8 0, 8 8, 0 8, 0 0), "
                 "(3 3, 5 3, 5 5, 3 5, 3 3)))")
        subs = spark.createDataFrame(
            [
                # rect [1,5]x[0.5,2.5] over the U: covers part of the
                # left arm, base, right arm; cavity [2,4]x[1,3] cuts
                # [2,4]x[1,2.5]=3.0 from the 4x2=8 rect∩block overlap
                (1, "POLYGON ((1 0.5, 5 0.5, 5 2.5, 1 2.5, 1 0.5))"),
                # rect wholly inside the U's cavity: zero (filtered)
                (2, "POLYGON ((2.5 1.5, 3.5 1.5, 3.5 2.5, 2.5 2.5, "
                    "2.5 1.5))"),
                (3, None),
                (4, None),
                (5, None),
            ],
            "pid long, geom_wkt string",
        ).filter("geom_wkt is not null")
        clips = spark.createDataFrame(
            [("U", u_wkt)], "cid string, clip_wkt string"
        )
        got = {
            (r["pid"], r["cid"]): r["clip_area"]
            for r in concave_clip_area_join(subs, clips).collect()
        }
        assert got == {(1, "U"): 5.0}

        # L ∩ L (offset by (1,1)): hand inclusion-exclusion
        # A = [0,4]^2 minus [2,4]x[2,4]; B = A + (1,1)
        # RA∩RB = [1,4]x[1,4] = 9; RA∩NB([3,5]x[3,5]) = 1;
        # NA([2,4]^2)∩RB = 4; NA∩NB = 1  -> 9 - 1 - 4 + 1 = 5
        l_pair_a = spark.createDataFrame(
            [(1, l_wkt), (2, l_cw)], "pid long, geom_wkt string"
        )
        l_b = ("POLYGON ((1 1, 5 1, 5 3, 3 3, 3 5, 1 5, 1 1))")
        l_pair_b = spark.createDataFrame(
            [("L", l_b)], "cid string, clip_wkt string"
        )
        got = {
            r["pid"]: r["clip_area"]
            for r in concave_clip_area_join(
                l_pair_a, l_pair_b
            ).collect()
        }
        # CW-wound subject must clip identically to the CCW one
        assert got == {1: 5.0, 2: 5.0}

        # donut ∩ rect straddling the hole: [2,6]x[2,6]=16 minus the
        # hole [3,5]x[3,5]=4 -> 12
        dsub = spark.createDataFrame(
            [(1, "POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))")],
            "pid long, geom_wkt string",
        )
        dclip = spark.createDataFrame(
            [("D", donut)], "cid string, clip_wkt string"
        )
        got = {
            r["pid"]: r["clip_area"]
            for r in concave_clip_area_join(dsub, dclip).collect()
        }
        assert got == {1: 12.0}

    def test_concave_union_area(self, spark):
        """union = a + b − intersection, including the disjoint-but-
        bbox-overlapping candidate the clip join's positive filter
        drops (a rect inside the L's notch)."""
        from nycdb_k8s_loader_spark.operators.geo import (
            concave_union_area_join,
        )

        l_wkt = "POLYGON ((0 0, 4 0, 4 2, 2 2, 2 4, 0 4, 0 0))"
        subs = spark.createDataFrame(
            [
                # overlaps the L's base: inter [1,3]x[1,2] ∩ L... the
                # rect [1,3]x[1,3]=4 minus notch part [2,3]x[2,3]=1
                # -> inter 3; union = 12 + 4 - 3 = 13
                (1, "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))"),
                # wholly inside the notch [2,4]x[2,4]: inter 0,
                # union = 12 + 1 = 13 (bbox overlaps, so emitted)
                (2, "POLYGON ((2.5 2.5, 3.5 2.5, 3.5 3.5, 2.5 3.5, "
                    "2.5 2.5))"),
            ],
            "pid long, geom_wkt string",
        )
        clips = spark.createDataFrame(
            [("L", l_wkt)], "cid string, clip_wkt string"
        )
        out = concave_union_area_join(subs, clips)
        got = {r["pid"]: r["union_area"] for r in out.collect()}
        assert got == {1: 13.0, 2: 13.0}
        # r13 single-pass pin: ONE candidate join total — the old
        # two-pass form ran the bbox join twice (intersection pass +
        # a/b-area pass) and re-attached them with a third left join,
        # scanning and parsing both sides twice. The only other joins
        # are by_geometry_class's two key join-backs, one per side.
        # (logical plan: the executed-plan string under AQE prints
        # Final + Initial sections and double-counts)
        import re

        plan = out._jdf.queryExecution().optimizedPlan().toString()
        joins = [
            line.lstrip("+-: ")
            for line in plan.splitlines()
            if line.lstrip("+-: ").startswith("Join ")
        ]
        join_backs = [
            j for j in joins
            if re.fullmatch(r"Join Inner, \((\w+)#\d+ = \1#\d+\)", j)
        ]
        assert len(join_backs) == 2, joins
        assert len(joins) - len(join_backs) == 1, (
            f"union must be single-pass; got {joins}"
        )

    def test_miter_buffer_ring(self, spark):
        """Exact miter offsets: a square grows by r each side; a
        45-degree diamond's circumradius grows by r*sqrt(2); CW input
        buffers identically to CCW; a redundant collinear vertex hits
        the parallel-edge fallback without changing the area."""
        import math

        import pytest as _pytest
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.geo import (
            miter_buffer_ring,
            parse_wkt_polygon,
            ring_area,
        )

        rows = [
            (1, "POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))", 0.25),
            # same square, CW winding
            (2, "POLYGON ((0 0, 0 2, 4 2, 4 0, 0 0))", 0.25),
            # diamond |x|+|y|<=2: area 8; buffered circumradius
            # 2 + r*sqrt(2) -> area 2*(2 + r*sqrt(2))^2
            (3, "POLYGON ((2 0, 0 2, -2 0, 0 -2, 2 0))", 0.5),
            # square with a redundant midpoint vertex on the bottom
            # edge (collinear consecutive edges -> fallback branch)
            (4, "POLYGON ((0 0, 2 0, 4 0, 4 2, 0 2, 0 0))", 0.25),
        ]
        df = spark.createDataFrame(
            rows, "pid long, wkt string, r double"
        )
        buffered = F.when(
            F.spark_partition_id() >= 0,
            miter_buffer_ring(parse_wkt_polygon("wkt"), F.col("r")),
        )
        got = {
            row["pid"]: row["a"]
            for row in df.withColumn("__b", buffered)
            .select("pid", ring_area(F.col("__b")).alias("a"))
            .collect()
        }
        assert got[1] == _pytest.approx(4.5 * 2.5)  # (4+.5)(2+.5)
        assert got[2] == _pytest.approx(4.5 * 2.5)
        assert got[3] == _pytest.approx(
            2 * (2 + 0.5 * math.sqrt(2)) ** 2
        )
        assert got[4] == _pytest.approx(4.5 * 2.5)

    def test_with_miter_buffer_staged_single_parse(self, spark):
        """r13 regression pin: the staged form materializes the WKT
        parse exactly ONCE (its first stage composed
        _ccw(_open_ring(parse(...))) in one expression and the
        non-codegen, no-CSE Project cloned the regexp/split parse tree
        ~50x — geo13 measured x5 slower). Asserts (a) plan shape: one
        regexp_extract total; (b) result identity with the expression
        form on the miter fixture."""
        import math

        import pytest as _pytest
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.geo import (
            miter_buffer_ring,
            parse_wkt_polygon,
            ring_area,
            with_miter_buffer,
        )

        rows = [
            (1, "POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))", 0.25),
            (2, "POLYGON ((0 0, 0 2, 4 2, 4 0, 0 0))", 0.25),
            (3, "POLYGON ((2 0, 0 2, -2 0, 0 -2, 2 0))", 0.5),
        ]
        df = spark.createDataFrame(
            rows, "pid long, wkt string, r double"
        )
        staged = with_miter_buffer(
            df, "wkt", F.col("r"), out_col="__b"
        ).select("pid", ring_area(F.col("__b")).alias("a"))
        plan = staged._jdf.queryExecution().executedPlan().toString()
        assert plan.count("regexp_extract") == 1, (
            "staged miter buffer must parse the WKT exactly once; got "
            f"{plan.count('regexp_extract')} parse sites"
        )
        got = {r["pid"]: r["a"] for r in staged.collect()}
        expr = F.when(
            F.spark_partition_id() >= 0,
            miter_buffer_ring(parse_wkt_polygon("wkt"), F.col("r")),
        )
        want = {
            r["pid"]: r["a"]
            for r in df.withColumn("__b", expr)
            .select("pid", ring_area(F.col("__b")).alias("a"))
            .collect()
        }
        assert got == _pytest.approx(want)
        assert got[3] == _pytest.approx(
            2 * (2 + 0.5 * math.sqrt(2)) ** 2
        )

    def test_shapefile_to_operators_e2e(self, spark):
        """The source and the consumers finally meet: a type-5 shape
        with a hole and an island round-trips through parse_shp's
        MULTIPOLYGON WKT into parse_wkt_geometry, and containment/
        area agree with hand values — the geometry class the
        reference needs PostGIS for, end to end in this repo."""
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.geo import (
            multipolygon_area,
            multipolygon_contains,
            parse_wkt_geometry,
        )
        from nycdb_k8s_loader_spark.sources.shapefile import parse_shp

        import zipfile
        import io

        from nycdb_k8s_loader_spark.sources.shapefile import (
            write_shapefile_zip,
        )

        outer = [(0.0, 0.0), (0.0, 4.0), (4.0, 4.0), (4.0, 0.0),
                 (0.0, 0.0)]                      # CW outer
        hole = [(1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 2.0),
                (1.0, 1.0)]                       # CCW hole
        island = [(10.0, 0.0), (10.0, 2.0), (12.0, 2.0), (12.0, 0.0),
                  (10.0, 0.0)]                    # CW island
        blob = write_shapefile_zip(
            [("name", "C", 10, 0)], [(["m"], [outer, hole, island])]
        )
        with zipfile.ZipFile(io.BytesIO(blob)) as zf:
            wkt = parse_shp(zf.read("layer.shp"))[0]
        assert wkt.startswith("MULTIPOLYGON")
        df = spark.createDataFrame([(wkt,)], "w string")
        g = parse_wkt_geometry("w")
        r = df.select(
            F.round(multipolygon_area(g), 6).alias("area"),
            multipolygon_contains(
                F.lit(1.5), F.lit(1.5), g
            ).alias("in_hole"),
            multipolygon_contains(
                F.lit(3.0), F.lit(3.0), g
            ).alias("in_outer"),
            multipolygon_contains(
                F.lit(11.0), F.lit(1.0), g
            ).alias("in_island"),
        ).collect()[0]
        assert r["area"] == 19.0  # 16 - 1 + 4
        assert r["in_hole"] is False
        assert r["in_outer"] is True
        assert r["in_island"] is True


class TestBinnedPolygonJoin:
    """geo07's machinery: data-scale x data-scale spatial join via
    bbox grid binning + canonical-cell dedup + residual exact
    predicate — no broadcast of either side, no distinct."""

    def _join(self, spark, rows_a, rows_b, **kw):
        from nycdb_k8s_loader_spark.operators.geo import (
            polygon_intersection_join_binned,
        )

        a = spark.createDataFrame(rows_a, "aid long, wa string")
        b = spark.createDataFrame(rows_b, "bid long, wb string")
        out = polygon_intersection_join_binned(
            a, b, wkt_a="wa", wkt_b="wb", **kw
        )
        return sorted((r["aid"], r["bid"]) for r in out.collect())

    def test_pairs_dedup_across_cells_and_shapes(self, spark):
        # big ring spanning MANY cells at cell_deg=1: every pair must
        # still appear exactly once (canonical-cell rule)
        big = (1, "POLYGON ((0 0, 6 0, 6 6, 0 6, 0 0))")
        tri = (2, "POLYGON ((2.2 2.2, 3.8 2.2, 3.0 3.8, 2.2 2.2))")
        far = (3, "POLYGON ((20 20, 21 20, 21 21, 20 21, 20 20))")
        bs = [
            (10, "POLYGON ((1.5 1.5, 4.5 1.5, 4.5 4.5, 1.5 4.5, 1.5 1.5))"),
            (11, "POLYGON ((5.5 5.5, 7.5 5.5, 7.5 7.5, 5.5 7.5, 5.5 5.5))"),
            (12, "POLYGON ((8.5 0.5, 9.5 0.5, 9.5 1.5, 8.5 1.5, 8.5 0.5))"),
        ]
        got = self._join(spark, [big, tri, far], bs, cell_deg=1.0)
        # big ∩ 10 (contains it), big ∩ 11 (corner cross),
        # tri ∩ 10 (tri inside 10); 12 and far match nothing
        assert got == [(1, 10), (1, 11), (2, 10)]

    def test_auto_cell_and_junk_wkt(self, spark):
        # cell_deg derived from the largest bbox; junk ring drops out
        got = self._join(
            spark,
            [(1, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"),
             (2, "not a polygon")],
            [(10, "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))"),
             (11, "POLYGON ((9 9, 10 9, 10 10, 9 10, 9 9))")],
        )
        assert got == [(1, 10)]

    def test_plan_no_broadcast_no_cartesian(self, spark):
        from nycdb_k8s_loader_spark.plans.catalog import queries

        df = queries()["geo07_binned_polygon_join"](
            spark, "/root/testdata/sf0.001"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the CELL join must stay a hinted shuffle_hash equi-join (the
        # derived-size broadcast trap) and nothing may go cartesian.
        # r14: the dedup_geoms join-backs (distinct-WKT core expanded
        # back to rows) MAY broadcast — the core is class-level-small
        # by construction — but never on the cell key.
        assert "ShuffledHashJoin" in plan
        assert "BroadcastNestedLoop" not in plan
        assert "Cartesian" not in plan
        for line in plan.splitlines():
            if "BroadcastHashJoin" in line:
                assert "_cx" not in line and "_cy" not in line


class TestDedupGeoms:
    """``geo.by_geometry_class``: the row-preserving joins' opt-in
    ``dedup_geoms`` path (distinct-WKT core + join-back) must be
    row-for-row identical to the direct path on frames whose
    geometries repeat — including rows sharing a WKT under different
    ids — and the aggregate joins, which always run per class, must
    keep one output row per input row pair."""

    def _lots(self, spark):
        # 6 rows over 2 distinct squares
        sq = "POLYGON (({0} 0, {1} 0, {1} 2, {0} 2, {0} 0))"
        rows = [(i, sq.format(i % 2, i % 2 + 2)) for i in range(6)]
        return spark.createDataFrame(rows, "lid long, lw string")

    def _clips(self, spark):
        return spark.createDataFrame(
            [(10, "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))")],
            "cid long, cw string",
        )

    def test_clip_area_join_paths_agree(self, spark):
        from nycdb_k8s_loader_spark.operators import geo

        lots, clips = self._lots(spark), self._clips(spark)
        # (operator, subject/B frame, clip/A frame, kwargs): the lots
        # are the deduped side in every case
        cases = [
            (geo.polygon_clip_area_join, lots, clips,
             dict(wkt_col="lw", clip_wkt_col="cw")),
            (geo.polygon_intersection_join, clips, lots,
             dict(wkt_a="cw", wkt_b="lw")),
            (geo.multipolygon_intersection_join, clips, lots,
             dict(wkt_a="cw", wkt_b="lw")),
        ]
        for op, first, second, kw in cases:
            direct = op(first, second, **kw)
            fast = op(first, second, dedup_geoms=True, **kw)
            assert direct.columns == fast.columns, op.__name__
            rows = sorted(map(tuple, direct.collect()))
            assert len(rows) == 6, op.__name__
            assert rows == sorted(map(tuple, fast.collect())), op.__name__

    def test_binned_intersection_paths_agree(self, spark):
        from nycdb_k8s_loader_spark.operators.geo import (
            polygon_intersection_join_binned,
        )

        lots = self._lots(spark)
        parcels = spark.createDataFrame(
            [
                (i, f"POLYGON (({x} 0.5, {x + 1} 0.5, {x + 1} 1.5, "
                    f"{x} 1.5, {x} 0.5))")
                for i, x in [(7, 0.25), (8, 0.25), (9, 40.0)]
            ],
            "pid long, pw string",
        )
        direct = polygon_intersection_join_binned(
            lots, parcels, wkt_a="lw", wkt_b="pw"
        )
        fast = polygon_intersection_join_binned(
            lots, parcels, wkt_a="lw", wkt_b="pw", dedup_geoms=True
        )
        assert direct.columns == fast.columns
        assert sorted(map(tuple, direct.collect())) == sorted(
            map(tuple, fast.collect())
        )

    def test_concave_binned_paths_agree(self, spark):
        """The binned form's candidate discovery (grid cells +
        canonical-cell rule) must find exactly the broadcast form's
        pairs on repeated concave geometry."""
        from nycdb_k8s_loader_spark.operators.geo import (
            concave_clip_area_join,
            concave_clip_area_join_binned,
        )

        # L-shapes: 4 rows over 2 distinct shapes
        l_wkt = (
            "POLYGON (({0} 0, {1} 0, {1} 1, {2} 1, {2} 2, {0} 2, "
            "{0} 0))"
        )
        lots = spark.createDataFrame(
            [(i, l_wkt.format(i % 2, i % 2 + 2, i % 2 + 1))
             for i in range(4)],
            "lid long, lw string",
        )
        parcels = spark.createDataFrame(
            [(10, "POLYGON ((0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 1.5, "
                  "0.5 0.5))"),
             (11, "POLYGON ((0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 1.5, "
                  "0.5 0.5))")],
            "pid long, pw string",
        )
        kw = dict(wkt_col="lw", clip_wkt_col="pw")
        broadcast = concave_clip_area_join(lots, parcels, **kw)
        binned = concave_clip_area_join_binned(lots, parcels, **kw)
        assert broadcast.columns == binned.columns
        rows = sorted(map(tuple, broadcast.collect()))
        assert len(rows) == 8
        assert rows == sorted(map(tuple, binned.collect()))

    @pytest.mark.parametrize(
        "name, area_col, area",
        [
            ("multipolygon_clip_area_join", "clip_area", 1.0),
            ("concave_clip_area_join", "clip_area", 1.0),
            ("concave_clip_area_join_binned", "clip_area", 1.0),
            # union = 4 + 4 - 1
            ("concave_union_area_join", "union_area", 7.0),
        ],
    )
    def test_aggregate_joins_keep_duplicate_rows(
        self, spark, name, area_col, area
    ):
        """The aggregate joins group by every visible column: over the
        raw rows, two identical subject rows against two identical
        clip rows merged into ONE row carrying the summed area (4x).
        Per geometry class, each of the 4 row pairs keeps its own
        row and the single-pair area."""
        from nycdb_k8s_loader_spark.operators import geo

        a = "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"
        b = "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))"
        subs = spark.createDataFrame(
            [(1, a), (1, a)], "pid long, geom_wkt string"
        )
        clips = spark.createDataFrame(
            [(10, b), (10, b)], "cid long, clip_wkt string"
        )
        out = getattr(geo, name)(subs, clips)
        assert out.columns == ["pid", "geom_wkt", "cid", "clip_wkt",
                               area_col]
        assert sorted(map(tuple, out.collect())) == [(1, a, 10, b, area)] * 4


class TestConvexClipArea:
    """geo06's machinery: Sutherland–Hodgman convex clip + shoelace
    area as pure expressions. Hand-computed geometry; the catalog
    entry carries the rectangle-algebra oracle."""

    def _area(self, spark, subject_wkt, clip_wkt):
        from nycdb_k8s_loader_spark.operators.geo import (
            convex_clip_ring,
            parse_wkt_polygon,
            ring_area,
        )

        df = spark.createDataFrame(
            [(subject_wkt, clip_wkt)], "ws string, wc string"
        )
        # stage the fold behind the production fence (r14): ring_area
        # references its input ~8×, and the unfenced composition
        # inlined 8 copies of the whole interpreted clip tree — ~60 s
        # of fixed plan/codegen per test for the same executed math
        # (every operator composes these fenced; the fold itself is
        # exercised identically)
        clipped = F.when(
            F.spark_partition_id() >= 0,
            convex_clip_ring(
                parse_wkt_polygon("ws"), parse_wkt_polygon("wc")
            ),
        )
        return (
            df.select(clipped.alias("__c"))
            .select(ring_area(F.col("__c")).alias("a"))
            .collect()[0]["a"]
        )

    def test_rect_rect_overlap(self, spark):
        a = self._area(
            spark,
            "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
            "POLYGON ((8 4, 14 4, 14 6, 8 6, 8 4))",
        )
        assert abs(a - 4.0) < 1e-9  # [8,10] x [4,6]

    def test_subject_inside_clip(self, spark):
        a = self._area(
            spark,
            "POLYGON ((2 2, 3 2, 3 3, 2 3, 2 2))",
            "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
        )
        assert abs(a - 1.0) < 1e-9

    def test_clip_inside_subject(self, spark):
        a = self._area(
            spark,
            "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
            "POLYGON ((2 2, 3 2, 3 3, 2 3, 2 2))",
        )
        assert abs(a - 1.0) < 1e-9

    def test_triangle_clipped_by_halfplane_rect(self, spark):
        # triangle (0,0)(10,0)(5,9) ∩ [0,10]x[0,4.5] = trapezoid
        # (0,0)(10,0)(7.5,4.5)(2.5,4.5), area (10+5)/2 * 4.5 = 33.75
        a = self._area(
            spark,
            "POLYGON ((0 0, 10 0, 5 9, 0 0))",
            "POLYGON ((0 0, 10 0, 10 4.5, 0 4.5, 0 0))",
        )
        assert abs(a - 33.75) < 1e-9

    def test_disjoint_is_zero(self, spark):
        a = self._area(
            spark,
            "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
            "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))",
        )
        assert a == 0.0

    def test_winding_normalized(self, spark):
        # both rings CLOCKWISE: same intersection as CCW
        a = self._area(
            spark,
            "POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0))",
            "POLYGON ((8 4, 8 6, 14 6, 14 4, 8 4))",
        )
        assert abs(a - 4.0) < 1e-9

    def test_join_filters_positive_and_broadcasts(self, spark):
        from nycdb_k8s_loader_spark.operators.geo import (
            polygon_clip_area_join,
        )

        polys = spark.createDataFrame(
            [
                (1, "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"),
                (2, "POLYGON ((50 50, 51 50, 51 51, 50 51, 50 50))"),
            ],
            "pid int, geom_wkt string",
        )
        clips = spark.createDataFrame(
            [(7, "POLYGON ((1 1, 5 1, 5 5, 1 5, 1 1))")],
            "cid int, clip_wkt string",
        )
        out = polygon_clip_area_join(polys, clips)
        rows = {(r["pid"], r["cid"]): r["clip_area"] for r in out.collect()}
        assert rows == {(1, 7): 1.0}  # [1,2]^2 overlap; poly 2 dropped
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan
        assert "Exchange hashpartitioning" not in plan


class TestUrlDomainFilter:
    def test_signals_and_blocklist(self, spark):
        from nycdb_k8s_loader_spark.operators.textops import (
            url_domain_filter,
        )

        rows = [
            (1, "https://www.good.example.org/a/b"),
            (2, "HTTPS://cdn.badsite.example:443/x"),       # blocked dom
            (3, "https://u91234567.example.net/d"),          # digit host
            (4, "https://ok.example.org/casino/x"),          # word
            (5, "https://deep.example.org" + "/s" * 12),     # depth
            (6, None),                                       # junk row
        ]
        df = spark.createDataFrame(rows, "doc_id long, url string")
        bl = spark.createDataFrame([("badsite.example",)], "domain string")
        out = {
            r["doc_id"]: r
            for r in url_domain_filter(df, blocked_domains=bl).collect()
        }
        assert out[1]["keep"] is True
        assert out[1]["registered_domain"] == "example.org"
        assert out[1]["host"] == "good.example.org"  # www stripped
        assert out[2]["blocked_domain"] is True      # scheme-case + port
        assert out[2]["host"] == "cdn.badsite.example"
        assert out[3]["ok_host_digits"] is False
        assert out[4]["blocked_word"] is True
        assert out[5]["ok_path_depth"] is False
        # NULL url: every verdict a total false, never NULL (the
        # gopher junk-doc rule applied to junk rows)
        assert out[6]["keep"] is False
        assert out[6]["blocked_word"] is False
        assert out[6]["ok_url_len"] is False
        assert all(
            not out[i]["keep"] for i in (2, 3, 4, 5, 6)
        )

    def test_no_blocklist_means_signal_false(self, spark):
        from nycdb_k8s_loader_spark.operators.textops import (
            url_domain_filter,
        )

        df = spark.createDataFrame(
            [(1, "https://x.badsite.example/a")], "doc_id long, url string"
        )
        r = url_domain_filter(df).collect()[0]
        assert r["blocked_domain"] is False and r["keep"] is True

    def test_multi_part_public_suffix(self, spark):
        """example.co.uk keys as 'example.co.uk', not 'co.uk' — a
        blocklist entry can target the site, and listing a bare
        suffix no longer blanket-blocks a ccTLD (round-8 ADVICE)."""
        from nycdb_k8s_loader_spark.operators.textops import (
            url_domain_filter,
        )

        df = spark.createDataFrame(
            [
                (1, "https://www.example.co.uk/a"),
                (2, "https://shop.other.co.uk/b"),
                (3, "https://plain.example.org/c"),
                (4, "https://co.uk/d"),  # bare suffix host: last3 empty
            ],
            "doc_id long, url string",
        )
        bl = spark.createDataFrame(
            [("example.co.uk",), ("co.uk",)], "domain string"
        )
        out = {
            r["doc_id"]: r
            for r in url_domain_filter(df, blocked_domains=bl).collect()
        }
        assert out[1]["registered_domain"] == "example.co.uk"
        assert out[1]["blocked_domain"] is True
        assert out[2]["registered_domain"] == "other.co.uk"
        assert out[2]["blocked_domain"] is False  # suffix entry inert
        assert out[3]["registered_domain"] == "example.org"
        # a host that IS the bare suffix falls back to last-2
        assert out[4]["registered_domain"] == "co.uk"


class TestStreamingIncrementalDedup:
    def test_st12_equals_d13(self, spark):
        """Mode-independence: the streaming probe's verdicts equal the
        batch twin's at the same state and data."""
        from nycdb_k8s_loader_spark.plans.catalog import queries

        qs = queries()
        sf = "/root/testdata/sf0.001"
        batch = sorted(
            map(tuple, qs["d13_incremental_dedup_from_state"](spark, sf)
                .collect())
        )
        streamed = sorted(
            map(tuple, qs["st12_streaming_incremental_dedup"](spark, sf)
                .collect())
        )
        assert batch == streamed
        # rerun replays nothing and returns the same published rows
        again = sorted(
            map(tuple, qs["st12_streaming_incremental_dedup"](spark, sf)
                .collect())
        )
        assert again == streamed


class TestLinearQualityScores:
    def test_scores_and_zero_token_docs(self, spark):
        from nycdb_k8s_loader_spark.operators.textops import (
            linear_quality_scores,
        )

        docs = spark.createDataFrame(
            [
                (1, "good good text"),
                (2, ""),            # zero tokens -> keep false, not crash
                (3, "   "),
                (4, "bad unknownword"),
            ],
            "doc_id long, text string",
        )
        weights = spark.createDataFrame(
            [("good", 5), ("text", 1), ("bad", -7)],
            "word string, weight int",
        )
        out = {r["doc_id"]: r for r in
               linear_quality_scores(docs, weights).collect()}
        assert out[1]["score_tenths"] == 11 and out[1]["keep"] is True
        assert out[1]["n_tokens"] == 3
        assert out[2]["n_tokens"] == 0 and out[2]["keep"] is False
        assert out[3]["n_tokens"] == 0 and out[3]["keep"] is False
        # out-of-vocab contributes 0, doc sinks on the negative weight
        assert out[4]["score_tenths"] == -7 and out[4]["keep"] is False

    def test_duplicate_weight_rows_never_fan_out(self, spark):
        """A repeated word in the published weights frame must not
        fan out the token join — n_tokens stays the true token count
        and the duplicate weights merge additively (round-8 ADVICE)."""
        from nycdb_k8s_loader_spark.operators.textops import (
            linear_quality_scores,
        )

        docs = spark.createDataFrame(
            [(1, "good good text")], "doc_id long, text string"
        )
        weights = spark.createDataFrame(
            [("good", 5), ("good", 2), ("text", 1)],
            "word string, weight int",
        )
        r = linear_quality_scores(docs, weights).collect()[0]
        assert r["n_tokens"] == 3            # not 5 (no fan-out)
        assert r["score_tenths"] == 15       # (5+2)*2 + 1


class TestZeroVectorSafety:
    def test_zero_embedding_never_aborts_or_matches(self, spark):
        """Spark 4 ANSI turns x/0 into a job-aborting exception even
        for doubles; a dedup pass must survive junk (all-zero)
        embeddings — they normalize to NULL direction and never
        match anything (review finding, round 8)."""
        import math

        from nycdb_k8s_loader_spark.operators.similarity import (
            cosine_topk,
            incremental_semantic_dedup,
        )

        def unit(seed, dim=8):
            raw = [((seed * 31 + i * 17) % 97) / 97.0 - 0.5
                   for i in range(dim)]
            n = math.sqrt(sum(x * x for x in raw))
            return [x / n for x in raw]

        corpus = spark.createDataFrame(
            [(i, unit(i)) for i in range(0, 20, 2)]
            + [(98, [0.0] * 8)],                      # junk in corpus
            "vec_id long, embedding array<double>",
        )
        batch = spark.createDataFrame(
            [(101, unit(2)), (103, [0.0] * 8)],       # junk in batch
            "vec_id long, embedding array<double>",
        )
        out = {r["vec_id"]: r["is_kept"]
               for r in incremental_semantic_dedup(
                   corpus, batch, k=4, threshold=0.95
               ).collect()}
        assert out[101] is False       # planted dup still caught
        assert out[103] is True        # zero vector matches nothing
        # brute-force top-k with a zero query/candidate must not abort
        tk = cosine_topk(corpus, query_ids=[0, 98], k=3)
        assert tk.count() > 0


class TestUnclosedRings:
    def test_unclosed_rings_behave_like_closed(self, spark):
        """Every ring consumer is wraparound-inclusive (review
        finding): WKT without the duplicate closing vertex must give
        the same intersection verdicts, containment, and areas."""
        from nycdb_k8s_loader_spark.operators.geo import (
            convex_clip_ring,
            parse_wkt_polygon,
            point_in_polygon,
            polygons_intersect,
            ring_area,
        )

        tri_closed = "POLYGON ((0 0, 10 0, 5 9, 0 0))"
        tri_open = "POLYGON ((0 0, 10 0, 5 9))"
        # crosses ONLY the closing (5 9)->(0 0) edge of the triangle
        # and contains neither first vertex
        crosser = "POLYGON ((1 4, 3 4, 3 6, 1 6, 1 4))"
        df = spark.createDataFrame(
            [(tri_closed, tri_open, crosser)],
            "wc string, wo string, wx string",
        )
        # clip fold fenced into its own column (r14, same reason as
        # TestConvexClipArea._area: ring_area would inline ~8 copies
        # of the interpreted clip tree — ~50 s of plan/codegen)
        clipped = F.when(
            F.spark_partition_id() >= 0,
            convex_clip_ring(
                parse_wkt_polygon("wo"), parse_wkt_polygon("wx")
            ),
        )
        row = df.select(
            polygons_intersect(
                parse_wkt_polygon("wc"), parse_wkt_polygon("wx")
            ).alias("closed_hit"),
            polygons_intersect(
                parse_wkt_polygon("wo"), parse_wkt_polygon("wx")
            ).alias("open_hit"),
            point_in_polygon(
                F.lit(5.0), F.lit(3.0), parse_wkt_polygon("wo")
            ).alias("open_contains"),
            ring_area(parse_wkt_polygon("wo")).alias("open_area"),
            clipped.alias("__c"),
        ).select(
            "closed_hit", "open_hit", "open_contains", "open_area",
            ring_area(F.col("__c")).alias("open_clip_area"),
        ).collect()[0]
        assert row["closed_hit"] is True
        assert row["open_hit"] is True          # was False pre-fix
        assert row["open_contains"] is True
        assert abs(row["open_area"] - 45.0) < 1e-9
        assert row["open_clip_area"] > 0.0


class TestTokenCountContract:
    """The pluggable token-count contract (r10 verdict #6): every
    token-denominated op (c02 packing, c04 shards, p05/p07 mixtures)
    accepts a precomputed ``token_count_col``; injecting the
    whitespace count reproduces the default EXACTLY, and injecting a
    different count changes the result (so the parameter is live, not
    decorative — the c10 catalog row oracles the differing case)."""

    def _docs(self, spark):
        return spark.createDataFrame(
            [
                (i, f"src{i % 3}",
                 "alpha beta gamma delta " * (1 + i % 7) + f"tail{i}")
                for i in range(60)
            ],
            "doc_id long, source string, text string",
        )

    def test_injected_ws_equals_default(self, spark):
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.sampling import (
            temperature_mixture,
            token_budget_mixture,
        )
        from nycdb_k8s_loader_spark.operators.textops import (
            _ws_tokens,
            pack_sequences,
            token_balanced_shards,
        )

        docs = self._docs(spark).withColumn(
            "ws_n", _ws_tokens(F.col("text")).cast("long")
        )
        shares = {f"src{i}": 333_333 for i in range(3)}
        pairs = [
            (pack_sequences(docs, context_tokens=64, shard_docs=16),
             pack_sequences(docs, context_tokens=64, shard_docs=16,
                            token_count_col="ws_n")),
            (token_balanced_shards(docs, num_shards=4),
             token_balanced_shards(docs, num_shards=4,
                                   token_count_col="ws_n")),
            (temperature_mixture(docs, alpha=0.5),
             temperature_mixture(docs, alpha=0.5,
                                 token_count_col="ws_n")),
            (token_budget_mixture(docs, shares),
             token_budget_mixture(docs, shares,
                                  token_count_col="ws_n")),
        ]
        for default, injected in pairs:
            assert sorted(map(tuple, default.collect())) == sorted(
                map(tuple, injected.collect())
            )

    def test_injected_counts_are_live(self, spark):
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.textops import (
            pack_sequences,
        )

        docs = self._docs(spark).withColumn(
            "bpe_n", (F.length("text") * 3).cast("long")
        )
        a = pack_sequences(docs, context_tokens=64, shard_docs=16)
        b = pack_sequences(docs, context_tokens=64, shard_docs=16,
                           token_count_col="bpe_n")
        assert sorted(map(tuple, a.collect())) != sorted(
            map(tuple, b.collect())
        )

    def test_real_executor_side_tokenizer_feeds_packing(self, spark):
        """r11 verdict #7 (the contract's intended production wiring,
        end to end): a REAL tokenizer map — greedy-merge BPE over a
        fixture merge table, run executor-side via Arrow-batched
        mapInPandas — produces the precomputed count column, and c02
        packing runs on it through ``token_count_col``.  Pins: (a)
        the distributed map agrees with the pure-Python reference
        apply row for row, (b) BPE counts differ from whitespace
        counts (the merge table is live, not a word counter), (c)
        packing on the tokenizer column == packing on the same counts
        injected as a literal column (the seam carries nothing but
        the counts)."""
        from pyspark.sql import functions as F

        from nycdb_k8s_loader_spark.operators.textops import (
            DEFAULT_BPE_MERGES,
            bpe_apply_count,
            bpe_token_counts,
            pack_sequences,
        )

        docs = self._docs(spark)
        toked = bpe_token_counts(docs)
        rows = {r["doc_id"]: r for r in toked.collect()}

        ranks = {p: i for i, p in enumerate(DEFAULT_BPE_MERGES)}
        for d in docs.collect():
            assert (
                rows[d["doc_id"]]["bpe_tokens"]
                == bpe_apply_count(d["text"], ranks)
            )
        # merges fire on this fixture: counts sit strictly between
        # word count and char count, equal to neither
        ws = {
            r["doc_id"]: len(r["text"].split()) for r in docs.collect()
        }
        assert all(rows[i]["bpe_tokens"] > ws[i] for i in ws)
        assert any(
            rows[i]["bpe_tokens"] < len(r["text"].replace(" ", ""))
            for i, r in ((d["doc_id"], d) for d in docs.collect())
        )

        packed = pack_sequences(
            toked, context_tokens=64, shard_docs=16,
            token_count_col="bpe_tokens",
        )
        lut = F.create_map(
            *[
                F.lit(x)
                for i in sorted(rows)
                for x in (i, rows[i]["bpe_tokens"])
            ]
        )
        literal = docs.withColumn("bpe_tokens", lut[F.col("doc_id")])
        expected = pack_sequences(
            literal, context_tokens=64, shard_docs=16,
            token_count_col="bpe_tokens",
        )
        assert sorted(map(tuple, packed.collect())) == sorted(
            map(tuple, expected.collect())
        )


class TestConcaveClipBinned:
    """geo14: concave∩concave at data×data scale — geo07's grid
    binning composed with geo11's fan-triangle algebra.  Pins: (a)
    result equality with the broadcast form on concave fixtures,
    (b) NO broadcast of either data side in the physical plan (the
    whole point of the operator), (c) the canonical-cell rule holds
    (no duplicate pair rows even when a pair's bboxes span cells)."""

    def _l(self, x0, y0, size, notch):
        x1, y1 = x0 + size, y0 + size
        xm, ym = x0 + size - notch, y0 + size - notch
        return (
            f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {ym}, {xm} {ym}, "
            f"{xm} {y1}, {x0} {y1}, {x0} {y0}))"
        )

    def _frames(self, spark):
        lots = spark.createDataFrame(
            [(i, self._l((i % 7) * 2 + 0.25, (i % 5) * 2 + 0.25,
                         3.0, 1.5)) for i in range(30)],
            "lot_id long, lot_wkt string",
        )
        clips = spark.createDataFrame(
            [(j, self._l((j % 6) * 2 + 0.125, (j % 4) * 2 + 0.125,
                         2.25, 1.125)) for j in range(20)],
            "clip_id long, clip_wkt string",
        )
        return lots, clips

    def test_binned_equals_broadcast_form(self, spark):
        from nycdb_k8s_loader_spark.operators.geo import (
            concave_clip_area_join,
            concave_clip_area_join_binned,
        )

        lots, clips = self._frames(spark)
        kw = dict(wkt_col="lot_wkt", clip_wkt_col="clip_wkt")
        a = sorted(map(tuple, concave_clip_area_join(
            lots, clips, **kw
        ).collect()))
        b = sorted(map(tuple, concave_clip_area_join_binned(
            lots, clips, **kw
        ).collect()))
        assert a == b and len(a) > 0
        # explicit small cell forces pairs to span MANY cells — the
        # canonical-cell rule must still emit each pair exactly once
        c = sorted(map(tuple, concave_clip_area_join_binned(
            lots, clips, cell_deg=0.5, **kw
        ).collect()))
        assert c == a

    def test_no_broadcast_of_either_side(self, spark):
        from nycdb_k8s_loader_spark.operators.geo import (
            concave_clip_area_join_binned,
        )

        lots, clips = self._frames(spark)
        plan = concave_clip_area_join_binned(
            lots, clips, wkt_col="lot_wkt", clip_wkt_col="clip_wkt"
        )._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in plan, plan[:2000]
        assert "BroadcastHashJoin" not in plan, plan[:2000]
        assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
