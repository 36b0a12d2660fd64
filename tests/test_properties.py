"""Property-based tests: hypothesis generates small random inputs, a
driver-side pure-Python model computes the expected answer, and the
distributed operator must agree exactly.

This upgrades the reference's test pyramid (SURVEY.md §5 — the
reference has no property testing): the operators most prone to
silent semantic drift are exactly the hand-built ones (skew-safe
rewrites, the union-merge as-of join, label propagation), where a
subtle null/tie rule can pass every example-based test and still be
wrong on an adversarial input.

Spark jobs per example are expensive, so each property runs a
moderate number of examples over *adversarial-by-construction*
domains: tiny key/value ranges force heavy ties, duplicates, nulls,
and hot keys.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nycdb_k8s_loader_spark.operators.graph import (
    connected_components,
    connected_components_star,
)
from nycdb_k8s_loader_spark.operators.skew import (
    salted_collect,
    two_phase_distinct,
)
from nycdb_k8s_loader_spark.operators.temporal import asof_join

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
    derandomize=True,  # CI-stable: failures reproduce deterministically
)

# tiny domains ⇒ dense collisions: hot keys, tied values, nulls
_kv_rows = st.lists(
    st.tuples(
        st.integers(0, 3),                                  # key (hot)
        st.one_of(st.none(), st.integers(0, 4)),            # value | NULL
    ),
    min_size=0,
    max_size=40,
)


@given(rows=_kv_rows)
@SETTINGS
def test_two_phase_distinct_matches_count_distinct(spark, rows):
    """two_phase_distinct == SQL COUNT(DISTINCT v) GROUP BY k:
    NULL values never count, all-NULL keys still appear with 0."""
    schema = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("v", T.IntegerType()),
        ]
    )
    df = spark.createDataFrame(rows, schema=schema)
    got = {
        r["k"]: r["n_distinct"]
        for r in two_phase_distinct(df, ["k"], "v").collect()
    }
    expected = {
        k: len({v for kk, v in rows if kk == k and v is not None})
        for k in {k for k, _ in rows}
    }
    assert got == expected


@given(rows=_kv_rows)
@SETTINGS
def test_salted_collect_matches_single_hop(spark, rows):
    """Two salted hops == single-hop sort_array(collect_list(v)),
    including collect_list's drop-NULLs rule and all-NULL keys."""
    schema = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("v", T.IntegerType()),
        ]
    )
    # unique row id = salt input (mirrors q29's use of the row key)
    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)],
        schema=schema.add("uid", T.IntegerType()),
    )
    got = {
        r["k"]: r["values"]
        for r in salted_collect(df, ["k"], "v", "uid", n_salts=3).collect()
    }
    single_hop = {
        r["k"]: r["values"]
        for r in df.groupBy("k")
        .agg(F.sort_array(F.collect_list("v")).alias("values"))
        .collect()
    }
    assert got == single_hop
    expected = {
        k: sorted(v for kk, v in rows if kk == k and v is not None)
        for k in {k for k, _ in rows}
    }
    assert got == expected


_asof_left = st.lists(
    st.tuples(st.integers(0, 2), st.one_of(st.none(), st.integers(0, 9))),
    min_size=0,
    max_size=15,
)
_asof_right = st.lists(
    st.tuples(
        st.integers(0, 2),
        st.one_of(st.none(), st.integers(0, 9)),
        st.integers(0, 99),
    ),
    min_size=0,
    max_size=15,
)


@given(left_rows=_asof_left, right_rows=_asof_right)
@SETTINGS
def test_asof_join_matches_naive_model(spark, left_rows, right_rows):
    """union-merge as-of join == 'latest right with rt <= lt per key':
    inclusive at equal time, max payload breaks right-side time ties,
    NULL timestamps never match on either side."""
    lschema = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("lt", T.IntegerType()),
        ]
    )
    rschema = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("rt", T.IntegerType()),
            T.StructField("payload", T.IntegerType()),
        ]
    )
    # uid distinguishes duplicate left rows in the multiset compare
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left_rows)],
        schema=lschema.add("uid", T.IntegerType()),
    )
    right = spark.createDataFrame(right_rows, schema=rschema)

    got = {
        (r["k"], r["lt"], r["uid"], r["payload"])
        for r in asof_join(
            left, right, key="k", left_ts="lt", right_ts="rt",
            payload_cols=["payload"], how="left",
        ).collect()
    }

    expected = set()
    for i, (k, lt) in enumerate(left_rows):
        cands = [
            (rt, p)
            for kk, rt, p in right_rows
            if kk == k and rt is not None and lt is not None and rt <= lt
        ]
        best = max(cands) if cands else (None, None)
        expected.add((k, lt, i, best[1]))
    assert got == expected


def _endpoint(ids):
    return st.one_of(st.none(), ids)


# int or string ids (never mixed within one graph), with NULL
# endpoints; the strings differ in UTF-16 and code-point order
# ("\uffef" < "😀" by code point, the reverse in UTF-16)
_edges = st.one_of(
    *(
        st.lists(
            st.tuples(_endpoint(ids), _endpoint(ids)),
            min_size=1,
            max_size=25,
        )
        for ids in (
            st.integers(0, 11),
            st.sampled_from(["a", "B", "ab", "é", "\uffef", "😀", "z"]),
        )
    )
)


def _union_find_components(edges):
    """A NULL endpoint is not a node; the other endpoint still is."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        for n in (a, b):
            if n is not None:
                find(n)
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots = {}
    for n in parent:
        roots.setdefault(find(n), []).append(n)
    return {n: min(members) for members in roots.values() for n in members}


@pytest.mark.parametrize("path", ["driver", "distributed"])
@given(edges=_edges)
@settings(
    # iterative: each example runs diameter/log² rounds of Spark jobs
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
    derandomize=True,
)
def test_connected_components_both_variants_match_union_find(
    spark, path, edges
):
    """min-label propagation AND large-star/small-star both produce
    component = min node id, for any undirected edge multiset
    (self-loops, duplicates, reversed duplicates, NULL endpoints
    included), on both sides of the driver-path size gate."""
    from nycdb_k8s_loader_spark.operators import graph

    ids = [n for e in edges for n in e if n is not None]
    kind = "string" if ids and isinstance(ids[0], str) else "int"
    df = spark.createDataFrame(edges, schema=f"src {kind}, dst {kind}")
    expected = _union_find_components(edges)
    gate = graph._DRIVER_CC_MAX_EDGES if path == "driver" else -1
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(graph, "_DRIVER_CC_MAX_EDGES", gate)
        for impl in (connected_components, connected_components_star):
            rows = impl(df).collect()
            got = {r["node"]: r["component"] for r in rows}
            assert got == expected, impl.__name__
            assert len(rows) == len(got), impl.__name__


def test_sketch_aggregates_bounded_error(spark):
    """q34's sketches stay within their configured error of the exact
    q30 answers at sf0.01 (rsd=2% HLL → assert 6%; accuracy=5000
    quantile sketch → assert 1 percentile-rank point)."""
    from nycdb_k8s_loader_spark.plans.catalog import queries

    sf = "/root/testdata/sf0.01"
    approx = {
        r["l_returnflag"]: r
        for r in queries()["q34_sketch_aggregates"](spark, sf).collect()
    }
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count_distinct("l_partkey").alias("n_parts"),
            F.expr(
                "percentile(l_extendedprice, array(0.88, 0.9, 0.92))"
            ).alias("p_band"),
        )
        .collect()
    }
    assert approx.keys() == exact.keys()
    for flag, a in approx.items():
        e = exact[flag]
        assert abs(a["approx_n_parts"] - e["n_parts"]) <= 0.06 * e["n_parts"]
        lo, _, hi = e["p_band"]
        assert lo <= a["approx_p90_price"] <= hi


_rollup_rows = st.lists(
    st.tuples(
        st.integers(0, 3),                        # group key (hot)
        st.one_of(st.none(), st.integers(-5, 5)), # measure | NULL
        st.booleans(),                            # base/delta assignment
    ),
    min_size=0,
    max_size=40,
)


@given(rows=_rollup_rows)
@SETTINGS
def test_incremental_rollup_merge_equals_direct(spark, rows):
    """merge(rollup(base), rollup(delta)) == rollup(all) for ANY split,
    including empty sides, all-NULL groups, and groups entirely in one
    side — the monoid-merge law q35 relies on."""
    from nycdb_k8s_loader_spark.operators.incremental import (
        finalize_rollup,
        merge_rollups,
        partial_rollup,
    )

    schema = T.StructType(
        [
            T.StructField("g", T.IntegerType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("in_base", T.BooleanType()),
        ]
    )
    df = spark.createDataFrame(
        [(g, v, b) for g, v, b in rows], schema
    ).cache()

    def as_map(state):
        return {
            r["g"]: (r["n_rows"], r["v_cnt"], r["v_sum"], r["v_min"], r["v_max"])
            for r in state.collect()
        }

    direct = as_map(partial_rollup(df.drop("in_base"), ["g"], ["v"]))
    merged = as_map(
        merge_rollups(
            [
                partial_rollup(
                    df.filter("in_base").drop("in_base"), ["g"], ["v"]
                ),
                partial_rollup(
                    df.filter("NOT in_base").drop("in_base"), ["g"], ["v"]
                ),
            ],
            ["g"],
            ["v"],
        )
    )
    assert direct == merged
    df.unpersist()


# --- round-4 operators: property-based checks --------------------------------


@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(0, 10_000),
    n_verts=st.integers(3, 9),
    n_points=st.integers(5, 20),
)
def test_ray_cast_matches_convex_halfplane_oracle(
    spark, seed, n_verts, n_points
):
    """Ray-cast containment (_pip_edges) vs an INDEPENDENT
    decision procedure: for convex polygons, containment equals
    'every edge cross-product has the same sign'. Random convex
    polygons (sorted-angle construction) + random points, points
    nudged off edges."""
    import math
    import random

    from nycdb_k8s_loader_spark.operators.geo import (
        _pip_edges,
        _ring_edges,
        parse_wkt_polygon,
    )

    rng = random.Random(seed)
    angles = sorted(rng.uniform(0, 2 * math.pi) for _ in range(n_verts))
    # distinct angles → strictly convex; collapse duplicates
    angles = sorted(set(round(a, 3) for a in angles))
    if len(angles) < 3:
        return
    verts = [
        (round(10 + 7 * math.cos(a), 3), round(10 + 7 * math.sin(a), 3))
        for a in angles
    ]
    ring = verts + [verts[0]]
    wkt = "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in ring) + "))"

    def convex_contains(px, py):
        sign = 0
        for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
            cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
            if abs(cross) < 1e-9:
                return None  # on-edge: undefined for both methods
            s = 1 if cross > 0 else -1
            if sign == 0:
                sign = s
            elif s != sign:
                return False
        return True

    pts = []
    for _ in range(n_points):
        px = round(rng.uniform(0, 20), 3) + 1e-4  # off grid = off edges
        py = round(rng.uniform(0, 20), 3) + 1e-4
        want = convex_contains(px, py)
        if want is not None:
            pts.append((px, py, want))
    if not pts:
        return
    df = spark.createDataFrame(
        pts, "px double, py double, want boolean"
    ).withColumn("wkt", F.lit(wkt))
    out = df.select(
        "px", "py", "want",
        _pip_edges(
            F.col("px"), F.col("py"),
            _ring_edges(parse_wkt_polygon("wkt")),
        ).alias("got"),
    ).collect()
    for r in out:
        assert r["got"] == r["want"], (wkt, r["px"], r["py"])


@settings(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    host=st.from_regex(r"[a-z][a-z0-9-]{0,10}(\.[a-z]{2,5}){1,2}", fullmatch=True),
    path=st.from_regex(r"(/[A-Za-z0-9._-]{0,8}){0,4}", fullmatch=True),
    scheme=st.sampled_from(["http", "HTTPS", "Http"]),
    www=st.booleans(),
    port=st.sampled_from(["", ":80", ":443"]),
    slash=st.booleans(),
    query=st.sampled_from(["", "?utm_source=x", "?a=1&utm_b=2", "#frag"]),
)
def test_canonical_url_idempotent_and_variant_stable(
    spark, host, path, scheme, www, port, slash, query
):
    """canonical(messy) == canonical(clean) for every cosmetic variant,
    and canonicalization is idempotent (canonical(canonical(u)) ==
    canonical(u)) — the property URL-level dedup actually relies on."""
    from nycdb_k8s_loader_spark.operators.dedup import canonical_url

    messy = (
        f"{scheme}://{'www.' if www else ''}{host.upper()}{port}"
        f"{path}{'/' if slash else ''}{query}"
    )
    clean = f"{scheme.lower()}://{host}{path}"
    df = spark.createDataFrame([(messy, clean)], "m string, c string")
    row = df.select(
        canonical_url("m").alias("cm"),
        canonical_url("c").alias("cc"),
        canonical_url(canonical_url("m")).alias("cmm"),
    ).first()
    assert row["cm"] == row["cc"]
    assert row["cmm"] == row["cm"]


_pii_text = st.lists(
    st.one_of(
        # adversarial-by-construction fragments: near-miss and valid
        # PII shapes mixed with noise
        st.sampled_from([
            "a@b.io", "x.y@z.co", "no@tld", "@x.com", "a@@b.cc",
            "A@B.IO", "Bob.Smith@Corp.Io", "Keep Casing HERE",
            "555-1234", "55-1234", "5551-234", "1234-5678",
            "10.0.0.1", "1.2.3", "999.999.999.999", "1.2.3.4.5",
            "plain", "words", "a.b", "-", "ok 3.14 done",
        ]),
        st.text(alphabet="aAbB1.-@ ", min_size=0, max_size=12),
    ),
    min_size=0,
    max_size=8,
)


@given(frags=st.lists(_pii_text, min_size=1, max_size=6))
@SETTINGS
def test_pii_scrub_matches_python_re_model(spark, frags):
    """pii_scrub's counts and redaction must equal a pure-Python `re`
    model applying the identical patterns and cascade — Java regex and
    Python re agree on these RE2-safe patterns, so any divergence is a
    Spark-side wiring bug (group index, replace-all, lowering)."""
    import re

    from nycdb_k8s_loader_spark.operators.textops import (
        PII_EMAIL,
        PII_IPV4,
        PII_PHONE,
        pii_scrub,
    )

    texts = [" ".join(f) for f in frags]
    rows = [(i, t) for i, t in enumerate(texts)]
    out = {
        r["doc_id"]: r
        for r in pii_scrub(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    for i, t in rows:
        exp_e = len(re.findall(PII_EMAIL, t))
        exp_p = len(re.findall(PII_PHONE, t))
        exp_i = len(re.findall(PII_IPV4, t))
        red = re.sub(
            PII_IPV4,
            "[IP]",
            re.sub(
                PII_PHONE, "[PHONE]", re.sub(PII_EMAIL, "[EMAIL]", t)
            ),
        )
        r = out[i]
        assert (r["n_emails"], r["n_phones"], r["n_ipv4"]) == (
            exp_e, exp_p, exp_i,
        ), t
        assert r["redacted"] == red, t
        assert r["has_pii"] == ((exp_e + exp_p + exp_i) > 0)


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c"]), min_size=1, max_size=10
        ),
        min_size=1,
        max_size=6,
    )
)
@SETTINGS
def test_repetition_scores_match_python_model(spark, docs):
    """repetition_scores vs a pure-Python shingle-count model over a
    3-letter alphabet (maximal gram collisions — the adversarial
    domain for the dup/top fraction arithmetic and the short-doc
    truncated-gram rule)."""
    from nycdb_k8s_loader_spark.operators.textops import repetition_scores

    rows = [(i, " ".join(w)) for i, w in enumerate(docs)]
    out = {
        r["doc_id"]: r
        for r in repetition_scores(
            spark.createDataFrame(rows, "doc_id long, text string"),
            shingles=3,
        ).collect()
    }
    for i, w in enumerate(docs):
        grams = (
            [" ".join(w[j:j + 3]) for j in range(len(w) - 2)]
            if len(w) >= 3
            else [" ".join(w)]
        )
        total = len(grams)
        distinct = len(set(grams))
        top = max(grams.count(g) for g in set(grams))
        r = out[i]
        assert r["n_ngrams"] == total
        assert r["dup_ngram_frac"] == round(1 - distinct / total, 4)
        assert r["top_ngram_frac"] == round(top / total, 4)


@given(
    n=st.integers(min_value=1, max_value=10**12),
    m=st.integers(min_value=1, max_value=10**12),
    sim=st.floats(min_value=0.05, max_value=0.95),
)
@settings(max_examples=200, deadline=None)
def test_bands_for_policy_invariants(n, m, sim):
    """bands_for (the live banded-dedup default since round 7) must be
    (a) well-formed for ANY corpus size and target similarity — bands
    divide num_hashes, signature width within the 128-perm family —
    and (b) monotone: more docs never loosens the banding (rows-per-
    band non-decreasing in n at fixed sim; band count non-decreasing
    too EXCEPT when pinned at its 128//r cap, which shrinks as
    r grows — the documented accept-threshold-drift trade)."""
    from nycdb_k8s_loader_spark.operators.dedup import (
        MINHASH_PERMS,
        bands_for,
    )

    nh, b = bands_for(n, target_sim=sim)
    assert nh % b == 0
    assert b >= 2
    assert 2 <= nh // b <= 8
    assert nh <= len(MINHASH_PERMS)
    nh2, b2 = bands_for(max(n, m), target_sim=sim)
    nh1, b1 = bands_for(min(n, m), target_sim=sim)
    assert nh2 // b2 >= nh1 // b1
    assert b2 >= b1 or b2 == 128 // (nh2 // b2)


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 50), st.text("ab ", min_size=1,
                                              max_size=30)),
        min_size=1, max_size=25, unique_by=lambda t: t[0],
    ),
    ngram=st.integers(min_value=2, max_value=4),
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_hashed_gram_pass_matches_string_pass(spark, pairs, ngram):
    """t13's hashed-gram frequency pass (round 7) is a pure physical
    rewrite: identical duplicated-span starts to the string form on
    arbitrary small corpora, including degenerate repeated-token
    texts."""
    from nycdb_k8s_loader_spark.operators.dedup import (
        duplicated_span_starts,
    )

    docs = spark.createDataFrame(pairs, "doc_id long, text string")
    a = sorted(map(tuple, duplicated_span_starts(
        docs, ngram=ngram, min_count=2
    ).collect()))
    b = sorted(map(tuple, duplicated_span_starts(
        docs, ngram=ngram, min_count=2, hashed_grams=True
    ).collect()))
    assert a == b


@given(
    rects=st.lists(
        st.tuples(
            st.integers(0, 60), st.integers(0, 60),   # subject x0, y0 (quarters)
            st.integers(1, 30), st.integers(1, 30),   # subject w, h
            st.integers(0, 60), st.integers(0, 60),   # clip x0, y0
            st.integers(1, 30), st.integers(1, 30),   # clip w, h
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_convex_clip_area_matches_rect_algebra(spark, rects):
    """geo06's Sutherland–Hodgman fold, checked against an
    independent decision procedure on arbitrary quarter-aligned
    axis-aligned rectangles (exact in doubles): clip area ==
    max(0, overlap_w) * max(0, overlap_h) — including touching
    edges (zero area), containment, and identity."""
    from nycdb_k8s_loader_spark.operators.geo import (
        _ccw,
        _open_ring,
        _ring_edges,
        convex_clip_ring_pre,
        parse_wkt_polygon,
        ring_area,
    )

    def wkt(x0, y0, w, h):
        x0, y0, w, h = x0 / 4, y0 / 4, w / 4, h / 4
        x1, y1 = x0 + w, y0 + h
        return (f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, "
                f"{x0} {y1}, {x0} {y0}))")

    rows, want = [], []
    for i, (sx, sy, sw, sh, cx, cy, cw, ch) in enumerate(rects):
        rows.append((i, wkt(sx, sy, sw, sh), wkt(cx, cy, cw, ch)))
        ow = max(0.0, min(sx + sw, cx + cw) / 4 - max(sx, cx) / 4)
        oh = max(0.0, min(sy + sh, cy + ch) / 4 - max(sy, cy) / 4)
        want.append((i, ow * oh))
    df = spark.createDataFrame(rows, "i long, ws string, wc string")
    # fold fenced into its own column as every operator composes it
    # (r14): the unfenced form inlined ~8 copies of the clip tree into
    # ring_area's structural references — ~57 s of fixed plan/codegen
    # PER EXAMPLE for identical executed math
    clipped = F.when(
        F.spark_partition_id() >= 0,
        convex_clip_ring_pre(
            _ccw(_open_ring(parse_wkt_polygon("ws"))),
            _ring_edges(_ccw(_open_ring(parse_wkt_polygon("wc")))),
        ),
    )
    got = sorted(
        (r["i"], r["a"])
        for r in df.select("i", clipped.alias("__c"))
        .select("i", ring_area(F.col("__c")).alias("a"))
        .collect()
    )
    assert [(i, round(a, 9)) for i, a in got] == sorted(want)
