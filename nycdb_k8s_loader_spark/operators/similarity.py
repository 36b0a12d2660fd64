"""Similarity search over embedding columns (north-star pack).

Approximate-nearest-neighbor over ``array<float>`` embeddings:
brute-force cosine top-k as the correctness baseline, and a
sign-bucket LSH variant as the scale path. All arithmetic is
JVM-side array expressions (``zip_with`` + sequential ``aggregate``
fold) — empirically bit-identical to DuckDB's
``list_cosine_similarity`` on DOUBLE[], which makes exact oracles
possible.

Scale design (100 TB / billions of vectors):
- brute-force is O(Q×N): the query set is broadcast, the corpus
  streams; per-query top-k via window on qid — fine for thousands of
  queries, pathological beyond.
- LSH buckets: deterministic sign-bit bucket over the first B
  dimensions (axis-aligned random-hyperplane LSH). The bucket join is
  an equi-join — shuffle on a small int key — and cuts candidate sets
  by ~2^B. More planes → IVF-style partition pruning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_double_vec(col: str = "embedding") -> Column:
    """Promote array<float> → array<double> so the fold matches the
    oracle's DOUBLE[] arithmetic exactly."""
    return F.transform(F.col(col), lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, z: acc + z
    )


def cosine(a: Column, b: Column) -> Column:
    # try_divide: an all-zero vector has no direction — NULL cosine
    # (comparisons false, never a match) instead of Spark 4 ANSI's
    # job-aborting DIVIDE_BY_ZERO (the gopher zero-word lesson).
    return F.try_divide(dot(a, b), F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def unit_vec(v: Column) -> Column:
    """L2-normalize a vector column. All-zero vectors yield an
    all-NULL array (no direction) via try_divide — downstream dots
    against NULL compare false, so zero vectors simply never match;
    a plain `/` would abort the whole job under Spark 4's default
    ANSI mode (DIVIDE_BY_ZERO), which is fatal for a dedup pass
    whose input may contain junk embeddings."""
    return F.transform(v, lambda x: F.try_divide(x, F.sqrt(dot(v, v))))


def sign_bucket(vec: Column, n_bits: int = 6) -> Column:
    """Axis-aligned hyperplane LSH bucket: bit i set iff vec[i] > 0.

    Deterministic (no RNG) so the DuckDB oracle reproduces it; random
    rotations would improve balance but break cross-engine parity —
    at deploy time swap in fixed pseudo-random hyperplanes shipped as
    a literal matrix.
    """
    bits = [
        F.when(F.element_at(vec, i + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(n_bits)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def _norm_vecs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    bucketed: bool,
    n_bits: int,
) -> DataFrame:
    # Staged selects: materialize v once, then the norm once per
    # vector — cosine per candidate is then ONE dot product, not three
    # (norms recomputed per pair measured ~3x slower on the half-
    # matrix forms). Same expression tree per value, so results are
    # bit-identical to the fold-per-pair form.
    vecs = emb.select(F.col(id_col), as_double_vec(vec_col).alias("v"))
    vecs = vecs.select(
        F.col(id_col),
        "v",
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"),
    )
    if bucketed:
        vecs = vecs.withColumn("bucket", sign_bucket(F.col("v"), n_bits))
    return vecs


def cosine_topk(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucketed: bool = False,
    n_bits: int = 6,
    candidate_filter: Column | None = None,
) -> DataFrame:
    """Top-k cosine neighbors per query vector.

    ``bucketed=False``: exact brute force (broadcast queries × corpus).
    ``bucketed=True``: candidates restricted to the query's LSH bucket.
    ``candidate_filter``: attribute predicate over the ORIGINAL emb
    columns restricting the CANDIDATE side only (filtered vector
    search — "nearest English docs", "same-tenant vectors"); the
    predicate applies before vector math, so it pushes down to the
    candidate scan and the pruned candidate set shrinks further.
    Queries are never filtered by it.
    Rank is (rounded cosine DESC, neighbor id ASC) — a total order, so
    results are deterministic and oracle-stable. Self-matches excluded.
    """
    vecs = _norm_vecs(emb, id_col, vec_col, bucketed, n_bits)
    cand_vecs = (
        _norm_vecs(
            emb.filter(candidate_filter), id_col, vec_col, bucketed, n_bits
        )
        if candidate_filter is not None
        else vecs
    )

    q = vecs
    if query_ids is not None:
        q = q.filter(F.col(id_col).isin(query_ids))
    q = q.select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        *([F.col("bucket").alias("qbucket")] if bucketed else []),
    )
    c = cand_vecs.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.col("nrm").alias("nn"),
        *([F.col("bucket")] if bucketed else []),
    )

    if bucketed:
        joined = c.join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
    else:
        joined = c.crossJoin(F.broadcast(q))

    joined = joined.filter(F.col("query_id") != F.col("neighbor_id"))
    cos_r = F.round(
        F.try_divide(dot(F.col("qv"), F.col("nv")),
                     F.col("qn") * F.col("nn")), 6
    )
    scored = joined.select("query_id", "neighbor_id", cos_r.alias("cos_sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact_allpairs: bool = False,
) -> DataFrame:
    """Pairs with cosine ≥ threshold (embedding-cosine near-dup).

    DEFAULT (``exact_allpairs=False``) routes through
    :func:`embedding_neardup_pairs_bucketed` — sign-bucket LSH
    prefilter + per-bucket exact GEMM, the scale path (round-4 flip,
    verdict item 5: the brute form is quadratic and must be asked for
    by name). ``exact_allpairs=True`` is the O(n²) brute-force
    half-matrix — exact, kept as the oracle baseline for d04 and the
    equivalence tests of the bucketed/blocked twins. Ids only in the
    output either way, so the oracle compare never touches float
    representations.
    """
    if not exact_allpairs:
        return embedding_neardup_pairs_bucketed(
            emb, threshold=threshold, id_col=id_col, vec_col=vec_col
        )
    vecs = emb.select(F.col(id_col), as_double_vec(vec_col).alias("v"))
    vecs = vecs.select(
        F.col(id_col),
        "v",
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"),
    )
    a = vecs.select(
        F.col(id_col).alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = vecs.select(
        F.col(id_col).alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    cos = F.try_divide(
        dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cos >= threshold)
        .select("id_a", "id_b")
    )


def label_centroids(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label centroid, exploded to (label, pos, avg_val) rows.

    posexplode → per-(label, dim) mean: one shuffle keyed on
    (label, pos); at billion-vector scale this is the map-side-combined
    reduction you want (a vector-valued agg would serialize whole
    arrays through the shuffle instead of scalar partials).
    """
    exploded = emb.select(
        F.col(label_col), F.posexplode(as_double_vec(vec_col)).alias("pos0", "val")
    ).select(F.col(label_col), (F.col("pos0") + 1).alias("pos"), F.col("val"))
    return exploded.groupBy(label_col, "pos").agg(
        F.round(F.avg("val"), 6).alias("avg_val")
    )


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    nprobe: int = 1,
) -> DataFrame:
    """IVF-style ANN: coarse quantizer → probe one cell → exact top-k
    inside it.

    The inverted-file index's cells are the ``label_col`` partitions
    and the quantizer is their centroids (at deploy time the labels
    come from a k-means pass; here they ship with the data, which
    keeps the oracle deterministic — k-means itself is
    initialization-order-sensitive). Each query probes its nearest
    centroid (cosine, rounded 6dp, label-asc tiebreak ⇒ total order)
    and searches only that cell: with C balanced cells this scans
    N/C ≈ corpus/cells candidates per query instead of N — the
    IVF partition-pruning path, complementary to s02's hyperplane-LSH
    bucketing.

    Physical shape: centroids are a C×dim table built with one
    scalar-partial shuffle (label_centroids) and broadcast; the
    cell search is an equi-join on the cell id — shuffle carries
    (cell, query) pairs only, never the corpus twice.

    ``nprobe`` is the IVF recall dial: probe the top-n centroids
    instead of one, scanning n·N/C candidates per query — the
    standard recall/latency trade (a near-boundary query's true
    neighbors sit in the SECOND-closest cell; multi-probe recovers
    them at linear extra cost, still ≪ brute force).
    """
    vecs = emb.select(
        F.col(id_col), F.col(label_col), as_double_vec(vec_col).alias("v")
    )
    cents = (
        label_centroids(emb, id_col=id_col, vec_col=vec_col, label_col=label_col)
        .groupBy(label_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "avg_val"))),
                lambda s: s["avg_val"],
            ).alias("cv")
        )
    )
    q = vecs
    if query_ids is not None:
        q = q.filter(F.col(id_col).isin(query_ids))
    q = q.select(F.col(id_col).alias("query_id"), F.col("v").alias("qv"))

    probe_score = F.round(cosine(F.col("qv"), F.col("cv")), 6)
    wq = Window.partitionBy("query_id").orderBy(
        probe_score.desc(), F.col(label_col).asc()
    )
    assigned = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "qv", F.col(label_col).alias("cell"))
    )

    cands = vecs.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("cell"),
        F.col("v").alias("nv"),
    )
    # assigned is query-scale by construction (|query_ids| x nprobe);
    # broadcast it EXPLICITLY — Catalyst's estimate for the corpus side
    # (cands) inherits the scan's sizeInBytes and could otherwise win
    # the broadcast choice at any true size (PERFORMANCE.md round-7:
    # the derived-size broadcast bomb)
    scored = (
        F.broadcast(assigned).join(cands, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "cell",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("nv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cell", "neighbor_id", "rank", "cos_sim")
    )


def _gemm_pair_emitter(threshold: float):
    """The shared Arrow-batched GEMM kernel behind every blocked pair
    stage (d08's blocked/bucketed forms and d12's per-cluster blocks):
    each input row carries two packed blocks of unit vectors; one
    numpy matrix product per row emits the oriented ``id_a < id_b``
    pairs whose unit-dot (== cosine) clears ``threshold``.

    Diagonal blocks (blk_a == blk_b) keep the strict upper triangle —
    each pair appears twice there, plus self-pairs; off-diagonal
    blocks see each cross pair exactly once but unordered, so they
    orient via min/max.
    """

    def gemm(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_a, out_b = [], []
            for row in pdf.itertuples(index=False):
                ids_a = np.asarray(row.ids_a, dtype=np.int64)
                ids_b = np.asarray(row.ids_b, dtype=np.int64)
                A = np.asarray([np.asarray(x) for x in row.us_a])
                B = np.asarray([np.asarray(x) for x in row.us_b])
                sims = A @ B.T
                ii, jj = np.nonzero(sims >= threshold)
                ia, ib = ids_a[ii], ids_b[jj]
                if row.blk_a == row.blk_b:
                    keep = ia < ib
                    ia, ib = ia[keep], ib[keep]
                else:
                    ia, ib = np.minimum(ia, ib), np.maximum(ia, ib)
                out_a.append(ia)
                out_b.append(ib)
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                    }
                )

    return gemm


def embedding_neardup_pairs_blocked(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 16,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold via blocked matrix products.

    Same pair set as :func:`embedding_neardup_pairs`, different
    physical plan: vectors are unit-normalized map-side, packed into
    ``n_blocks`` groups, and the B(B+1)/2 block *pairs* — not the
    O(n²) vector pairs — are what crosses the shuffle. Each task then
    computes one numpy GEMM (Arrow-batched ``mapInPandas``) over its
    two blocks and emits only the ids above threshold.

    This is the standard exact-dedup shape at scale: candidate work is
    still quadratic (it must be — the result is exact), but the
    shuffle volume is O(n·d) (each block shipped B times), per-task
    memory is two blocks, and the inner loop is BLAS instead of a
    per-pair expression fold (measured 17.5 s → ~1 s at sf0.1).
    Choose n_blocks so a block is ~64–256 MB at deploy scale; the
    half-matrix expression form remains as the oracle-shaped baseline,
    and s02/s04 are the sub-quadratic approximate paths.

    Float safety: GEMM accumulation order differs from the oracle's
    sequential fold by ~1e-15 relative; callers must pick thresholds
    with cross-engine margin (d04's 0.45 sits ≥1e-4 from every pair).
    """
    import pandas as pd  # noqa: F401 — mapInPandas contract

    spark = emb.sparkSession
    vecs = emb.select(F.col(id_col).alias("id"), as_double_vec(vec_col).alias("v"))
    unit = vecs.select(
        "id",
        unit_vec(F.col("v")).alias("u"),
        F.pmod(F.col("id"), F.lit(n_blocks)).alias("blk"),
    )
    packed = unit.groupBy("blk").agg(
        F.collect_list("id").alias("ids"), F.collect_list("u").alias("us")
    )
    a = packed.select(
        F.col("blk").alias("blk_a"),
        F.col("ids").alias("ids_a"),
        F.col("us").alias("us_a"),
    )
    b = packed.select(
        F.col("blk").alias("blk_b"),
        F.col("ids").alias("ids_b"),
        F.col("us").alias("us_b"),
    )
    block_pairs = a.crossJoin(b).filter(F.col("blk_a") <= F.col("blk_b"))
    # Spread the B(B+1)/2 GEMM tasks across the cluster instead of
    # wherever the tiny crossJoin landed them.
    block_pairs = block_pairs.repartition(
        min(int(spark.conf.get("spark.sql.shuffle.partitions")),
            n_blocks * (n_blocks + 1) // 2)
    )
    return block_pairs.mapInPandas(
        _gemm_pair_emitter(threshold), "id_a long, id_b long"
    )


def embedding_neardup_pairs_bucketed(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 6,
    n_blocks: int = 4,
) -> DataFrame:
    """Bucketed-exact near-dup pairs: sign-bucket LSH prefilter
    composed in front of the blocked GEMM — the scale-safe form of
    :func:`embedding_neardup_pairs_blocked`.

    Candidate pairs are restricted to same-bucket collisions
    (axis-aligned hyperplane LSH, 2^n_bits buckets), then each bucket
    runs the exact blocked-GEMM kernel over its own sub-blocks. Work
    drops from C(n,2) to Σ_b C(n_b,2) ≈ n²/2^(n_bits+1) under balanced
    buckets, and — unlike the all-pairs forms — the shuffle never
    crosses buckets. Within a bucket the result is EXACT; across
    buckets, a true near-dup pair is missed only when a near-zero
    coordinate in the first ``n_bits`` dimensions flips sign between
    the twins — the standard LSH recall trade, tightened by more
    planes. Skewed buckets are handled the same way the plain blocked
    form handles the whole corpus: per-bucket sub-blocking (``id %
    n_blocks``), so a hot bucket becomes B(B+1)/2 bounded GEMM tasks
    instead of one giant task.

    This is the d03-bands-for-text trade applied to embeddings: d04
    keeps the exact-all-pairs contract for oracle parity; this
    operator is what you run at 100 TB.
    """
    spark = emb.sparkSession
    vecs = emb.select(F.col(id_col).alias("id"), as_double_vec(vec_col).alias("v"))
    unit = vecs.select(
        "id",
        unit_vec(F.col("v")).alias("u"),
        sign_bucket(F.col("v"), n_bits).alias("bucket"),
        F.pmod(F.col("id"), F.lit(n_blocks)).alias("blk"),
    )
    packed = unit.groupBy("bucket", "blk").agg(
        F.collect_list("id").alias("ids"), F.collect_list("u").alias("us")
    )
    a = packed.select(
        "bucket",
        F.col("blk").alias("blk_a"),
        F.col("ids").alias("ids_a"),
        F.col("us").alias("us_a"),
    )
    b = packed.select(
        "bucket",
        F.col("blk").alias("blk_b"),
        F.col("ids").alias("ids_b"),
        F.col("us").alias("us_b"),
    )
    block_pairs = a.hint("shuffle_hash").join(b, "bucket").filter(
        F.col("blk_a") <= F.col("blk_b")
    )
    try:
        shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError):
        shuffle_n = 200
    block_pairs = block_pairs.repartition(
        min(shuffle_n, (1 << n_bits) * n_blocks * (n_blocks + 1) // 2)
    )
    return block_pairs.mapInPandas(
        _gemm_pair_emitter(threshold), "id_a long, id_b long"
    )


def sq_dist(a: Column, b: Column) -> Column:
    """Sequential-fold squared Euclidean distance (deterministic
    summation order — matches the oracle's list_sum over an in-order
    list_transform)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )


def kmeans_lloyd_step(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One distributed Lloyd iteration of k-means over an embedding
    column: assign every vector to its nearest centroid, then emit the
    recomputed per-dimension centroid means (the IVF coarse-quantizer
    training step behind s04/s06's cell index).

    Init is deterministic — centroids are the vectors with the k
    smallest ids — so reruns and the DuckDB oracle agree; production
    swaps in k-means|| seeds shipped as a literal table. Ties in the
    assignment break on centroid id (min over struct(dist, cid)).

    Scale shape: the k×dim centroid table is broadcast (metadata-
    scale), assignment is a map-side fold per vector — no shuffle, no
    candidate blowup — and the recompute is ONE groupBy on
    (cluster, dim) whose partial aggregation reduces each partition to
    at most k×dim running sums before the exchange. Iterating = loop
    this function with the returned means as the next literal centroid
    table; rounds are driver-bounded like operators/graph.py.

    Output: (cluster_id, dim_idx, centroid_val, n_members) — dim_idx
    is 1-based to match SQL array subscripting.
    """
    vecs = df.select(F.col(id_col).alias("vid"), as_double_vec(vec_col).alias("v"))
    cent_arr = (
        vecs.filter(F.col("vid") < k)
        .select(F.col("vid").alias("cid"), F.col("v").alias("c"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("cid", "c"))
            ).alias("cents")
        )
    )
    # Map-side assignment: per vector, fold the broadcast centroid
    # array into array<struct<d2,cid>> and take the struct-min —
    # lexicographic (d2, cid) gives the deterministic tie-break. The
    # full-data crossJoin→groupBy argmin alternative would shuffle
    # every vector once per iteration; this shape shuffles nothing.
    assigned = vecs.crossJoin(F.broadcast(cent_arr)).select(
        F.array_min(
            F.transform(
                "cents",
                lambda ct: F.struct(
                    sq_dist(F.col("v"), ct["c"]).alias("d2"),
                    ct["cid"].alias("cid"),
                ),
            )
        )["cid"].alias("cid"),
        "v",
    )
    per_dim = assigned.select(
        "cid", F.posexplode("v").alias("pos", "x")
    ).select("cid", (F.col("pos") + 1).cast("long").alias("dim_idx"), "x")
    sizes = assigned.groupBy("cid").agg(F.count("*").alias("n_members"))
    return (
        per_dim.groupBy("cid", "dim_idx")
        # + 0.0 folds IEEE -0.0 to +0.0 (DuckDB's ROUND keeps the
        # sign; a "-0.0000" vs "0.0000" text hash would diverge).
        .agg((F.round(F.avg("x"), 4) + F.lit(0.0)).alias("centroid_val"))
        .join(F.broadcast(sizes), "cid")
        .select(
            F.col("cid").alias("cluster_id"),
            "dim_idx",
            "centroid_val",
            "n_members",
        )
    )


def knn_label_vote(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN classification by majority vote over cosine neighbors —
    the label-propagation / weak-supervision step of a data pipeline
    (tag unlabeled examples from their nearest labeled neighbors).

    Composition: :func:`cosine_topk` neighbor lists ⋈ corpus labels →
    per-(query, label) vote counts → deterministic argmax (votes DESC,
    label ASC). Returns (query_id, true_label, pred_label, votes).

    Scale shape: the neighbor frame is Q×k rows (tiny next to the
    corpus), so both the label join and the final true-label join
    broadcast the small side; the only corpus-scale work is the
    neighbor search itself, which inherits cosine_topk's
    broadcast-queries × corpus-scan plan (or its LSH-bucketed twin).
    """
    from pyspark.sql import Window

    nbrs = cosine_topk(emb, query_ids=query_ids, k=k,
                       id_col=id_col, vec_col=vec_col)
    labels = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).cast("long").alias("nbr_label"),
    )
    votes = (
        F.broadcast(nbrs)
        .join(labels, "neighbor_id")
        .groupBy("query_id", "nbr_label")
        .agg(F.count("*").alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("nbr_label").asc()
    )
    pred = (
        votes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "query_id",
            F.col("nbr_label").alias("pred_label"),
            "votes",
        )
    )
    truth = emb.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).cast("long").alias("true_label"),
    )
    return F.broadcast(pred).join(truth, "query_id").select(
        "query_id", "true_label", "pred_label", "votes"
    )


def _assign_two_level(
    vecs: DataFrame, cents: list[list[float]], coarse_cells: int
) -> DataFrame:
    """Two-level centroid assignment (see semantic_dedup docstring):
    centroids are cut into ``coarse_cells`` contiguous chunks, each
    summarized by its mean; per row, argmin over the chunk means picks
    a cell, then argmin over only that cell's members picks the
    cluster. O(n·(c + k/c)·dim) vs the flat form's O(n·k·dim);
    approximate at cell boundaries (the IVF nprobe=1 trade)."""
    k = len(cents)
    dim = len(cents[0])
    chunk = -(-k // coarse_cells)  # ceil
    cells = []
    for ci in range(0, k, chunk):
        members = [(cid, cents[cid]) for cid in range(ci, min(ci + chunk, k))]
        mean = [
            sum(c[d] for _cid, c in members) / len(members)
            for d in range(dim)
        ]
        cells.append((ci // chunk, mean, [
            (cid, [float(x) for x in c]) for cid, c in members
        ]))
    spark = vecs.sparkSession
    cells_arr = spark.createDataFrame(
        [(
            [(idx, [float(x) for x in mean]) for idx, mean, _m in cells],
            [m for _idx, _mean, m in cells],
        )],
        "cells array<struct<idx:int,cc:array<double>>>, "
        "subs array<array<struct<cid:int,c:array<double>>>>",
    )
    best_idx = F.array_min(
        F.transform(
            "cells",
            lambda cl: F.struct(
                sq_dist(F.col("v"), cl["cc"]).alias("d2"),
                cl["idx"].alias("idx"),
            ),
        )
    )["idx"]
    return (
        vecs.crossJoin(F.broadcast(cells_arr))
        .withColumn("__subs", F.element_at(F.col("subs"), best_idx + 1))
        .select(
            "vid",
            "v",
            F.array_min(
                F.transform(
                    "__subs",
                    lambda ct: F.struct(
                        sq_dist(F.col("v"), ct["c"]).alias("d2"),
                        ct["cid"].alias("cid"),
                    ),
                )
            )["cid"].alias("cid"),
        )
    )


def _cluster_blocks(assigned: DataFrame, max_block_rows: int) -> DataFrame:
    """Sub-block a clustered vector frame for the GEMM pair stage:
    each cluster of size n_c gets ``nb = ceil(n_c / max_block_rows)``
    blocks (``blk = id % nb``), so no (cid, blk) cell ever packs more
    than ~max_block_rows vectors and no GEMM task exceeds
    ``max_block_rows²`` dot products. Input: (vid, v, cid); output:
    (cid, id, u, nb, blk) with u unit-normalized.

    r13: n_c comes from ``count(*) over (partition by cid)`` on the
    already-cid-partitioned input — ONE pass. The previous
    groupBy+broadcast-join shape re-executed the whole upstream
    assignment subtree for the size aggregate (column pruning forks
    the two branches into distinct exchanges, so exchange reuse never
    applied). Buffering note: the window groups whole clusters per
    task — the same colocation the downstream (cid-keyed) block-pair
    join already forces, so no new skew exposure.
    """
    w = Window.partitionBy("cid")
    return (
        assigned.select(
            "cid",
            F.col("vid").alias("id"),
            unit_vec(F.col("v")).alias("u"),
            F.ceil(F.count("*").over(w) / F.lit(max_block_rows))
            .cast("int")
            .alias("nb"),
        )
        .withColumn("blk", F.pmod(F.col("id"), F.col("nb")))
    )


def _assign_flat(vecs: DataFrame, cents: list[list[float]]) -> DataFrame:
    """Map-side flat centroid assignment: the k×dim centroid list rides
    a one-row broadcast frame (NOT per-row literal expressions — a
    k×dim literal array re-materializes per row and measures ~2×
    slower than the broadcast at sf0.1); per row, struct-min over the
    array gives the deterministic (d2, cid) argmin. O(n·k·dim)."""
    spark = vecs.sparkSession
    cent_arr = spark.createDataFrame(
        [([(cid, [float(x) for x in c]) for cid, c in enumerate(cents)],)],
        "cents array<struct<cid:int,c:array<double>>>",
    )
    return vecs.crossJoin(F.broadcast(cent_arr)).select(
        "vid",
        "v",
        F.array_min(
            F.transform(
                "cents",
                lambda ct: F.struct(
                    sq_dist(F.col("v"), ct["c"]).alias("d2"),
                    ct["cid"].alias("cid"),
                ),
            )
        )["cid"].alias("cid"),
    )


def _spread_small_scan(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition a compute-heavy input UP to defaultParallelism
    when the scan delivers fewer partitions (r14, guide §2:
    scale-adaptive partitioning — derive from input, don't constant-
    tune). A single-row-group parquet file scans as ONE task no matter
    the core count, and every per-row argmin fold downstream
    (O(n·k·dim) sq_dist per Lloyd round AND the final assignment)
    serializes on that task; measured at sf0.1 this was d12's whole
    critical path (4.19 s → 3.17 s warm just from the spread). At
    cluster scale the embedding table already arrives with >=
    defaultParallelism scan partitions, so the branch is a no-op —
    no shuffle is added. Keyed on the id (deterministic hash
    placement — guide §2.5's retry-safety note), never round-robin."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par, F.col(key))


def _lloyd_refine(
    vecs: DataFrame, cents: list[list[float]], lloyd_iters: int
) -> list[list[float]]:
    """``lloyd_iters`` deterministic Lloyd rounds over ``vecs``:
    flat-assign, recompute per-dim means rounded to 4 decimals (the
    catalog's cross-engine convention), carry empty clusters forward.
    Centroids live as driver-side k×dim lists between rounds
    (metadata-scale; one aggregate job per round).

    r14 (guide §2.4/§1): the rounds run like the graph loops — the
    training frame is checkpointed ONCE on the caller's session (each
    round previously re-executed the scan + spread exchange; Spark
    ML's own KMeans persists its input for the same reason) and the
    per-round aggregate queries plan on the caller's loop session
    (graph module docstring, "Loop session"): every round's output is
    k×dim rows, so wide shuffles are pure scheduling overhead here.
    The checkpoint is released the moment training ends — nothing
    downstream references it. Centroid math is untouched:
    trajectories are bit-identical (pinned by the oracle)."""
    if lloyd_iters <= 0:
        return cents
    from nycdb_k8s_loader_spark.operators.graph import (
        _on_loop_session,
        release_local_checkpoint,
    )

    ck = vecs.localCheckpoint(eager=True)
    try:
        (lck,) = _on_loop_session(ck)
        for _ in range(lloyd_iters):
            # + 0.0 folds IEEE -0.0 to +0.0 (kmeans_lloyd_step's
            # cross-engine convention)
            means = (
                _assign_flat(lck, cents)
                .select("cid", F.posexplode("v").alias("pos", "x"))
                .groupBy("cid", "pos")
                .agg((F.round(F.avg("x"), 4) + F.lit(0.0)).alias("m"))
                .collect()
            )
            # empty clusters carry over
            new_cents = [list(c) for c in cents]
            by_cid: dict[int, list] = {}
            for r in means:
                by_cid.setdefault(r["cid"], []).append((r["pos"], r["m"]))
            for cid, pm in by_cid.items():
                new_cents[cid] = [m for _pos, m in sorted(pm)]
            cents = new_cents
    finally:
        release_local_checkpoint(ck)
    return cents


def _semdedup_prune(
    assigned: DataFrame,
    threshold: float,
    max_block_rows: int,
    id_col: str,
) -> DataFrame:
    """The shared within-cluster prune of semantic_dedup and its
    sampled production twin: sub-block each cluster
    (:func:`_cluster_blocks`), run the d08 GEMM kernel per
    (cluster, block-pair), mark every vector some smaller-id
    same-cluster vector matches at cosine >= threshold."""
    # r13 (guide §2.4): ONE explicit repartition on cid feeds the
    # block machinery — window-based sizing (see _cluster_blocks),
    # packing (cid,blk — clustering satisfied, no further exchange),
    # and both sides of the block-pair self-join (identical subplans
    # → the cid exchange is planned once and REUSED, so the
    # (expensive at scale) centroid-assignment pass runs once for the
    # whole GEMM stage instead of four times). The keep-mark spine
    # below stays on the un-repartitioned frame: its pruned (vid,cid)
    # projection can never share the wide exchange (column pruning
    # forks it), and vid-partitioning is what its join needs anyway.
    unit = _cluster_blocks(assigned, max_block_rows)
    packed = unit.groupBy("cid", "blk").agg(
        F.collect_list("id").alias("ids"), F.collect_list("u").alias("us")
    )
    a = packed.select(
        "cid",
        F.col("blk").alias("blk_a"),
        F.col("ids").alias("ids_a"),
        F.col("us").alias("us_a"),
    )
    b = packed.select(
        "cid",
        F.col("blk").alias("blk_b"),
        F.col("ids").alias("ids_b"),
        F.col("us").alias("us_b"),
    )
    block_pairs = a.hint("shuffle_hash").join(b, "cid").filter(
        F.col("blk_a") <= F.col("blk_b")
    )
    dup = (
        block_pairs.mapInPandas(
            _gemm_pair_emitter(threshold), "id_a long, id_b long"
        )
        .select(F.col("id_b").alias("vid"))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return (
        assigned.select("vid", "cid")
        .join(dup.hint("shuffle_hash"), "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            F.col("cid").alias("cluster_id"),
            F.coalesce(~F.col("__dup"), F.lit(True)).alias("is_kept"),
        )
    )


def semantic_dedup(
    emb: DataFrame,
    k: int = 8,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 2,
    max_block_rows: int = 4096,
    coarse_cells: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup: cluster the embedding space
    coarsely (deterministic seeds + ``lloyd_iters`` Lloyd refinement
    rounds — the s07 machinery iterated), then prune near-duplicates
    WITHIN each cluster by exact cosine, keeping the smallest id of
    every close group.

    Returns one row per vector: ``(vec_id, cluster_id, is_kept)``
    where ``is_kept`` is false iff some smaller-id vector in the same
    cluster has cosine >= threshold (the greedy keep-first rule —
    deterministic, no transitive closure; the closure form is d09's
    component machinery if needed).

    Seeding: the k SMALLEST ids (rank-based — any id space works, not
    just 0..k-1), renumbered to cluster ids 0..k-1; empty input fails
    loudly instead of silently assigning null clusters. Refinement:
    each Lloyd round recomputes per-dimension centroid means rounded
    to 4 decimals (the catalog's cross-engine convention, so the
    DuckDB oracle replays the identical trajectory); clusters that
    lose every member keep their previous centroid. Centroids live as
    DRIVER-side k×dim literals between rounds (the "k-means seeds
    shipped as a literal table" form kmeans_lloyd_step documents):
    collecting ≤ k×dim doubles per round is metadata-scale, costs ONE
    job per Lloyd round (the mean aggregate), and embeds the next
    round's centroids as literal arrays — no per-round checkpoint, no
    nested lineage, and the final plan's assignment is a pure
    projection.

    100 TB shape: assignment is map-side (literal k×dim centroid
    array folded in-row via struct-min — no shuffle, no join; one
    corpus scan per Lloyd round, driver-bounded like
    operators/graph.py); each mean recompute is one partial-agg
    groupBy reducing to ≤ k×dim sums before the exchange.
    The pairwise stage is keyed by (cluster, block): every cluster is
    cut into ``ceil(n_c / max_block_rows)`` sub-blocks and pairs flow
    through the d08 GEMM machinery (`_gemm_pair_emitter`), so a
    pathologically hot cluster becomes B(B+1)/2 bounded tasks of at
    most ``max_block_rows²`` dot products each instead of one
    C(n_c, 2) straggler — candidate work stays Σ_c C(n_c, 2) (the
    SemDeDup trade; k scales with corpus size) but no single task
    exceeds the block budget and the shuffle never crosses clusters.

    Float note: the GEMM accumulates in BLAS order (~1e-15 relative
    vs the oracle's sequential fold); thresholds need the same
    cross-engine margin d08 documents.

    Scale hinge (measured in BENCH_sf1.json): under the scaled-k
    policy (k ∝ corpus, constant cluster size) the pair stage is
    linear but the FLAT broadcast-argmin assignment costs O(n·k·dim) —
    quadratic in n. ``coarse_cells=c`` switches the FINAL assignment
    to a two-level argmin (the IVF idea applied to assignment):
    centroids are grouped into c coarse cells (contiguous cid chunks,
    cell centroid = chunk mean), a row first argmins over the c cell
    centroids, then over only that cell's ~k/c members — O(n·(c+k/c)·
    dim), minimized at c≈√k. The pick is APPROXIMATE exactly the way
    IVF nprobe=1 is (a row near a cell boundary may land in the
    second-best cell), so the oracle-pinned catalog entry keeps the
    flat form and the two-level form is the documented production
    path for scaled k (bench_scale.py measures both). Lloyd rounds
    always use the flat argmin — they run on rounded metadata-scale
    centroid state and their cost is bounded by lloyd_iters.
    """
    vecs = _spread_small_scan(
        emb.select(
            F.col(id_col).alias("vid"), as_double_vec(vec_col).alias("v")
        ),
        "vid",
    )
    # Seeds: the k smallest ids, renumbered 0..k-1 — collected to the
    # driver (k×dim doubles, metadata-scale).
    seed_rows = vecs.orderBy("vid").limit(k).collect()
    if not seed_rows:
        raise ValueError(
            "semantic_dedup: no centroid seeds — embedding input is empty"
        )
    cents: list[list[float]] = [list(r["v"]) for r in seed_rows]

    cents = _lloyd_refine(vecs, cents, lloyd_iters)

    if coarse_cells and coarse_cells < k:
        assigned = _assign_two_level(vecs, cents, coarse_cells)
    else:
        assigned = _assign_flat(vecs, cents)
    return _semdedup_prune(assigned, threshold, max_block_rows, id_col)


def semantic_dedup_sampled(
    emb: DataFrame,
    k: int = 8,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 2,
    max_block_rows: int = 4096,
    train_per_centroid: int = 32,
    coarse_cells: int | None = None,
) -> DataFrame:
    """The PRODUCTION form of :func:`semantic_dedup` for scaled k
    (k ∝ corpus so E[cluster size] stays constant — the SemDeDup
    deployment policy): train on a sample, assign through the s04 IVF
    machinery. Same output contract: ``(vec_id, cluster_id,
    is_kept)``.

    Why the flat form breaks at scaled k (measured ×4.7 on a ×3 step,
    BENCH_sf3.json): Lloyd rounds and the final assignment each cost
    O(n·k·dim) — quadratic in n once k ∝ n. This form caps BOTH:

    - **sampled train**: Lloyd refinement runs over a deterministic
      hash-bucketed sample of ~``train_per_centroid × k`` vectors
      (``xxhash64(id) % mod == 0`` — reproducible, no RNG; the
      standard faiss/IVF practice of training the quantizer on
      39–256 points per centroid). Training cost is O(k²·dim·iters)
      regardless of corpus size.
    - **IVF assignment**: the full corpus assigns through
      :func:`_assign_two_level` — argmin over ``coarse_cells ≈ √k``
      cell means, then over only that cell's ~√k members —
      O(n·√k·dim) instead of O(n·k·dim). Approximate exactly the way
      IVF nprobe=1 is (cell-boundary rows may land in the second-best
      cell); :func:`semdedup_agreement` is the committed audit of how
      often that changes a verdict.

    The prune stage is unchanged (cluster-blocked GEMM — already
    linear at constant cluster size). Seeds are the k smallest SAMPLE
    ids, so the trajectory is deterministic and the agreement audit is
    rerun-stable. The oracle-pinned catalog d12 keeps the flat form;
    this is what you run at 100 TB.
    """
    vecs = _spread_small_scan(
        emb.select(
            F.col(id_col).alias("vid"), as_double_vec(vec_col).alias("v")
        ),
        "vid",
    )
    n = vecs.count()
    if n == 0:
        raise ValueError(
            "semantic_dedup_sampled: embedding input is empty"
        )
    target = min(n, max(k * train_per_centroid, 2 * k))
    mod = max(1, n // max(target, 1))
    sample = vecs.filter(F.pmod(F.xxhash64(F.col("vid")), mod) == 0)
    seed_rows = sample.orderBy("vid").limit(k).collect()
    if len(seed_rows) < k:
        # pathological hash skew / tiny corpus: fall back to the full
        # frame for seeding+training rather than under-seeding
        sample = vecs
        seed_rows = vecs.orderBy("vid").limit(k).collect()
    cents = _lloyd_refine(
        sample, [list(r["v"]) for r in seed_rows], lloyd_iters
    )
    c = coarse_cells or max(2, int(k ** 0.5))
    if c < k:
        assigned = _assign_two_level(vecs, cents, c)
    else:
        assigned = _assign_flat(vecs, cents)
    return _semdedup_prune(assigned, threshold, max_block_rows, id_col)


def semdedup_agreement(
    emb: DataFrame,
    k: int = 8,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 2,
    train_per_centroid: int = 32,
) -> DataFrame:
    """s10-style agreement audit of the approximate production form:
    run :func:`semantic_dedup` (flat, exact assignment — the
    oracle-pinned d12 form) and :func:`semantic_dedup_sampled`
    (sampled train + IVF assign) over the same input and report ONE
    row: ``(n_vectors, n_same_verdict, kept_flat, kept_sampled,
    agreement)`` where agreement = fraction of vectors whose
    ``is_kept`` verdict matches. This is the number a production
    rollout gates on — the recall dial is ``train_per_centroid`` /
    ``coarse_cells``, exactly s10's nprobe/bucket-bits pattern.

    Both sides are Q-scale frames joined on the id — metadata-scale
    next to the dedups themselves."""
    flat = semantic_dedup(
        emb, k=k, threshold=threshold, id_col=id_col, vec_col=vec_col,
        lloyd_iters=lloyd_iters,
    ).select(F.col(id_col), F.col("is_kept").alias("kept_flat"))
    prod = semantic_dedup_sampled(
        emb, k=k, threshold=threshold, id_col=id_col, vec_col=vec_col,
        lloyd_iters=lloyd_iters, train_per_centroid=train_per_centroid,
    ).select(F.col(id_col), F.col("is_kept").alias("kept_sampled"))
    return flat.join(prod, id_col).agg(
        F.count("*").alias("n_vectors"),
        F.sum(
            (F.col("kept_flat") == F.col("kept_sampled")).cast("long")
        ).alias("n_same_verdict"),
        F.sum(F.col("kept_flat").cast("long")).alias("kept_flat"),
        F.sum(F.col("kept_sampled").cast("long")).alias("kept_sampled"),
        F.round(
            F.avg((F.col("kept_flat") == F.col("kept_sampled"))
                  .cast("double")), 4
        ).alias("agreement"),
    )


# --- incremental semantic dedup (d14): persisted centroid+member state ------


def semantic_dedup_state(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 2,
    train_per_centroid: int | None = None,
    coarse_cells: int | None = None,
) -> DataFrame:
    """The persistable per-corpus SEMANTIC dedup state — the d12
    analog of :func:`~nycdb_k8s_loader_spark.operators.dedup.
    dedup_signature_state` (round-7 verdict #7): everything the
    incremental embedding probe needs, with the raw corpus never
    re-read. One tall frame ``(vid, kind, cid, u)``:

    - ``kind='centroid'``: the k trained centroids (``cid``,
      ``u`` = centroid coordinates; vid NULL, built with the input's
      actual id type — the d11 meta-row lesson);
    - ``kind='member'``: every corpus vector UNIT-NORMALIZED with its
      cluster assignment — cosine against a member is then one dot
      product;
    - ``kind='meta'``: ONE self-description row (``u`` = ``[k,
      coarse_cells, train_per_centroid]`` as doubles, -1 for None;
      vid/cid NULL) recording the parameterization the state was
      built with — the d11 ``dedup_signature_state`` lesson. A probe
      that assigns a batch through a DIFFERENT coarse/flat path than
      the stored members can land boundary vectors in different
      cluster ids and silently miss near-duplicates, so
      :func:`incremental_semantic_dedup_from_state` resolves
      ``coarse_cells`` from this row and validates any explicit
      argument against it.

    ``train_per_centroid=None`` (default) trains exactly like the
    oracle-pinned d12 (full-corpus Lloyd, rank seeds) so the
    from-state probe is oracle-replayable; an int routes training
    through the :func:`semantic_dedup_sampled` hash-sample policy —
    the production form at scaled k. Write the state once per corpus
    refresh (a published table like any other); each increment then
    costs O(batch + candidates).
    """
    vecs = emb.select(
        F.col(id_col).alias("vid"), as_double_vec(vec_col).alias("v")
    )
    if train_per_centroid is None:
        train = vecs
    else:
        n = vecs.count()
        if n == 0:
            raise ValueError(
                "semantic_dedup_state: embedding input is empty"
            )
        target = min(n, max(k * train_per_centroid, 2 * k))
        mod = max(1, n // max(target, 1))
        train = vecs.filter(F.pmod(F.xxhash64(F.col("vid")), mod) == 0)
        if train.orderBy("vid").limit(k).count() < k:
            train = vecs
    seed_rows = train.orderBy("vid").limit(k).collect()
    if not seed_rows:
        raise ValueError("semantic_dedup_state: no centroid seeds")
    cents = _lloyd_refine(
        train, [list(r["v"]) for r in seed_rows], lloyd_iters
    )
    if coarse_cells and coarse_cells < k:
        assigned = _assign_two_level(vecs, cents, coarse_cells)
    else:
        assigned = _assign_flat(vecs, cents)
    members = assigned.select(
        "vid",
        F.lit("member").alias("kind"),
        F.col("cid").cast("int").alias("cid"),
        unit_vec(F.col("v")).alias("u"),
    )
    spark = emb.sparkSession
    vid_type = emb.schema[id_col].dataType
    cent_rows = spark.createDataFrame(
        [(cid, [float(x) for x in c]) for cid, c in enumerate(cents)],
        "cid int, u array<double>",
    ).select(
        F.lit(None).cast(vid_type).alias("vid"),
        F.lit("centroid").alias("kind"),
        "cid",
        "u",
    )
    meta = spark.range(1).select(
        F.lit(None).cast(vid_type).alias("vid"),
        F.lit("meta").alias("kind"),
        F.lit(None).cast("int").alias("cid"),
        F.array(
            F.lit(float(k)),
            F.lit(float(coarse_cells if coarse_cells is not None else -1)),
            F.lit(float(
                train_per_centroid if train_per_centroid is not None else -1
            )),
        ).alias("u"),
    )
    return members.unionByName(cent_rows).unionByName(meta)


def incremental_semantic_dedup_from_state(
    state: DataFrame,
    batch: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_cells: int | None = None,
) -> DataFrame:
    """Probe an embedding batch against a PERSISTED semantic-dedup
    state (:func:`semantic_dedup_state` output) without retraining —
    the continuous-ingestion loop for embedding dedup. One row per
    batch vector: ``(id_col, cluster_id, is_kept)`` with is_kept
    false iff some corpus member of the batch vector's cluster has
    cosine >= threshold. Intra-batch duplicates are out of scope
    (mirror of incremental_dedup's contract — run semantic_dedup on
    the batch for those); ids must be disjoint across sides.

    ``coarse_cells`` is resolved from the state's own ``kind='meta'``
    self-description row (one tiny collect): the batch MUST assign
    through the same flat/two-level path the stored members did, or
    boundary vectors land in different cluster ids than their stored
    near-duplicates and the probe silently under-reports. An explicit
    argument on a meta-bearing state is VALIDATED against the
    recorded value (contradiction raises); meta-less legacy states
    fall back to the explicit argument as before.

    100 TB shape: centroids come off the state as ONE metadata-scale
    collect (k×dim doubles); batch assignment is the same map-side
    broadcast argmin as d12 (``coarse_cells`` selects the two-level
    IVF form for scaled k); the member probe is one shuffle_hash
    equi-join on cluster id whose candidate count is
    Σ_c n_batch_c · n_member_c — LINEAR in the batch at the constant
    cluster size the scaled-k policy maintains. Per-candidate cosine
    is one unit-vector dot. A pathologically hot cluster can be
    sub-blocked exactly like _cluster_blocks before the join; corpus
    vectors are never re-normalized, re-assigned, or re-read.
    """
    cent_rows = (
        state.filter(F.col("kind") == "centroid")
        .select("cid", "u")
        .orderBy("cid")
        .collect()
    )
    if not cent_rows:
        raise ValueError(
            "incremental_semantic_dedup_from_state: state has no "
            "centroid rows — was it written by semantic_dedup_state?"
        )
    cents = [list(r["u"]) for r in cent_rows]
    k = len(cents)
    meta_rows = (
        state.filter(F.col("kind") == "meta").select("u").limit(2).collect()
    )
    if len(meta_rows) > 1:
        # a double-built or unioned state is NOT "legacy/meta-less":
        # silently skipping resolution here would reintroduce the
        # boundary-miss the meta row exists to prevent (ADVICE r9)
        raise ValueError(
            "incremental_semantic_dedup_from_state: state carries "
            f"{len(meta_rows)}+ meta rows — it looks like two states "
            "unioned or one built twice; rebuild it with "
            "semantic_dedup_state so exactly one self-description "
            "row records the assignment path"
        )
    if len(meta_rows) == 1:
        rec = int(meta_rows[0]["u"][1])
        recorded = None if rec < 0 else rec
        if coarse_cells is not None and coarse_cells != recorded:
            raise ValueError(
                "incremental_semantic_dedup_from_state: explicit "
                f"coarse_cells={coarse_cells} contradicts the state's "
                f"recorded coarse_cells={recorded} — assigning the "
                "batch through a different flat/two-level path than "
                "the stored members silently misses near-duplicates; "
                "drop the argument or rebuild the state"
            )
        coarse_cells = recorded
    vecs = batch.select(
        F.col(id_col).alias("vid"), as_double_vec(vec_col).alias("v")
    )
    if coarse_cells and coarse_cells < k:
        assigned = _assign_two_level(vecs, cents, coarse_cells)
    else:
        assigned = _assign_flat(vecs, cents)
    probe = assigned.select(
        "vid",
        "cid",
        unit_vec(F.col("v")).alias("ub"),
    )
    members = state.filter(F.col("kind") == "member").select(
        F.col("cid"), F.col("u").alias("um")
    )
    dup = (
        probe.hint("shuffle_hash")
        .join(members, "cid")
        .filter(dot(F.col("ub"), F.col("um")) >= F.lit(threshold))
        .select("vid")
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return (
        probe.select("vid", "cid")
        .join(dup.hint("shuffle_hash"), "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            F.col("cid").alias("cluster_id"),
            F.coalesce(~F.col("__dup"), F.lit(True)).alias("is_kept"),
        )
    )


def incremental_semantic_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    k: int = 8,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 2,
    coarse_cells: int | None = None,
) -> DataFrame:
    """Dedup an embedding batch AGAINST an existing corpus — the
    oracle-checkable inline form (d14): computes
    :func:`semantic_dedup_state` on the corpus and delegates to
    :func:`incremental_semantic_dedup_from_state`. A production loop
    persists the state once per corpus refresh and calls the
    from-state form directly (TestIncrementalSemanticState pins that
    the two paths return identical verdicts)."""
    st = semantic_dedup_state(
        corpus, k=k, id_col=id_col, vec_col=vec_col,
        lloyd_iters=lloyd_iters, coarse_cells=coarse_cells,
    )
    return incremental_semantic_dedup_from_state(
        st, batch, threshold=threshold, id_col=id_col, vec_col=vec_col,
        coarse_cells=coarse_cells,
    )


# --- product quantization (s12): ADC scoring over PQ codes -------------------


def _pq_sub_frame(emb: DataFrame, m: int, d: int, id_col: str,
                  vec_col: str) -> DataFrame:
    """(vid, m, sv): every vector cut into its m subvectors of d dims
    — one posexplode over a transform, map-side."""
    v = as_double_vec(vec_col)
    return emb.select(
        F.col(id_col).alias("vid"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda i: F.slice(v, i * d + 1, d),
            )
        ).alias("m", "sv"),
    )


def _pq_sq_dist(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2 distance (deterministic order —
    the oracle's list_transform sum is the same chain)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )


def _pq_assign(sub: DataFrame, cents: DataFrame) -> DataFrame:
    """(vid, m, sv, cid): nearest codeword per subvector.

    r14 (guide §2.4): IN-ROW argmin — the codebook collapses to one
    per-subspace array (m rows of ``codebook`` structs, broadcast),
    and each subvector row folds a struct-min over it, exactly
    :func:`_assign_flat`'s shape. The previous form exploded sub ×
    codebook through a broadcast join and re-grouped by (vid, m) —
    one whole exchange of the subvector stream per assignment, and
    the training loop then paid a second shuffle join to re-attach
    ``sv``. Now assignment is map-side and ``sv`` never leaves the
    row. Tie order identical: struct-min over (d, cid) — smaller
    distance, then smaller cid."""
    bym = cents.groupBy("m").agg(
        F.sort_array(F.collect_list(F.struct("cid", "c"))).alias(
            "__cents"
        )
    )
    return (
        sub.join(F.broadcast(bym), "m")
        .select(
            "vid",
            "m",
            "sv",
            F.array_min(
                F.transform(
                    "__cents",
                    lambda ct: F.struct(
                        _pq_sq_dist(F.col("sv"), ct["c"]).alias("d"),
                        ct["cid"].alias("cid"),
                    ),
                )
            )["cid"].alias("cid"),
        )
    )


def pq_train_codebooks(
    emb: DataFrame,
    m: int = 8,
    codebook: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 1,
) -> DataFrame:
    """Train product-quantization codebooks — k-means per SUBSPACE,
    all m subspaces in the SAME distributed pass (the subspace index
    is just a grouping key): seeds are the ``codebook`` smallest ids'
    subvectors (rank seeds, the d12 determinism convention), each
    Lloyd round is ONE broadcast-argmin assignment + ONE per-
    (m, cid, dim) mean aggregate rounded to 4 dp (the cross-engine
    replay convention), and codewords live as a broadcastable
    (m, cid, c) frame of m×codebook rows — metadata-scale, like
    d12's centroid literals. Empty cells keep their previous
    codeword. Faiss trains PQ on samples; compose with the
    semantic_dedup_sampled hash-sample for that at scale."""
    spark = emb.sparkSession
    first = emb.select(as_double_vec(vec_col).alias("v")).first()
    if first is None:
        raise ValueError("pq_train_codebooks: embedding input is empty")
    dim = len(first["v"])
    if dim % m != 0:
        raise ValueError(
            f"pq_train_codebooks: dim {dim} not divisible by m={m}"
        )
    d = dim // m
    sub = _pq_sub_frame(emb, m, d, id_col, vec_col)
    seed_rows = (
        emb.select(F.col(id_col).alias("vid"),
                   as_double_vec(vec_col).alias("v"))
        .orderBy("vid")
        .limit(codebook)
        .collect()
    )
    cents_py = [
        (mm, cid, [float(x) for x in r["v"][mm * d:(mm + 1) * d]])
        for mm in range(m)
        for cid, r in enumerate(seed_rows)
    ]
    cents = spark.createDataFrame(
        cents_py, "m int, cid int, c array<double>"
    )
    for _ in range(lloyd_iters):
        # r14: _pq_assign keeps sv on the row (in-row argmin), so the
        # old re-attach join (sub ⋈ assigned on (vid, m) — a shuffle
        # of BOTH sides plus a second execution of the sub explode)
        # is gone; the round is one map-side assign + one partial-agg
        # mean exchange.
        assigned = _pq_assign(sub, cents)
        means = (
            assigned
            .select("m", "cid", F.posexplode("sv").alias("pos", "x"))
            .groupBy("m", "cid", "pos")
            .agg(F.round(F.avg("x"), 4).alias("mx"))
            .groupBy("m", "cid")
            .agg(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("pos", "mx"))
                    ),
                    lambda s: s["mx"],
                ).alias("c")
            )
            .collect()
        )
        new_py = {(r["m"], r["cid"]): [float(x) for x in r["c"]]
                  for r in means}
        cents_py = [
            (mm, cid, new_py.get((mm, cid), c0))
            for mm, cid, c0 in cents_py
        ]
        cents = spark.createDataFrame(
            cents_py, "m int, cid int, c array<double>"
        )
    return cents


def pq_topk(
    emb: DataFrame,
    query_ids: list,
    k: int = 10,
    m: int = 8,
    codebook: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 1,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization ANN with ASYMMETRIC distance scoring —
    the standard ring after IVF when the float corpus no longer fits
    the probe budget (Jégou et al., "Product Quantization for
    Nearest Neighbor Search"): database vectors compress to m
    one-byte codes; a query is never quantized — per subspace it
    precomputes distances to all ``codebook`` codewords, and a
    database vector's score is the SUM of m table lookups. Returns
    ``(query_id, neighbor_id, rank, adc_dist)`` for the k nearest by
    ADC distance (ascending; id tiebreak).

    100 TB shape: ENCODE is one broadcast-codebook argmin over the
    exploded subvectors — map-side, one groupBy keyed (vid, m), no
    raw-vector shuffle after it (8 bytes/vector/subspace flow on);
    QUERY TABLES are Q×m×codebook rows (metadata) built from the
    same broadcast codebooks; SCORING is one broadcast equi-join of
    the code stream against the query tables on (m, cid) plus a
    map-side-combinable SUM keyed (query, vid) — per-candidate work
    is m int64 adds, the whole point of ADC. Distances quantize to
    int64 micro-units via floor(x·10⁶ + 0.5) (the s05 tie-safe
    form), so the SUM is aggregation-order independent and the
    oracle hash-matches; ``adc_dist`` carries 6 dp.

    Determinism: rank-seed + 4 dp-rounded-mean Lloyd per subspace
    (d12's replayable trajectory), struct-min argmin (ties →
    smallest cid), floor-plus-half quantization, (dist, id) rank
    tiebreak. ``codebooks`` accepts a pre-trained/persisted (m, cid,
    c) frame — the production path trains once on a sample and
    reuses."""
    first = emb.select(as_double_vec(vec_col).alias("v")).first()
    if first is None:
        raise ValueError("pq_topk: embedding input is empty")
    dim = len(first["v"])
    if dim % m != 0:
        # must raise HERE too: with explicit `codebooks` the training
        # path (which checks) never runs, and a silent dim//m would
        # drop the trailing dimensions from every distance
        raise ValueError(f"pq_topk: dim {dim} not divisible by m={m}")
    d = dim // m
    if codebooks is None:
        codebooks = pq_train_codebooks(
            emb, m=m, codebook=codebook, id_col=id_col,
            vec_col=vec_col, lloyd_iters=lloyd_iters,
        )
    sub = _pq_sub_frame(emb, m, d, id_col, vec_col)
    enc = _pq_assign(sub, codebooks).select(
        "vid", "m", F.col("cid").alias("code")
    )

    qsub = sub.filter(F.col("vid").isin(query_ids))
    qt = (
        qsub.join(F.broadcast(codebooks), "m")
        .select(
            F.col("vid").alias("query_id"),
            "m",
            "cid",
            F.floor(
                _pq_sq_dist(F.col("sv"), F.col("c")) * 1e6 + F.lit(0.5)
            ).cast("long").alias("dq"),
        )
    )
    scored = (
        enc.join(
            F.broadcast(qt),
            (enc["m"] == qt["m"]) & (enc["code"] == qt["cid"]),
        )
        .filter(F.col("vid") != F.col("query_id"))
        .groupBy("query_id", "vid")
        .agg(F.sum("dq").alias("__micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__micro").asc(), F.col("vid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            F.col("rank").cast("long").alias("rank"),
            (F.col("__micro") / F.lit(1e6)).alias("adc_dist"),
        )
    )


def pq_rerank_topk(
    emb: DataFrame,
    query_ids: list,
    k: int = 10,
    rerank_from: int = 50,
    m: int = 8,
    codebook: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 1,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """PQ-ADC as a CANDIDATE GENERATOR + exact re-rank — the
    IVFADC+refine deployment shape (8-byte codes are lossy by
    design; recall@10 of raw ADC on 64-dim unit vectors measures
    ~0.3-0.4 here, exactly the published PQ trade): take the ADC
    top-``rerank_from`` per query, score ONLY those candidates with
    the exact sequential-fold cosine, return the exact top-k.
    ``(query_id, neighbor_id, rank, cos_sim)`` — rank by (rounded
    cosine DESC, id ASC), s01's contract.

    100 TB shape: the corpus-wide pass stays the 8-bytes-per-vector
    ADC stream; exact math touches Q×rerank_from rows — the
    candidate frame is metadata-scale, so the refine join broadcasts
    it against the embedding table and only candidate vectors are
    ever read back (predicate pushdown on the id join). The recall
    dial is ``rerank_from`` — TestProductQuantization pins the
    floors for both the raw and reranked paths."""
    cand = pq_topk(
        emb, query_ids, k=rerank_from, m=m, codebook=codebook,
        id_col=id_col, vec_col=vec_col, lloyd_iters=lloyd_iters,
        codebooks=codebooks,
    ).select("query_id", "neighbor_id")
    vecs = emb.select(
        F.col(id_col).alias("__id"), as_double_vec(vec_col).alias("__v")
    )
    qv = vecs.withColumnRenamed("__id", "__qid").withColumnRenamed(
        "__v", "__qv"
    ).filter(F.col("__qid").isin(query_ids))
    scored = (
        vecs.join(
            F.broadcast(cand), vecs["__id"] == cand["neighbor_id"]
        )
        .join(F.broadcast(qv), F.col("query_id") == F.col("__qid"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("__qv"), F.col("__v")), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            "cos_sim",
        )
    )


def ivf_pq_topk(
    emb: DataFrame,
    query_ids: list,
    k: int = 10,
    nprobe: int = 2,
    m: int = 8,
    codebook: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    lloyd_iters: int = 1,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVFADC — the composed deployment form (Jégou et al. §IV):
    IVF cell pruning (:func:`ivf_topk`'s coarse quantizer) feeds PQ
    asymmetric-distance scoring (:func:`pq_topk`'s ADC stream), so
    the ADC sum runs over ``nprobe`` cells' members per query instead
    of the whole corpus — the round-9 gap where s12 scanned every
    code row per query batch. Returns ``(query_id, neighbor_id,
    rank, adc_dist)``, ADC-ascending with id tiebreak (s12's
    contract; recall dials are ``nprobe`` and downstream
    ``pq_rerank_topk``-style refinement).

    100 TB shape: every corpus-scale artifact is PERSISTABLE and
    injectable — ``codebooks`` (m×codebook codewords), ``codes``
    (the (vid, m, code) stream, 8 bytes/vector), ``centroids`` (the
    (label, cv) C×dim table) — so the per-batch query cost touches
    (1) the broadcast centroid table for the probe argmax, (2) the
    candidate id list — cell membership joined to the Q×nprobe probe
    frame, broadcast both, and (3) ONLY the candidate rows of the
    code stream via one shuffle_hash equi-join on vid — candidate
    rows ≈ Q·nprobe·N/C ≪ N, the whole point. Raw vectors are
    touched only for the Q query rows. Every arithmetic step reuses
    s04/s12 primitives, so the DuckDB oracle is their CTE chains
    composed."""
    first = emb.select(as_double_vec(vec_col).alias("v")).first()
    if first is None:
        raise ValueError("ivf_pq_topk: embedding input is empty")
    dim = len(first["v"])
    if dim % m != 0:
        raise ValueError(
            f"ivf_pq_topk: dim {dim} not divisible by m={m}"
        )
    d = dim // m
    if codebooks is None:
        codebooks = pq_train_codebooks(
            emb, m=m, codebook=codebook, id_col=id_col,
            vec_col=vec_col, lloyd_iters=lloyd_iters,
        )

    # coarse quantizer: label cells + their centroids (s04's shape)
    cents = centroids
    if cents is None:
        cents = (
            label_centroids(
                emb, id_col=id_col, vec_col=vec_col,
                label_col=label_col,
            )
            .groupBy(label_col)
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "avg_val"))
                    ),
                    lambda s: s["avg_val"],
                ).alias("cv")
            )
        )
    q = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        as_double_vec(vec_col).alias("qv"),
    )
    probe_score = F.round(cosine(F.col("qv"), F.col("cv")), 6)
    wq = Window.partitionBy("query_id").orderBy(
        probe_score.desc(), F.col(label_col).asc()
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", F.col(label_col).alias("cell"))
    )

    # candidate ids: cell membership × probes — Q·nprobe·(N/C) rows,
    # the pruning step; probes is query-scale, broadcast EXPLICITLY
    # (the derived-size broadcast trap, PERFORMANCE.md round-7)
    cellmap = emb.select(
        F.col(id_col).alias("vid"), F.col(label_col).alias("cell")
    )
    cands = cellmap.join(F.broadcast(probes), "cell").filter(
        F.col("vid") != F.col("query_id")
    ).select("query_id", "vid")

    # ADC scoring over candidates only: codes enter through ONE
    # shuffle_hash equi-join on vid (both sides corpus-key-partitioned
    # — bucketable/co-locatable when codes are a persisted table)
    enc = codes
    if enc is None:
        sub = _pq_sub_frame(emb, m, d, id_col, vec_col)
        enc = _pq_assign(sub, codebooks).select(
            "vid", "m", F.col("cid").alias("code")
        )
    qsub = _pq_sub_frame(
        emb.filter(F.col(id_col).isin(query_ids)), m, d, id_col, vec_col
    )
    qt = (
        qsub.join(F.broadcast(codebooks), "m")
        .select(
            F.col("vid").alias("query_id"),
            "m",
            F.col("cid").alias("code"),
            F.floor(
                _pq_sq_dist(F.col("sv"), F.col("c")) * 1e6 + F.lit(0.5)
            ).cast("long").alias("dq"),
        )
    )
    scored = (
        enc.join(cands.hint("shuffle_hash"), "vid")
        .join(F.broadcast(qt), ["query_id", "m", "code"])
        .groupBy("query_id", "vid")
        .agg(F.sum("dq").alias("__micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__micro").asc(), F.col("vid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            F.col("rank").cast("long").alias("rank"),
            (F.col("__micro") / F.lit(1e6)).alias("adc_dist"),
        )
    )
