"""State lifecycle — compaction/retirement for the persisted-state
family (round-9 verdict #7).

Every incremental operator here publishes a per-corpus state table
(dedup signatures, boilerplate sentence keys, duplicated grams,
semantic centroids+members, connected components) and folds batches
in WITHOUT re-reading the corpus.  Those states grow monotonically;
production also RETIRES data — licensing takedowns, TTL horizons,
re-curation.  The reference's analog is wholesale table replacement
per run (each dataset load drops and recreates its tables —
`/root/reference/load_dataset.py`); at 100 TB a rebuild per takedown
is the one cost the incremental design exists to avoid, so each state
gets a compact path whose contract is pinned as

    compact(state_built_on(corpus), retired) ==
        state_built_on(corpus \\ retired)

(exact frame equality where the state is per-row independent;
documented weaker contracts where it is not — see each function).

Shapes: every compaction is one shuffle_hash semi/anti join or one
decrement-join + re-threshold — LINEAR in the state (never in the
corpus), the property the bench_scale `d11_state_compact` row
measures.  Nothing here reads document/vector bodies: retirement
needs only the retiring rows themselves (whose content the caller
has — it is the thing being retired).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_signature_state_compact(
    state: DataFrame,
    retired: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Retire documents from a :func:`~..dedup.dedup_signature_state`:
    drop every hash/band/shingle row keyed by a retired id, keep the
    meta row (it describes the banding parameterization, not the
    membership).  Signature rows are per-doc independent, so this is
    EXACTLY the state a rebuild on the retained corpus produces (pin:
    TestStateLifecycle, with banding pinned — the ``bands_for``
    policy derives from corpus count and may legitimately re-band on
    a much smaller corpus; re-banding is a rebuild decision, not a
    compaction).

    ``retired``: a frame whose ``id_col`` column lists retiring ids.
    One shuffle_hash left-anti join on the id — linear in the state.
    """
    r = retired.select(F.col(id_col)).distinct()
    return state.filter(F.col("kind") == "meta").unionByName(
        state.filter(F.col("kind") != "meta").join(
            r.hint("shuffle_hash"), id_col, "left_anti"
        )
    )


def sentence_dedup_state_compact(
    state: DataFrame,
    retired_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = ". ",
    min_docs: int = 2,
    min_words: int = 3,
    hashed_keys: bool = False,
) -> DataFrame:
    """Retire documents from a COUNT-BEARING
    :func:`~..textops.sentence_dedup_state` (built
    ``with_counts=True``): re-derive the retiring docs' per-key
    distinct-doc contributions from their text, DECREMENT, and
    re-threshold ``nd >= min_docs`` — a key whose support came from
    retired docs falls out of the boilerplate set exactly as a
    rebuild would drop it (pin: equals
    ``sentence_dedup_state(corpus \\ retired, with_counts=True)``).

    Count-less states (the published oracle form) cannot be
    compacted — they cannot answer 'does this key still clear
    min_docs' — and raise here; build lifecycle states with counts.

    Shape: one groupBy over the RETIRING docs' sentence instances
    (batch-scale) + one shuffle_hash decrement join against the state
    — linear in state + retiring batch, the corpus never re-read."""
    if "nd" not in state.columns:
        raise ValueError(
            "sentence_dedup_state_compact: state has no 'nd' counts — "
            "build it with sentence_dedup_state(with_counts=True); a "
            "count-less state cannot be decremented, only rebuilt"
        )
    from nycdb_k8s_loader_spark.operators.textops import _sentence_frames

    _, inst = _sentence_frames(
        retired_docs, id_col, text_col, sep, min_words, hashed_keys
    )
    dec = inst.groupBy("k").agg(
        F.count_distinct(F.col(id_col)).alias("__dec")
    )
    return (
        state.join(dec.hint("shuffle_hash"), "k", "left")
        .select(
            "k",
            (F.col("nd") - F.coalesce("__dec", F.lit(0))).alias("nd"),
        )
        .filter(F.col("nd") >= min_docs)
    )


def duplicated_gram_state_compact(
    state: DataFrame,
    retired_docs: DataFrame,
    ngram: int = 5,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Retire documents from a COUNT-BEARING
    :func:`~..dedup.duplicated_gram_state` (``with_counts=True``):
    count the retiring docs' gram occurrences, decrement, re-threshold
    ``n >= min_count`` (pin: equals a rebuild on the retained
    corpus).  Exact strings join exact strings — the state stores
    exact grams even in hashed mode, so compaction never touches a
    hash.  Count-less states raise, as in
    :func:`sentence_dedup_state_compact`.

    Duplicate-row safety: the gram decrement is ``count(*)`` over
    exploded grams (occurrence-weighted by design — that is what the
    state counted), so a retirement batch carrying the same doc row
    twice (join fan-out, replayed batch) would double-decrement.  The
    siblings are immune via count_distinct/distinct; this one
    de-duplicates the batch on ``id_col`` first."""
    retired_docs = retired_docs.dropDuplicates([id_col])
    if "n" not in state.columns:
        raise ValueError(
            "duplicated_gram_state_compact: state has no 'n' counts — "
            "build it with duplicated_gram_state(with_counts=True); a "
            "count-less state cannot be decremented, only rebuilt"
        )
    from nycdb_k8s_loader_spark.operators.dedup import (
        normalized_text,
        shingle_array,
    )

    words = retired_docs.select(
        F.col(id_col),
        F.filter(
            F.split(normalized_text(text_col), " "), lambda w: w != ""
        ).alias("ws"),
    ).filter(F.size("ws") >= ngram)
    dec = (
        words.select(
            F.explode(shingle_array(F.col("ws"), ngram)).alias("gram")
        )
        .groupBy("gram")
        .agg(F.count("*").alias("__dec"))
    )
    return (
        state.join(dec.hint("shuffle_hash"), "gram", "left")
        .select(
            "gram",
            (F.col("n") - F.coalesce("__dec", F.lit(0))).alias("n"),
        )
        .filter(F.col("n") >= min_count)
    )


def source_token_state_compact(
    state: DataFrame,
    retired_tokens: DataFrame,
    source_col: str = "source",
    token_col: str = "n_tokens",
    sum_col: str = "t_s",
) -> DataFrame:
    """Retire documents from a per-source TOKEN-SUM state — the
    count-bearing form behind frozen mixture rates (c08's ``rates``
    table is a ratio and cannot be decremented; the ``(source, t_s)``
    sums it derives from can).  ``retired_tokens`` carries one row
    per retiring doc with its token count COMPUTED BY THE SAME
    EXPRESSION the state was built with (the caller owns that
    expression — a takedown that counts tokens differently than the
    freeze did would decrement the wrong amount).  One batch-scale
    groupBy + one shuffle_hash decrement join; a fully-retired source
    drops out (``t_s`` 0), exactly as a re-freeze on the retained
    corpus would never see it.  Re-derive rates from the compacted
    sums with the SAME exact-int64 chain used at freeze time —
    decrement-then-derive == re-freeze-on-retained by construction
    (retained sums = full sums − retired sums)."""
    dec = retired_tokens.groupBy(source_col).agg(
        F.sum(token_col).alias("__dec")
    )
    return (
        state.join(dec.hint("shuffle_hash"), source_col, "left")
        .select(
            source_col,
            (F.col(sum_col) - F.coalesce("__dec", F.lit(0))).alias(
                sum_col
            ),
        )
        .filter(F.col(sum_col) > 0)
    )


def components_state_compact(
    state: DataFrame,
    retired: DataFrame,
    node_col: str = "node",
    comp_col: str = "component",
) -> DataFrame:
    """Retire nodes from a :func:`~..graph.components_state`: drop
    their rows and RELABEL each surviving component to its minimum
    retained node (the min-id root convention — the old root may be
    among the retired).  One anti join + one per-component min + one
    shuffle_hash equi-join on the component key: linear in the state.
    The relabel map has one row per SURVIVING COMPONENT — for dedup
    CC states dominated by singletons that is state-scale, not
    broadcast-scale, so it joins like every other compactor here
    (never ``F.broadcast``; AQE may still pick a broadcast when the
    map is measured small at runtime — that decision belongs to the
    runtime, not the plan).

    CONTRACT BOUNDARY, stated loudly: the (node, component) state
    carries no edges, so retirement CANNOT split a component whose
    retained members were only connected THROUGH retired nodes — the
    compacted state keeps them together (conservative for dedup-style
    uses: over-grouping never mis-drops a future duplicate, it only
    over-links).  Exactness pin holds when retirement preserves
    connectivity (TestStateLifecycle uses both: an exact fixture and
    an over-grouping one documenting the boundary).  A split-exact
    retirement is a rebuild from retained edges — the path
    :func:`~..graph.components_state` already provides."""
    surv = state.join(
        retired.select(F.col(node_col)).distinct().hint("shuffle_hash"),
        node_col,
        "left_anti",
    )
    relabel = surv.groupBy(comp_col).agg(
        F.min(node_col).alias("__new_comp")
    )
    return (
        surv.join(relabel.hint("shuffle_hash"), comp_col)
        .select(
            F.col(node_col),
            F.col("__new_comp").alias(comp_col),
        )
    )
