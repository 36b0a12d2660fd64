"""Deduplication operators for large-scale corpus pipelines.

Exact, n-gram Jaccard, and MinHash+LSH dedup over a `documents`-shaped
DataFrame (doc_id bigint, text string). All JVM-side built-ins — no
Python UDFs — so the hot path stays in whole-stage codegen and every
hash is computed map-side before any shuffle.

Scale design (100 TB corpus):
- exact: shuffle carries (32-char md5, doc_id) only, never text bodies.
- jaccard: the inverted-index self-join is quadratic in posting-list
  length for high-frequency tokens — correct at test scale, replaced
  by MinHash bands at corpus scale (that is *why* d03 exists).
- minhash: signature computation is a single groupBy(doc_id); the
  band-bucket self-join shuffles (band_key, doc_id) pairs, linear in
  corpus size with tunable band count for the recall/precision trade.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nycdb_k8s_loader_spark.session import memoized, stage


def normalized_text(col: str = "text") -> F.Column:
    """Shared normalization: lower + trim (the dedup equivalence class)."""
    return F.lower(F.trim(F.col(col)))


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup by content hash: md5(normalized text) → groupBy →
    keep the minimum id (deterministic winner)."""
    return (
        df.select(
            F.md5(normalized_text(text_col)).alias("content_hash"),
            F.col(id_col),
        )
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def bands_for(
    n_docs: int,
    target_sim: float = 0.7,
) -> tuple[int, int]:
    """Corpus-size-aware MinHash banding policy → ``(num_hashes,
    bands)`` — the live DEFAULT (via :func:`_resolve_banding`) of
    every banded dedup OPERATOR: :func:`ngram_jaccard_pairs`,
    :func:`fuzzy_dedup`, :func:`incremental_dedup`,
    :func:`dedup_signature_state` (and through its meta row,
    :func:`incremental_dedup_from_state`). The signature PRIMITIVES
    (:func:`band_keys`, :func:`minhash_signatures`) keep fixed 8/4
    defaults — they are building blocks whose callers own the policy.
    Callers wanting a pinned parameterization (the catalog's oracle
    entries, regression baselines) pass explicit values instead,
    exactly the d02/d04 ``exact_allpairs`` precedent.

    Why a policy instead of a constant: with ``b`` bands of ``r`` rows
    the LSH collision probability at similarity ``s`` is
    ``1-(1-s^r)^b ≈ b·s^r``, so FALSE-POSITIVE candidate pairs scale
    like ``C(n,2)·b·s̄^r`` for the corpus's background similarity
    ``s̄ < 1``. A fixed small ``r`` (the historical r=2 default) makes
    that term grow ~n² — measured empirically in BENCH_sf1.json
    (591 → 53k candidates on a ×10 step) and BENCH_sf3.json, where the
    r=2 verify join is the first operator to thrash under heap
    pressure. Growing ``r`` with ``ln n`` keeps expected FP candidates
    ~linear (each +1 on r multiplies the FP term by s̄), while ``b``
    tracks ``target_sim^-r`` so the S-curve threshold ``(1/b)^(1/r)``
    stays near the similarity the caller actually wants to catch.

    Policy (deterministic, monotone in ``n_docs``):

    - ``r = clamp(round(ln n / 3), 2, 8)`` — r=2 below ~1e3 docs
      (tiny corpora want recall; FP work is bounded by n² anyway),
      r=4 at ~1e5, r=7 at ~1e9;
    - ``b = clamp(round(target_sim^-r), 2, 128 // r)`` — the cap
      bounds signature width; at the cap the effective threshold
      drifts up (documented trade: past ~1e9 docs you accept missing
      the bottom of the similarity range);
    - ``num_hashes = r·b`` (bands always divide num_hashes by
      construction — the :func:`band_keys` contract).

    128 permutations max is the standard large-corpus choice (the
    datasketch/text-dedup convention); signatures stay one md5 pass +
    ``num_hashes`` integer passes per doc regardless.
    """
    import math

    if n_docs < 1:
        raise ValueError("bands_for: n_docs must be >= 1")
    if not 0.0 < target_sim < 1.0:
        raise ValueError("bands_for: target_sim must be in (0, 1)")
    r = min(8, max(2, round(math.log(max(n_docs, 2)) / 3)))
    b = max(2, min(128 // r, round(target_sim ** -r)))
    return r * b, b


def _resolve_banding(
    df: DataFrame,
    num_hashes: int | None,
    bands: int | None,
    target_sim: float,
) -> tuple[int, int]:
    """Resolve (num_hashes, bands): explicit values pass through;
    both-None routes to :func:`bands_for` on the corpus count (one
    count job — callers on a hot path pass explicit values).
    ``target_sim`` is clamped into bands_for's open (0,1) domain so
    degenerate caller thresholds (0.0 = "any overlap", 1.0 = "exact
    only") still resolve — the verify stage enforces the caller's
    actual threshold either way."""
    if num_hashes is not None and bands is not None:
        return num_hashes, bands
    if (num_hashes is None) != (bands is None):
        raise ValueError(
            "pass BOTH num_hashes and bands (pinned parameterization) "
            "or NEITHER (corpus-size-aware bands_for policy)"
        )
    # max(count, 1): an empty corpus (bootstrap run, a prior filter
    # emptied the frame) must resolve to SOME banding and return an
    # empty result like the pre-policy fixed defaults did, not raise
    # bands_for's n_docs >= 1 guard
    return bands_for(
        max(df.count(), 1), target_sim=min(max(target_sim, 0.05), 0.95)
    )


def _shingle_explode(
    df: DataFrame,
    shingles: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Raw (doc, k-word-shingle) instance rows — the pre-``distinct``
    half of :func:`shingle_postings`, for callers that deduplicate
    inside a downstream aggregate (``collect_set``) instead of paying
    a standalone DISTINCT exchange."""
    if shingles == 1:
        return df.select(
            F.col(id_col),
            F.explode(F.split(normalized_text(text_col), " ")).alias("w"),
        ).filter(F.col("w") != "")
    key, words, grams, each = _shingle_columns(id_col, text_col, shingles)
    return df.select(key, words).select(key, each)


@memoized
def _shingle_columns(id_col: str, text_col: str, shingles: int) -> tuple:
    """The id column, the ``__words`` array (its own staged select,
    see :func:`shingle_array`), its shingles and those exploded as
    ``w``."""
    words = F.filter(
        F.split(normalized_text(text_col), " "), lambda w: w != ""
    ).alias("__words")
    grams = shingle_array(F.col("__words"), shingles)
    return F.col(id_col), words, grams, F.explode(grams).alias("w")


def shingle_postings(
    df: DataFrame,
    shingles: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Distinct (doc, k-word-shingle) posting list, via staged selects
    so each array is materialized once per row (see
    :func:`shingle_array`)."""
    return _shingle_explode(df, shingles, id_col, text_col).distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles: int = 1,
    exact_allpairs: bool = False,
    num_hashes: int | None = None,
    bands: int | None = None,
) -> DataFrame:
    """Near-dup pairs by token-set Jaccard ≥ threshold.

    DEFAULT (``exact_allpairs=False``) is the scale-safe path: MinHash
    band candidates first, exact Jaccard evaluated only on them (the
    d09 machinery) — linear in corpus, the documented LSH
    false-negative trade. Banding defaults to the corpus-size-aware
    :func:`bands_for` policy (rows-per-band grows with ln n, so
    false-positive candidates stay ~linear instead of the fixed-r=2
    ~n² growth measured in BENCH_sf1.json); pass explicit
    ``num_hashes``/``bands`` for a pinned parameterization (the
    catalog's oracle entries do). ``exact_allpairs=True`` is the
    all-pairs inverted-index oracle baseline: postings self-joined on
    token, common-count per pair, |A∩B| / (|A| + |B| - |A∩B|). The
    division is exact integer-over-integer in doubles either way, so
    the oracle compare is stable.

    The default flipped in round 4 (verdict item 5): a direct caller
    of this operator used to get the Σ_t df(t)² candidate blowup —
    quadratic by construction on a small-vocabulary corpus (every doc
    shares most words — measured 4.5e8 candidate pairs at sf0.1 with
    unigrams; 3-word shingles collapse that to ~1.4e6). The exact form
    remains reachable by name because it IS the oracle for the banded
    one.
    """
    if not exact_allpairs:
        num_hashes, bands = _resolve_banding(df, num_hashes, bands, threshold)
        return _lsh_verified_pairs(
            df, threshold, num_hashes, bands, shingles, id_col, text_col
        ).select("doc_a", "doc_b", "jaccard")
    words = shingle_postings(df, shingles, id_col, text_col)
    sizes = words.groupBy(id_col).agg(F.count("*").alias("n_words"))

    a = words.select(F.col(id_col).alias("doc_a"), "w")
    b = words.select(F.col(id_col).alias("doc_b"), "w")
    common = (
        a.join(b, ["w"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_words").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_words").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        common.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def _lsh_verified_pairs(
    df: DataFrame,
    threshold: float,
    num_hashes: int,
    bands: int,
    shingles: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for LSH band candidates whose EXACT
    Jaccard clears the threshold — the shared candidates→verify core
    of :func:`fuzzy_dedup` and default-mode
    :func:`ngram_jaccard_pairs`. Cost: one banding pass (linear) +
    O(candidates × doc shingles) verification, never corpus²."""
    cands = minhash_signatures(
        df, num_hashes=num_hashes, bands=bands,
        id_col=id_col, text_col=text_col, shingles=shingles,
    )
    # r13 restructure (guide §2.3/§2.4): the old shape executed the
    # posting build THREE times (pa, pb, sizes — each branch re-ran
    # the document scan + shingle explode + its own distinct
    # exchange) and paid two tail joins to attach |A| and |B|. Now
    # the per-doc DISTINCT shingle set is built once as
    # ``collect_set`` (one exchange on the doc id, map-side partial
    # dedup — no standalone DISTINCT pass), its size rides along as
    # ``na``/``nb`` on the re-exploded postings, and the sizes fold
    # into the verify aggregate as ``min`` (constant per pair) — the
    # two tail joins are gone. Both posting branches share the one
    # exchange (ReusedExchange; plan-diff: 3 document scans → 1, 13
    # Exchanges → 8 on d09's edge build).
    sets = (
        _shingle_explode(df, shingles, id_col, text_col)
        .groupBy(id_col)
        .agg(F.collect_set("w").alias("__ws"))
    )
    pa = sets.select(
        F.col(id_col).alias("doc_a"),
        F.size("__ws").alias("na"),
        F.explode("__ws").alias("w"),
    )
    pb = sets.select(
        F.col(id_col).alias("doc_b"),
        F.size("__ws").alias("nb"),
        F.explode("__ws").alias("w"),
    )
    # shuffle_hash hints: posting tables are DERIVED from the doc
    # scan (explode/groupBy), and Generate/Aggregate pass the scan's
    # sizeInBytes through — Catalyst can estimate a multi-million-row
    # posting table at the parquet's 2 MB and BROADCAST it (measured:
    # d11's 3x-data step ran x8.3 wall under the engine's 64m
    # threshold purely from a 4.3M-row postings broadcast; the hinted
    # plan is flat). The hinted (candidate) side is the genuinely
    # small one, built per-partition after an equi-shuffle.
    common = (
        cands.hint("shuffle_hash").join(pa, "doc_a")
        .hint("shuffle_hash")
        .join(pb, ["doc_b", "w"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("n_common"),
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
        )
    )
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        common.filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def shingle_array(words: F.Column, shingles: int) -> F.Column:
    """Array of word-``shingles``-grams (space-joined) from an
    already-materialized words-array *column reference*. ``shingles=1``
    returns the input. Built from ``transform(sequence(...))`` over the
    array — pure codegen'd array expressions, no explode, no shuffle.

    IMPORTANT: pass a bound column (e.g. ``F.col("words")`` from a
    prior ``select``), never the raw split expression — each
    ``element_at`` call inlines its argument, so an unbound split would
    be re-evaluated O(shingles × grams) times per row (measured 4×
    slowdown at sf0.1)."""
    if shingles == 1:
        return words
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - shingles, F.lit(0)))
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(words, (i + k + 1).cast("int"))
                                     for k in range(shingles)]),
    )
    # A doc shorter than `shingles` words yields one truncated gram of
    # whatever words exist (never empty) — same rule in the oracle SQL.
    return F.when(n >= shingles, gram).otherwise(F.array(F.concat_ws(" ", words)))


# Fixed (a, b) pairs for the universal-hash permutation family
# h_i(x) = ((x mod M) * a_i + b_i) mod M over M = 2^31 - 1. All a_i
# fit in 31 bits, so (M-1)*a_i stays < 2^62 — no int64 overflow in
# either engine. Shared verbatim with the DuckDB oracle SQL.
MINHASH_PERMS: list[tuple[int, int]] = [
    (1000000007, 337),
    (998244353, 7331),
    (774856531, 12345),
    (602398169, 54321),
    (516688307, 2468),
    (402653189, 13579),
    (268435459, 97531),
    (160481183, 86420),
    (1103515245, 12821),
    (1299709103, 31337),
    (715827883, 40507),
    (1073741827, 65537),
    (858993459, 77773),
    (1431655765, 91193),
    (1717986917, 10601),
    (1927868237, 20011),
]
_MERSENNE31 = 2147483647

# bands_for can resolve to signatures up to 128 hashes wide at
# billion-doc corpora; extend the permutation family deterministically
# past the 16 hand-pinned pairs (which the DuckDB oracle SQL hardcodes
# verbatim — NEVER reorder or regenerate those). Generator: a 64-bit
# LCG (Knuth MMIX constants) whose high bits supply a (odd, 31-bit —
# keeps (M-1)*a < 2^62 overflow-free) and b (mod M).
def _extend_perms(perms: list[tuple[int, int]], upto: int = 128) -> None:
    seen = set(perms)
    x = 0x9E3779B97F4A7C15
    while len(perms) < upto:
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = ((x >> 33) % (1 << 31)) | 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = (x >> 33) % _MERSENNE31
        # a == 2^31-1 is odd yet ≡ 0 mod the Mersenne prime — a
        # degenerate constant permutation (h = b for every input);
        # also reject repeated (a, b) pairs. ~2^-31 per draw, but the
        # family is pinned forever once shipped, so the guard is free
        # insurance.
        if a % _MERSENNE31 == 0 or (a, b) in seen:
            continue
        seen.add((a, b))
        perms.append((a, b))


_extend_perms(MINHASH_PERMS)


def band_keys(
    df: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles: int = 1,
) -> DataFrame:
    """Per-doc LSH band keys ``(id_col, band, band_key)`` — the
    persistable HALF of :func:`minhash_signatures` (same permutation
    family, same banding); the pair expansion consumes this, and the
    incremental probe persists it as corpus state. One md5 pass +
    ``num_hashes`` integer passes per row, all codegen'd, no shuffle.
    """
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    assert num_hashes <= len(MINHASH_PERMS), "extend MINHASH_PERMS"
    out = df
    for cols in _band_stages(id_col, text_col, shingles, num_hashes, bands):
        out = out.select(*cols)
    return out


@memoized
def _band_stages(
    id_col: str, text_col: str, shingles: int, num_hashes: int, bands: int
) -> tuple[tuple[F.Column, ...], ...]:
    """:func:`band_keys`' staged selects, each array materialized once
    per row (see :func:`shingle_array`): words → shingles → 60-bit base
    hashes → signatures → one explode over a bands-array of structs."""
    rows_per_band = num_hashes // bands
    key, words, grams, _ = _shingle_columns(id_col, text_col, shingles)

    def perm(i: int):
        a, b = MINHASH_PERMS[i]
        return lambda x: ((x % _MERSENNE31) * a + b) % _MERSENNE31

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat(
                        *[
                            F.col(f"h{b * rows_per_band + r}").cast("string")
                            for r in range(rows_per_band)
                        ]
                    )
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return (
        (key, words),
        (key, grams.alias("__shingles")),
        (key, F.transform(
            F.col("__shingles"),
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10)
            .cast("long"),
        ).alias("__base")),
        (key, *[
            F.array_min(F.transform(F.col("__base"), perm(i))).alias(f"h{i}")
            for i in range(num_hashes)
        ]),
        (key, F.explode(band_structs).alias("bk")),
        (key, F.col("bk.band").alias("band"),
         F.col("bk.band_key").alias("band_key")),
    )


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles: int = 1,
) -> DataFrame:
    """MinHash + LSH banding candidate pairs.

    Permutation family: one md5 per shingle, rebased to a 60-bit int
    (first 15 hex chars), then ``num_hashes`` cheap universal-hash
    permutations ``(x*a_i + b_i) mod (2^31-1)`` — exactly reproducible
    in any engine with md5 + 64-bit integer arithmetic, and ~8× fewer
    md5 evaluations than salting the digest per permutation. Bands of
    ``num_hashes/bands`` signature rows are collapsed to one md5 band
    key; docs sharing any band key are candidates.

    ``shingles`` controls the token unit: 1 = single words (fine for
    natural vocabularies), k>1 = k-word shingles. On small-vocabulary
    corpora word *sets* are near-identical across unrelated docs, so
    unigram MinHash buckets everything together and the band join goes
    quadratic; shingling restores discriminative power and keeps the
    candidate-pair output linear-ish — the standard
    shingle→minhash→band→bucket-join pipeline.

    Physical shape (100 TB notes): signatures are per-row array
    expressions — no explode, no shuffle, one md5 pass + ``num_hashes``
    integer passes, all codegen'd. Candidate pairs come from ONE
    groupBy on (band, band_key) with in-bucket pair expansion as array
    expressions — a band-bucket *self-join* would recompute the whole
    signature scan for both sides (measured 2× at sf0.1). The shuffle
    carries (band_key, doc_id) only. Bucket width is bounded by LSH
    selectivity; a degenerate corpus that funnels everything into one
    bucket is a parameter problem (raise rows-per-band / shingle size),
    not a plan problem.
    """
    all_bands = band_keys(
        df, num_hashes=num_hashes, bands=bands,
        id_col=id_col, text_col=text_col, shingles=shingles,
    )

    # Bucket → sorted id list → pair expansion, all codegen'd. Sorted
    # ids make doc_a < doc_b by construction; DISTINCT collapses pairs
    # that share several bands.
    buckets = (
        all_bands.groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    return (
        buckets.select(_bucket_pairs())
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )


@memoized
def _bucket_pairs() -> F.Column:
    """In-bucket pair expansion of :func:`minhash_signatures` over a
    sorted ``ids`` array, exploded as the struct ``p``."""
    n = F.size(F.col("ids"))
    return F.explode(F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.slice(F.col("ids"), (i + 1).cast("int"), (n - i).cast("int")),
                lambda x: F.struct(
                    F.element_at(F.col("ids"), i.cast("int")).alias("doc_a"),
                    x.alias("doc_b"),
                ),
            ),
        )
    )).alias("p")


def simhash_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    shingles: int = 3,
) -> DataFrame:
    """SimHash fingerprints: bit i of md5(token)'s 60-bit integer form
    votes +1/-1; the per-doc sign vector is the fingerprint, returned
    both as a bigint (``fp_int``, for xor/bit_count Hamming) and as an
    LSB-first '01…' string (``simhash``, engine-portable display).

    Token unit is ``shingles``-word shingles — same reasoning as
    d02/d03: on a small-vocabulary corpus unigram token *sets* are
    near-identical across unrelated docs, so unigram fingerprints
    collapse onto a few values and any downstream blocking degenerates
    (measured: 16-bit unigram simhash put 3/5 of sf0.1 in one 4-bit
    segment bucket → 42M candidate pairs).  Shingles decorrelate the
    fingerprints; 32 bits make random collisions at Hamming ≤ 3
    vanishingly rare (~1.3e-6 of pairs).

    Cost per posting row: ONE md5 + one hex-parse, then ``bits``
    shift-and-mask votes — all integer codegen (the earlier form paid
    a conv(substring) string parse *per bit*)."""
    if not 1 <= bits <= 60:
        raise ValueError("bits must be in [1, 60] (md5 60-bit rebase)")
    words = shingle_postings(df, shingles, id_col, text_col)
    x = F.conv(F.substring(F.md5(F.col("w")), 1, 15), 16, 10).cast("long")
    base = words.select(F.col(id_col), x.alias("x"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("x"), i).bitwiseAND(1) == 1, 1)
            .otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    sums = base.groupBy(id_col).agg(*bit_sums)
    fp_str = F.concat(
        *[F.when(F.col(f"b{i}") >= 0, "1").otherwise("0") for i in range(bits)]
    )
    fp_int = reduce(
        lambda acc, i: acc
        + F.when(F.col(f"b{i}") >= 0, F.lit(1 << i)).otherwise(F.lit(0)),
        range(1, bits),
        F.when(F.col("b0") >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
    )
    return sums.select(
        F.col(id_col), fp_str.alias("simhash"), fp_int.alias("fp_int")
    )


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    shingles: int = 3,
) -> DataFrame:
    """Near-dup pairs with simhash Hamming distance ≤ ``max_hamming``.

    Blocking: split the fingerprint into (max_hamming+1) bit segments —
    by pigeonhole, any pair within the distance matches exactly on at
    least one segment, so candidates come from segment buckets, not
    all pairs (exact w.r.t. the brute-force oracle).

    Physical shape: segment keys are shift-and-mask expressions over
    ``fp_int``, exploded from one array — the fingerprint scan runs
    ONCE (a bucket *self-join* would recompute it per side; d03 note).
    Pairs expand in-bucket from a sorted collect_list, and Hamming is
    ``bit_count(xor)`` — one instruction pair per candidate instead of
    a per-character array fold.  The one shuffle carries
    (seg, seg_key, id, fp_int)."""
    n_seg = max_hamming + 1
    seg_len = bits // n_seg
    fps = simhash_fingerprints(df, id_col, text_col, bits, shingles)

    seg_structs = F.array(
        *[
            F.struct(
                F.lit(s).alias("seg"),
                F.shiftright(F.col("fp_int"), s * seg_len)
                .bitwiseAND(
                    (1 << (seg_len if s < n_seg - 1 else bits - seg_len * s))
                    - 1
                )
                .alias("seg_key"),
            )
            for s in range(n_seg)
        ]
    )
    blocked = fps.select(
        F.col(id_col), F.col("fp_int"), F.explode(seg_structs).alias("sk")
    ).select(
        F.col(id_col),
        "fp_int",
        F.col("sk.seg").alias("seg"),
        F.col("sk.seg_key").alias("seg_key"),
    )

    # Bucket → sorted (id, fp) list → in-bucket pair expansion (d03
    # pattern). Sorted structs give doc_a < doc_b by construction.
    buckets = (
        blocked.groupBy("seg", "seg_key")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(id_col).alias("id"), "fp_int"))
            ).alias("members")
        )
        .filter(F.size("members") >= 2)
    )
    n = F.size(F.col("members"))
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.slice(F.col("members"), (i + 1).cast("int"), (n - i).cast("int")),
                lambda m: F.struct(
                    F.element_at(F.col("members"), i.cast("int"))["id"].alias("doc_a"),
                    F.element_at(F.col("members"), i.cast("int"))["fp_int"].alias("fp_a"),
                    m["id"].alias("doc_b"),
                    m["fp_int"].alias("fp_b"),
                ),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.fp_a", "p.doc_b", "p.fp_b")
        .distinct()
    )
    dist = F.bit_count(
        F.col("fp_a").bitwiseXOR(F.col("fp_b"))
    )
    return (
        cand.withColumn("hamming", dist.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


@stage("dedup.fuzzy")
def fuzzy_dedup(
    df: DataFrame,
    threshold: float = 0.7,
    num_hashes: int | None = None,
    bands: int | None = None,
    shingles: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """End-to-end fuzzy dedup — the full scale pipeline as ONE
    operator: MinHash/LSH candidate generation → exact-Jaccard
    verification restricted to the candidates → connected components →
    canonical keep per cluster. Returns every input doc as
    ``(doc_id, cluster_id, is_kept)`` where ``cluster_id`` is the min
    doc_id of the verified near-dup component (the doc itself when it
    has no near-dups) and ``is_kept`` marks the one retained copy.

    This is the composition d02's docstring promises: the quadratic
    exact operator (candidate blowup Σ df(t)²) replaced by the linear
    band pass, with the exact Jaccard evaluated ONLY on the candidate
    pairs LSH surfaces. At 100 TB the stages are:

    - candidates: :func:`minhash_signatures` — one md5 pass + banding,
      one shuffle of (band_key, doc_id), output linear in corpus;
    - verify: candidates ⋈ postings on doc_a, then ⋈ postings on
      (doc_b, shingle) — cost O(candidates × doc shingles), never
      corpus²; false positives from banding die here, so the result is
      exact w.r.t. the threshold (modulo LSH false *negatives*, the
      documented recall trade of any banding scheme);
    - cluster: :func:`~..graph.cluster_assignments` min-label
      propagation, rounds = component diameter (near-dup components
      are shallow);
    - keep: one broadcast-joinable (doc, cluster) frame back onto the
      corpus ids.

    Banding defaults to the :func:`bands_for` corpus-size policy
    (scale-safe FP growth); pass explicit ``num_hashes``/``bands`` to
    pin (catalog entries, regression baselines do).
    """
    from nycdb_k8s_loader_spark.operators.graph import cluster_assignments

    num_hashes, bands = _resolve_banding(df, num_hashes, bands, threshold)
    edges = _lsh_verified_pairs(
        df, threshold, num_hashes, bands, shingles, id_col, text_col
    ).select("doc_a", "doc_b")

    clusters = cluster_assignments(edges)
    # shuffle_hash: both sides exchange on doc_id either way, but the
    # hint drops the SortMergeJoin's two per-side sorts (cluster rows
    # exist only for docs in some component — the smaller side builds
    # the per-partition hash table)
    out = df.select(F.col(id_col).alias("doc_id")).join(
        clusters.hint("shuffle_hash"), "doc_id", "left"
    )
    cluster = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    return out.select(
        "doc_id",
        cluster.alias("cluster_id"),
        (cluster == F.col("doc_id")).alias("is_kept"),
    )


# --- URL-level dedup ---------------------------------------------------------


def canonical_url(col: F.Column | str) -> F.Column:
    """Aggressive URL canonicalization — the URL-level dedup stage
    web-corpus pipelines run BEFORE any text dedup (two fetches of the
    same page must collapse without comparing bodies): lowercase
    scheme and host, strip ``www.``, strip default ports (:80/:443),
    drop the query string and fragment entirely (the aggressive-
    canonicalization convention — tracking params make queries
    useless as identity), strip trailing slashes.

    Pure column expressions (regexp_extract/replace + lower + concat),
    so it runs inside whole-stage codegen and — deliberately — uses no
    regex backreferences, whose syntax differs between engines ($1 vs
    \\1) and would break the cross-engine oracle.
    """
    c = F.col(col) if isinstance(col, str) else col
    scheme = F.lower(
        F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    )
    host = F.lower(
        F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)
    )
    host = F.regexp_replace(host, r"^www\.", "")
    host = F.regexp_replace(host, r":(80|443)$", "")
    path = F.regexp_extract(
        c, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1
    )
    path = F.regexp_replace(path, r"/+$", "")
    return F.concat(scheme, F.lit("://"), host, path)


def url_dedup(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """One row per canonical URL: the kept doc (min id — deterministic)
    and the duplicate count. One map-side canonicalization pass + one
    groupBy shuffle carrying (canonical, id) — never text."""
    return (
        df.select(
            canonical_url(url_col).alias("canonical_url"),
            F.col(id_col),
        )
        .groupBy("canonical_url")
        .agg(
            F.min(id_col).alias("keep_doc_id"),
            F.count("*").alias("n_dups"),
        )
    )


# --- exact-substring (duplicated n-gram span) scrubbing ----------------------


# corpus size at which the hashed-gram frequency pass overtakes the
# string form: the string gram shuffle crosses the hashed form's fixed
# re-verify overhead around the sf0.1 corpus (~50k docs — BENCH_sf3
# measured string-form heap-thrash at sf3 where hashed ran ×1.92
# cleaner). Mirrors the bands_for precedent: size-derived default,
# explicit args pin.
_HASHED_GRAMS_DOC_THRESHOLD = 50_000


def _resolve_hashed_grams(df: DataFrame, hashed_grams: bool | None) -> bool:
    """Explicit values pass through; None routes by corpus size:
    ≥ ~50k docs selects the hashed global-frequency pass, below it
    the string form (smaller constants, and the cross-engine oracle
    pin). The probe asks only "are there ≥ threshold rows?" via a
    LIMIT-bounded count, never a full count — LocalLimit stops a
    bare scan at parquet speed (review finding: the first cut's
    df.count() doubled wall time for pipelines whose dominant cost
    is upstream of the scrub). CAVEAT (round-8 ADVICE): the
    early-stop only prunes the FINAL stage — if the input plan
    contains a shuffle (join/aggregate upstream), its map stages
    still run in full before LocalLimit can stop anything, so the
    default-None path pays one extra execution of the upstream plan.
    Pipelines with heavy derived inputs should pin ``hashed_grams``
    explicitly or probe a cached/checkpointed input."""
    if hashed_grams is not None:
        return hashed_grams
    n = _HASHED_GRAMS_DOC_THRESHOLD
    return df.limit(n).count() >= n


def duplicated_span_starts(
    df: DataFrame,
    ngram: int = 5,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    hashed_grams: bool | None = None,
) -> DataFrame:
    """(doc, start_pos) of every length-``ngram`` token window whose
    exact text occurs ≥ min_count times ACROSS THE CORPUS (within-doc
    repeats count) — the detection half of exact-substring dedup
    (the Lee et al. 'Deduplicating Training Data Makes Language
    Models Better' removal criterion, re-expressed relationally).

    Scale shape: positional grams are one posexplode over the
    codegen'd shingle array (map-side); the global frequency pass is
    ONE groupBy on the gram string; dup starts come back via an
    equi-join of grams against the (filtered, far smaller) duplicated-
    gram set. Shuffles carry grams + (id, pos) ints, never documents.

    ``hashed_grams=True`` is the 100 TB form of the frequency pass
    (round-6 brief #5: the string form's shuffle grew 7.6→75.7 MB
    across one scale step): the GLOBAL count shuffles 8-byte
    ``xxhash64(gram)`` keys instead of ~50-char strings, then exact
    gram strings are re-counted ONLY on the candidate subset (every
    occurrence of any hash-duplicated gram — all true copies share the
    hash, so the subset count IS the global count for them) to kill
    hash collisions, which stop being ignorable at corpus scale
    (~G²/2⁶⁵ colliding gram pairs ≈ tens of thousands at 10¹² grams).
    Same output by construction; the catalog entry keeps the string
    form as the oracle pin and TestHashedGramTwin pins equality.

    ``hashed_grams=None`` (the default) resolves by CORPUS SIZE
    (:func:`_resolve_hashed_grams`, the :func:`bands_for` precedent):
    ≥ ~50k docs routes to the hashed pass automatically, so a bare
    caller at deploy scale gets the scale-safe plan without knowing
    the knob exists; explicit True/False pins a form.
    """
    hashed_grams = _resolve_hashed_grams(df, hashed_grams)
    words = df.select(
        F.col(id_col),
        F.filter(
            F.split(normalized_text(text_col), " "), lambda w: w != ""
        ).alias("ws"),
    ).filter(F.size("ws") >= ngram)
    grams = words.select(
        F.col(id_col),
        F.posexplode(shingle_array(F.col("ws"), ngram)).alias("pos", "gram"),
    )
    if hashed_grams:
        # scale form: the global count pass shuffles map-side
        # PARTIAL-aggregated 8-byte gh counts (distinct-per-partition,
        # far below gram volume), then exact strings are re-counted on
        # the candidate subset only. A shared-exchange rewrite was
        # measured AGAINST here (r13): column pruning forks the count
        # branch into its own exchange anyway, and the "shared" form
        # loses the partial aggregation — strictly more shuffled
        # bytes. Kept as-is deliberately.
        hgrams = grams.select(
            F.col(id_col), "pos", "gram", F.xxhash64("gram").alias("gh")
        )
        dup_h = (
            hgrams.groupBy("gh")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") >= min_count)
            .select("gh")
        )
        cand = hgrams.join(dup_h.hint("shuffle_hash"), "gh")
        dup_grams = (
            cand.groupBy("gram")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") >= min_count)
            .select("gram")
        )
        return cand.join(
            dup_grams.hint("shuffle_hash"), "gram"
        ).select(id_col, "pos")
    # r13, string form (the ≤ ~50k-doc side of the size policy): ONE
    # windowed count over the gram-partitioned rows replaces the
    # count-aggregate + join-back pair. The old shape generated the
    # positional grams TWICE (once per branch — two document scans,
    # two shingle-concat explodes; the Generate is the dominant CPU
    # here) and paid two exchanges; this generates once and shuffles
    # once. Plan diff on t13: gram-side Generate ×2 → ×1, Exchanges
    # 4 → 3. The window buffers one gram's occurrences per group —
    # bounded at string-form corpus sizes by policy; the hashed branch
    # above stays the streaming count+join shape for deploy scale.
    w = Window.partitionBy("gram")
    return (
        grams.withColumn("__n", F.count("*").over(w))
        .filter(F.col("__n") >= min_count)
        .select(id_col, "pos")
    )


def exact_substring_scrub(
    df: DataFrame,
    ngram: int = 5,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    hashed_grams: bool | None = None,
) -> DataFrame:
    """Remove duplicated spans from every document: tokens covered by
    any duplicated ``ngram`` window are dropped, the rest re-joined in
    order. Returns (doc_id, n_tokens, dup_tokens, cleaned_text) for
    every input doc — including untouched ones (dup_tokens = 0).
    ``hashed_grams`` selects the hashed global-frequency pass (see
    :func:`duplicated_span_starts` — identical output, 8-byte shuffle
    keys); None (default) resolves by corpus size — ≥ ~50k docs routes
    hashed automatically.

    The cover set is computed token-wise (explode of the L-window over
    dup starts only, distinct) — interval merging as a set union, no
    per-doc fold; the final filter is an index lambda over the
    document's own token array (covered positions broadcast back via
    one groupBy+join keyed on the doc id).
    """
    words = df.select(
        F.col(id_col),
        F.filter(
            F.split(normalized_text(text_col), " "), lambda w: w != ""
        ).alias("ws"),
    )
    starts = duplicated_span_starts(
        df, ngram, min_count, id_col, text_col, hashed_grams=hashed_grams
    )
    return _scrub_rebuild(words, starts, ngram, id_col)


def _scrub_rebuild(
    words: DataFrame, starts: DataFrame, ngram: int, id_col: str
) -> DataFrame:
    """Token cover set + index-lambda rebuild, shared by the inline
    and from-state scrub forms."""
    # sort_array(collect_set) ≡ the old distinct → sort_array(
    # collect_list) — same sorted distinct cover array, one exchange
    # instead of two (the standalone distinct paid its own (id, t)
    # shuffle before the per-doc collect shuffle), and collect_set
    # still dedups map-side in the partial aggregate (r13, guide §2.4)
    covered = (
        starts.select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (ngram - 1))
            ).alias("t"),
        )
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("t")).alias("cov"))
    )
    return words.join(covered.hint("shuffle_hash"), id_col, "left").select(
        F.col(id_col),
        F.size("ws").alias("n_tokens"),
        F.coalesce(F.size("cov"), F.lit(0)).alias("dup_tokens"),
        F.concat_ws(
            " ",
            F.filter(
                "ws",
                lambda w, i: ~F.coalesce(
                    F.array_contains("cov", i), F.lit(False)
                ),
            ),
        ).alias("cleaned_text"),
    )


def duplicated_gram_state(
    df: DataFrame,
    ngram: int = 5,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    hashed_grams: bool | None = None,
    with_counts: bool = False,
) -> DataFrame:
    """The persistable DUPLICATED-GRAM state for incremental span
    scrubbing: one ``(gram)`` row per exact ``ngram``-token window
    occurring ≥ ``min_count`` times corpus-wide — published once per
    corpus refresh like dedup_signature_state. The state stores EXACT
    gram strings even when the frequency pass ran hashed (the inline
    discipline: candidates are re-verified on strings, so a persisted
    hash collision can never scrub an innocent span later); its size
    is the DUPLICATED-gram set only, far smaller than the corpus.

    ``with_counts=True`` keeps the corpus occurrence count ``n`` per
    gram — the LIFECYCLE form enabling decrement-on-retire
    (:func:`~nycdb_k8s_loader_spark.operators.state_lifecycle.
    duplicated_gram_state_compact`) instead of a full rebuild."""
    hashed_grams = _resolve_hashed_grams(df, hashed_grams)
    words = df.select(
        F.col(id_col),
        F.filter(
            F.split(normalized_text(text_col), " "), lambda w: w != ""
        ).alias("ws"),
    ).filter(F.size("ws") >= ngram)
    grams = words.select(
        F.col(id_col),
        F.posexplode(shingle_array(F.col("ws"), ngram)).alias("pos", "gram"),
    )
    if hashed_grams:
        hgrams = grams.select("gram", F.xxhash64("gram").alias("gh"))
        dup_h = (
            hgrams.groupBy("gh")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") >= min_count)
            .select("gh")
        )
        counted = (
            hgrams.join(dup_h.hint("shuffle_hash"), "gh")
            .groupBy("gram")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") >= min_count)
        )
    else:
        counted = (
            grams.groupBy("gram")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") >= min_count)
        )
    return counted if with_counts else counted.select("gram")


def exact_substring_scrub_from_state(
    state: DataFrame,
    batch: DataFrame,
    ngram: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Scrub an incoming batch of spans duplicated IN THE CORPUS,
    using a PERSISTED :func:`duplicated_gram_state` — the continuous-
    ingestion form of :func:`exact_substring_scrub` (the Lee et al.
    removal criterion against a fixed reference corpus): a batch
    token is dropped iff covered by an ``ngram`` window whose exact
    text is in the published dup-gram set. Intra-batch repetition is
    out of scope (the incremental_dedup contract), so verdicts are
    split-invariant — the streaming twin shares the batch oracle.
    Same output contract as :func:`exact_substring_scrub`; ``ngram``
    MUST match how the state was built (a mismatch makes every
    window miss — pin it where you pin the state).

    100 TB shape: batch windows equi-join the state gram set
    (shuffle_hash — the state inherits a scan-size estimate and must
    never broadcast by it), then the shared cover-set rebuild; per-
    increment work is linear in the batch plus its hits. Corpus text
    never enters the plan."""
    words = batch.select(
        F.col(id_col),
        F.filter(
            F.split(normalized_text(text_col), " "), lambda w: w != ""
        ).alias("ws"),
    )
    grams = words.filter(F.size("ws") >= ngram).select(
        F.col(id_col),
        F.posexplode(shingle_array(F.col("ws"), ngram)).alias("pos", "gram"),
    )
    starts = grams.join(
        state.select("gram").hint("shuffle_hash"), "gram"
    ).select(id_col, "pos")
    return _scrub_rebuild(words, starts, ngram, id_col)


def benchmark_contamination(
    train: DataFrame,
    bench: DataFrame,
    shingles: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Eval-set decontamination — the n-gram-overlap rule every LLM
    training pipeline runs before training (the GPT-3/PaLM 13-gram
    convention, parameterized): a training document is contaminated
    when it shares ANY ``shingles``-gram with the benchmark/eval
    corpus. Returns one row per training doc:
    ``(id_col, n_shared_ngrams, is_contaminated)`` where
    ``n_shared_ngrams`` counts the doc's DISTINCT n-grams that appear
    anywhere in the benchmark set.

    100 TB shape: the benchmark side is eval-set-sized by definition —
    its distinct n-gram set broadcasts; the training corpus streams
    through one hash join on the n-gram string plus a per-doc count
    (map-side combinable). No shuffle ever carries document bodies,
    and training-side work is linear in corpus n-grams regardless of
    benchmark composition.
    """
    tp = shingle_postings(train, shingles, id_col, text_col)
    bp = (
        shingle_postings(bench, shingles, id_col, text_col)
        .select("w")
        .distinct()
    )
    hits = (
        tp.join(F.broadcast(bp), "w")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared_ngrams"))
    )
    return (
        train.select(F.col(id_col))
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_shared_ngrams", F.lit(0)).alias("n_shared_ngrams"),
            F.col("n_shared_ngrams").isNotNull().alias("is_contaminated"),
        )
    )


def dedup_signature_state(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int | None = None,
    bands: int | None = None,
    shingles: int = 3,
    target_sim: float = 0.7,
) -> DataFrame:
    """The persistable per-corpus dedup state — everything the
    incremental probe needs, with NO document bodies: one tall frame
    ``(id_col, kind, band, key)`` holding

    - ``kind='hash'``: ``key`` = md5 of the normalized text (the exact
      probe's identity; band NULL);
    - ``kind='band'``: ``key`` = LSH band key at band index ``band``
      (the near probe's candidate generator);
    - ``kind='shingle'``: ``key`` = one distinct k-word shingle (the
      near probe's exact-Jaccard verifier);
    - ``kind='meta'``: ONE self-description row
      (``key = 'num_hashes=<n>;bands=<b>;shingles=<s>'``, id/band
      NULL) recording the parameterization the signatures were built
      with, so :func:`incremental_dedup_from_state` can reconstruct
      compatible batch-side keys without out-of-band bookkeeping —
      probing a state with mismatched banding silently finds zero
      candidates, the worst failure mode.

    Banding defaults to the :func:`bands_for` policy on the corpus
    count (``target_sim`` is its similarity knob); pass explicit
    values to pin. Write the state once per corpus refresh (a
    published table like any other); each increment then costs
    O(batch + candidates) and never re-reads corpus text — the
    production loop d11's docstring promised. The shingle section
    dominates storage (~corpus-sized tokens); at deploy scale store
    ``key`` dictionary-encoded parquet (free for repeated shingles) or
    swap in the 60-bit hashed form.
    """
    num_hashes, bands = _resolve_banding(df, num_hashes, bands, target_sim)
    spark = df.sparkSession
    # build the meta row with the input's ACTUAL id type (not a
    # hardcoded `long` DDL): string ids must not coerce every
    # hash/band row's id through union type widening, non-atomic id
    # types must not fail at analysis, and a select sidesteps DDL
    # quoting for exotic column names
    meta = spark.range(1).select(
        F.lit(None).cast(df.schema[id_col].dataType).alias(id_col),
        F.lit("meta").alias("kind"),
        F.lit(None).cast("int").alias("band"),
        F.lit(
            f"num_hashes={num_hashes};bands={bands};shingles={shingles}"
        ).alias("key"),
    )
    hashes = df.select(
        F.col(id_col),
        F.lit("hash").alias("kind"),
        F.lit(None).cast("int").alias("band"),
        F.md5(normalized_text(text_col)).alias("key"),
    )
    bnd = band_keys(
        df, num_hashes=num_hashes, bands=bands,
        id_col=id_col, text_col=text_col, shingles=shingles,
    ).select(
        F.col(id_col),
        F.lit("band").alias("kind"),
        F.col("band").cast("int").alias("band"),
        F.col("band_key").alias("key"),
    )
    posts = shingle_postings(df, shingles, id_col, text_col).select(
        F.col(id_col),
        F.lit("shingle").alias("kind"),
        F.lit(None).cast("int").alias("band"),
        F.col("w").alias("key"),
    )
    return hashes.unionByName(bnd).unionByName(posts).unionByName(meta)


def _state_banding(
    state: DataFrame,
    num_hashes: int | None,
    bands: int | None,
    shingles: int | None,
) -> tuple[int, int, int]:
    """Resolve the banding a persisted state was built with from the
    state's ``kind='meta'`` self-description row (one collect of a
    single tiny row). A state written before meta rows existed must be
    probed with explicit values — mismatched banding would silently
    miss every candidate, so meta-less states raise instead of
    guessing. When BOTH a meta row and explicit values are present,
    they must AGREE: an explicit value that contradicts the recorded
    parameterization would rebuild batch-side keys in a different
    space than the persisted corpus keys and find near-zero candidates
    — the exact silent failure the meta row exists to prevent — so
    that raises too."""
    rows = (
        state.filter(F.col("kind") == "meta").select("key").limit(2).collect()
    )
    if len(rows) != 1:
        if num_hashes is not None and bands is not None and shingles is not None:
            return num_hashes, bands, shingles
        raise ValueError(
            "incremental_dedup_from_state: state has no single "
            "kind='meta' self-description row — pass explicit "
            "num_hashes/bands/shingles matching how the state was built"
        )
    meta = dict(kv.split("=", 1) for kv in rows[0]["key"].split(";"))
    resolved = (
        int(meta["num_hashes"]), int(meta["bands"]), int(meta["shingles"])
    )
    for name, explicit, recorded in zip(
        ("num_hashes", "bands", "shingles"),
        (num_hashes, bands, shingles),
        resolved,
    ):
        if explicit is not None and explicit != recorded:
            raise ValueError(
                f"incremental_dedup_from_state: explicit {name}="
                f"{explicit} contradicts the state's recorded "
                f"{name}={recorded} — probing with mismatched banding "
                "silently finds zero candidates; drop the argument or "
                "rebuild the state"
            )
    return resolved


def incremental_dedup_from_state(
    state: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int | None = None,
    bands: int | None = None,
    shingles: int | None = None,
) -> DataFrame:
    """:func:`incremental_dedup` probing a PERSISTED corpus state
    (:func:`dedup_signature_state` output, e.g. read back from a
    published table) instead of recomputing corpus signatures — the
    production form of the continuous-ingestion loop. Verdicts are
    identical to the recompute form by construction: both sides run
    the same probe over the same state values (pinned by
    tests/test_operators.py::TestIncrementalDedupState).

    Banding comes from the state's own ``kind='meta'``
    self-description (see :func:`dedup_signature_state`) — batch-side
    band keys MUST be built with the parameterization the state was.
    Explicit arguments exist for meta-less legacy states (where all
    three are required); on a meta-bearing state they are VALIDATED
    against the recorded values and a contradiction raises.

    100 TB shape: corpus text never enters the plan. The exact probe
    is a semi-join on 32-char hashes; candidates come from one
    equi-join of batch band keys against corpus band keys (cross-side
    ONLY — in-corpus and in-batch pairs are never generated, unlike
    the union-then-filter shape, so per-increment work is linear in
    the batch plus its candidates); exact Jaccard runs on candidates'
    shingle postings, sizes from two count aggregates.
    """
    num_hashes, bands, shingles = _state_banding(
        state, num_hashes, bands, shingles
    )
    c_hashes = (
        state.filter(F.col("kind") == "hash").select(F.col("key").alias("__h"))
        .distinct()
    )
    c_bands = state.filter(F.col("kind") == "band").select(
        F.col(id_col).alias("__cid"), "band", F.col("key").alias("band_key")
    )
    c_posts = state.filter(F.col("kind") == "shingle").select(
        F.col(id_col).alias("__cid"), F.col("key").alias("w")
    )

    # shuffle_hash hints throughout: every state/posting/band frame
    # here is DERIVED (explode, union, aggregate) from a scan whose
    # sizeInBytes it inherits, so Catalyst may broadcast a corpus-wide
    # table because the parquet behind it is small — measured x8.3
    # wall inflation on a x3 step when the 4.3M-row batch postings
    # table rode the 64m threshold into a broadcast. Hash sides are
    # the bounded ones (per-partition after the equi-shuffle).
    exact = (
        batch.select(F.col(id_col), F.md5(normalized_text(text_col)).alias("__h"))
        .join(c_hashes.hint("shuffle_hash"), "__h", "left_semi")
        .select(F.col(id_col))
        .withColumn("__e", F.lit(True))
    )

    b_bands = band_keys(
        batch, num_hashes=num_hashes, bands=bands,
        id_col=id_col, text_col=text_col, shingles=shingles,
    ).select(F.col(id_col).alias("__bid"), "band", "band_key")
    cands = (
        b_bands.hint("shuffle_hash").join(c_bands, ["band", "band_key"])
        .select("__bid", "__cid")
        .distinct()
    )

    # r13 (the _lsh_verified_pairs restructure applied to the batch
    # side): per-doc DISTINCT shingle sets via one collect_set
    # aggregate — batch text explodes ONCE (the old shape ran the
    # explode twice: verify join + the b_sizes aggregate) and |B|
    # rides the postings as ``nb``, folding into the verify aggregate
    # as min (constant per pair) instead of a tail join. The
    # corpus-side postings stay as two column-pruned state scans (the
    # c_sizes aggregate partial-aggregates map-side; different keys,
    # no shareable exchange).
    b_sets = (
        _shingle_explode(batch, shingles, id_col, text_col)
        .groupBy(id_col)
        .agg(F.collect_set("w").alias("__ws"))
    )
    b_posts = b_sets.select(
        F.col(id_col).alias("__bid"),
        F.size("__ws").alias("nb"),
        F.explode("__ws").alias("w"),
    )
    common = (
        cands.hint("shuffle_hash").join(b_posts, "__bid")
        .hint("shuffle_hash")
        .join(c_posts, ["__cid", "w"])
        .groupBy("__bid", "__cid")
        .agg(F.count("*").alias("n_common"), F.min("nb").alias("nb"))
    )
    c_sizes = c_posts.groupBy("__cid").agg(F.count("*").alias("nc"))
    jac = F.col("n_common") / (F.col("nb") + F.col("nc") - F.col("n_common"))
    near = (
        common.hint("shuffle_hash").join(c_sizes, "__cid")
        .filter(jac >= threshold)
        .select(F.col("__bid").alias(id_col))
        .distinct()
        .withColumn("__n", F.lit(True))
    )

    return (
        batch.select(F.col(id_col))
        .join(exact.hint("shuffle_hash"), id_col, "left")
        .join(near.hint("shuffle_hash"), id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("__e"), F.lit("exact_dup"))
            .when(F.col("__n"), F.lit("near_dup"))
            .otherwise(F.lit("keep"))
            .alias("verdict"),
        )
    )


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int | None = None,
    bands: int | None = None,
    shingles: int = 3,
) -> DataFrame:
    """Dedup an incoming batch AGAINST an existing corpus — the
    continuous-ingestion form of fuzzy dedup: each refresh dedups only
    the increment, never re-clustering the corpus.

    Returns one row per batch doc: ``(id_col, verdict)`` with verdict
    ``'exact_dup'`` (normalized content hash already in the corpus),
    ``'near_dup'`` (a verified cross-side Jaccard >= threshold match),
    else ``'keep'``. Exact wins over near when both hold. Ids must be
    disjoint across the two frames; intra-batch duplicates are out of
    scope here (run :func:`fuzzy_dedup` on the batch for those).

    This oracle-checkable form computes the corpus state inline and
    delegates to :func:`incremental_dedup_from_state`; a production
    loop persists :func:`dedup_signature_state` once per corpus
    refresh and calls the from-state form directly, so corpus text is
    scanned zero times per increment (see that function's docstring
    for the 100 TB shape).

    Banding defaults to :func:`bands_for` on the CORPUS count (the
    side the probe indexes); explicit values pin it.
    """
    num_hashes, bands = _resolve_banding(corpus, num_hashes, bands, threshold)
    state = dedup_signature_state(
        corpus, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, bands=bands, shingles=shingles,
    )
    return incremental_dedup_from_state(
        state, batch, id_col=id_col, text_col=text_col,
        threshold=threshold, num_hashes=num_hashes, bands=bands,
        shingles=shingles,
    )
