"""Text-analysis operators for corpus pipelines (north-star pack).

Language-ID heuristics, quality scoring, token counting, and document
fingerprinting over a `documents`-shaped DataFrame. Built-in functions
only — narrow projections with no shuffle, fully codegen'd; at 100 TB
these run at parquet-scan speed.

The fingerprint operator mirrors the reference's own normalization
trick: whitespace-collapse then compare
(/root/reference/load_dataset.py:155-160 uses re.sub(r"\\W+", " ") to
fingerprint function-SQL text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _ws_tokens(text: F.Column) -> F.Column:
    """Whitespace token count via length arithmetic (single-space
    delimited corpus): len(trim) - len(remove-spaces) + 1. Expressed
    this way so the DuckDB oracle is the same closed-form expression."""
    t = F.trim(text)
    return F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))) + 1


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Char count, whitespace token count, BPE-ish token estimate
    (≈1.3 tokens per word for English-like text)."""
    text = F.col(text_col)
    n_tokens = _ws_tokens(text)
    return df.select(
        "doc_id",
        F.length(text).cast("long").alias("n_chars"),
        n_tokens.alias("n_tokens_ws"),
        F.round(n_tokens * 1.3, 2).alias("est_bpe_tokens"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality heuristics: punctuation ratio, average token length, and
    a keep/flag bucket (length + density thresholds)."""
    text = F.col(text_col)
    n_chars = F.length(text)
    n_tokens = _ws_tokens(text)
    stripped = F.replace(
        F.replace(F.replace(text, F.lit("."), F.lit("")), F.lit(","), F.lit("")),
        F.lit("!"),
        F.lit(""),
    )
    n_punct = n_chars - F.length(stripped)
    avg_token_len = n_chars * F.lit(1.0) / n_tokens
    return df.select(
        "doc_id",
        "lang",
        F.round(n_punct * F.lit(1.0) / n_chars, 4).alias("punct_ratio"),
        F.round(avg_token_len, 4).alias("avg_token_len"),
        F.when((n_tokens >= 40) & (avg_token_len <= 12), "keep")
        .otherwise("flag")
        .alias("quality_bucket"),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-token language heuristic: count high-frequency English
    stopword occurrences by substring-removal length arithmetic. The
    rule is deterministic and shared verbatim with the oracle."""
    text = F.col(text_col)

    def marker_count(marker: str) -> F.Column:
        return F.length(text) - F.length(F.replace(text, F.lit(marker), F.lit("")))

    the_count = marker_count(" the ")
    a_count = marker_count(" a ")
    return df.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.when(the_count >= 5 * 5, "en")  # each hit removes len(' the ')=5 chars
        .when(a_count >= 3 * 3, "en")
        .otherwise("und")
        .alias("predicted_lang"),
    )


def doc_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace-normalized md5 fingerprint + 8-char shard prefix."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    fp = F.md5(normalized)
    return df.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 8).alias("shard_key"),
    )


STOPWORDS = (
    "the", "a", "an", "and", "of", "to", "in", "is", "on", "for",
)


def regex_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """BPE-ish regex tokenization + stopword ratio.

    Tokens = maximal ``[a-z0-9]+`` runs of the lowercased text plus
    every non-alphanumeric non-space symbol — the word/punct split a
    byte-pair pre-tokenizer makes before merges. Pattern is RE2-safe
    (no lookarounds) so Spark's Java regex and DuckDB's RE2 agree
    byte-for-byte. Staged select materializes the token array once;
    everything stays codegen'd — parquet-scan speed at 100 TB.
    """
    toks = F.expr(
        f"regexp_extract_all(lower({text_col}), '[a-z0-9]+|[^a-z0-9 ]', 0)"
    )
    words = F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")
    staged = df.select(
        "doc_id",
        toks.alias("__toks"),
        words.alias("__words"),
    )
    n_words = F.size("__words")
    n_stop = F.size(
        F.filter(F.col("__words"), lambda w: w.isin(*STOPWORDS))
    )
    return staged.select(
        "doc_id",
        F.size("__toks").cast("long").alias("n_bpe_tokens"),
        n_words.cast("long").alias("n_words"),
        # NULL (not an error or NaN) for wordless docs — guarded the
        # same way in the oracle SQL so parity holds on any corpus
        F.when(n_words > 0, F.round(n_stop * F.lit(1.0) / n_words, 4))
        .alias("stopword_ratio"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 50,
    stride: int = 40,
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap —
    the tokenize-and-chunk step of an LLM training/RAG pipeline
    (window of ``chunk_tokens`` whitespace tokens every ``stride``,
    i.e. ``chunk_tokens - stride`` tokens of overlap).

    Entirely JVM-side higher-order array expressions: tokenize once,
    generate start offsets with ``sequence``, window with ``slice``,
    one ``posexplode`` — no Python in the path, and the explode happens
    after the scan so a 100 TB corpus chunks map-side with zero
    shuffle. Row growth is ~n_tokens/stride per doc — size
    ``maxPartitionBytes`` for the post-explode width, not the input.
    Empty documents yield no chunks.
    """
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), " "),
        lambda w: w != "",
    )
    base = df.select(F.col(id_col), toks.alias("l"))
    starts = F.when(
        F.size("l") > 0,
        F.sequence(F.lit(0), F.size("l") - 1, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    chunks = base.select(
        id_col,
        F.col("l"),
        F.posexplode(starts).alias("chunk_id", "start"),
    ).select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.slice(F.col("l"), F.col("start") + 1, chunk_tokens).alias("ch"),
    )
    return chunks.filter(F.size("ch") > 0).select(
        id_col,
        "chunk_id",
        F.size("ch").cast("long").alias("n_tokens"),
        F.array_join("ch", " ").alias("chunk_text"),
    )


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    context_tokens: int = 2048,
    shard_docs: int = 256,
    token_count_col: str | None = None,
) -> DataFrame:
    """Greedy concat-and-split sequence packing: documents are
    concatenated in id order and cut into fixed ``context_tokens``
    windows — the standard pretraining batch-packing step (a document
    belongs to the window where its FIRST token lands). Output is one
    row per (shard, window) with document span and fill stats.

    TOKEN-COUNT CONTRACT (shared by c02/c04/p05/p07): production
    packing/sharding/mixing runs on REAL tokenizer counts, not
    whitespace words.  Pass ``token_count_col`` naming a precomputed
    int token-count column (a BPE tokenizer applied executor-side
    upstream — count once, reuse in every token-denominated op);
    ``None`` falls back to the whitespace length arithmetic
    (``_ws_tokens``), the oracle-stable default.  Injecting the
    whitespace count reproduces the default exactly (pytest-pinned);
    the c10 catalog row pins the injected path against a DuckDB
    oracle on counts that DIFFER from whitespace.

    Scale shape: packing is inherently sequential, so it runs per
    SHARD (``id_col div shard_docs`` — contiguous id ranges), exactly
    how a distributed pipeline packs per input split. The cumulative
    window partitions by shard: parallelism = shard count, and no
    single-partition global window exists at any corpus size. Window
    boundaries are deterministic functions of (id order, token
    counts), so reruns and engines agree.
    """
    from pyspark.sql import Window

    n_tokens = (
        F.col(token_count_col).cast("long")
        if token_count_col
        else _ws_tokens(F.col(text_col)).cast("long")
    )
    base = df.select(
        F.col(id_col),
        F.floor(F.col(id_col) / shard_docs).alias("shard"),
        n_tokens.alias("n"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_window = base.select(
        "shard",
        id_col,
        "n",
        F.floor(
            F.coalesce(F.sum("n").over(w), F.lit(0)) / context_tokens
        ).alias("window_id"),
    )
    return with_window.groupBy("shard", "window_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n").alias("n_tokens"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
    )


def bigram_lm_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus bigram-LM quality signal (the CCNet/Wenzek et al. idea of
    scoring documents by a language model, expressed with the corpus
    itself as the LM): build add-one-smoothed bigram probabilities from
    corpus-wide counts and score each document by its mean token
    log-probability ``ln((c(w1,w2)+1) / (c(w1)+|V|))``.

    Low (very negative) scores mark documents whose word transitions
    are rare in the corpus — boilerplate, shuffled text, wrong-language
    contamination; high scores mark formulaic/duplicated text.

    Scale shape: two count shuffles (unigram, bigram) plus one join of
    bigram instances against bigram counts, all keyed on short tokens —
    the shuffle carries (w1, w2, counts), never document bodies. The
    vocabulary size is a 1-row aggregate broadcast into the scoring
    plan; the unigram table is Zipf-small and AQE broadcasts it. At
    100 TB the bigram-count join is the big shuffle, and it is exactly
    the word-count shape Spark's partial aggregation is built for.
    """
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), " "), lambda w: w != ""
    )
    base = df.select("doc_id", toks.alias("l")).filter(F.size("l") >= 2)
    uni = (
        base.select(F.explode("l").alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c_uni"))
    )
    vocab = uni.agg(F.count("*").alias("v_size"))
    big_inst = base.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("l", F.lit(1), F.size("l") - 1),
                F.slice("l", F.lit(2), F.size("l") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    bigc = big_inst.groupBy("w1", "w2").agg(F.count("*").alias("c_big"))
    scored = (
        big_inst.join(bigc.hint("shuffle_hash"), ["w1", "w2"])
        .join(uni.hint("shuffle_hash"), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log(
                (F.col("c_big") + 1).cast("double")
                / (F.col("c_uni") + F.col("v_size")).cast("double")
            ).alias("logp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("logp"), 4).alias("avg_logprob"),
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` characteristic terms per document by TF-IDF, with a
    LOG-FREE inverse-document-frequency (``score = tf / df``): the
    ranking a keyword extractor wants, expressed so every score is an
    exact small-integer ratio — bit-identical across engines (ln()'s
    last-ulp differences would make a hash-compared oracle flaky; the
    log only compresses the range, it doesn't change per-term order
    because tf/df and tf*ln(N/df) are both monotone in 1/df at fixed
    tf... rank ties are broken by the term itself either way).

    Physical shape at 100 TB: term frequencies are ONE map-side-
    combined shuffle on (doc, term); document frequencies aggregate
    the tf frame again on term (vocabulary-sized output — Zipf-skewed,
    but partial aggregation caps per-partition state at distinct-terms-
    per-partition); the tf⋈df join is vocabulary × corpus-terms on the
    term key (AQE broadcast when vocabulary fits); final top-k is a
    row_number window partitioned by doc — per-doc cardinality is
    bounded by doc length, never corpus-wide.
    """
    from pyspark.sql import Window

    from nycdb_k8s_loader_spark.operators.dedup import normalized_text

    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(normalized_text(text_col), " "),
                     lambda w: w != "")
        ).alias("w"),
    )
    tf = toks.groupBy(id_col, "w").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    # vocabulary-wide count tables are aggregate-derived: their size
    # estimate is the SCAN's, so without a hint Catalyst may broadcast
    # a 100 TB corpus's vocabulary (PERFORMANCE.md round-7)
    scored = tf.join(dfreq.hint("shuffle_hash"), "w").select(
        F.col(id_col),
        F.col("w").alias("term"),
        (F.col("tf") / F.col("df")).alias("score"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select(id_col, "term", "rnk", F.round("score", 6).alias("score"))
    )


def token_balanced_shards(
    df: DataFrame,
    num_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_count_col: str | None = None,
) -> DataFrame:
    """Assign documents to ``num_shards`` output shards with balanced
    token totals — the shard-writing step of a training-data pipeline
    (each shard becomes one output file group / data-loader stream, so
    a token-skewed split starves some trainer ranks).

    Boustrophedon (snake) assignment over the global token-count
    ranking: docs sorted by tokens desc, dealt 0,1,…,S-1,S-1,…,1,0 —
    each full snake of 2S docs gives every shard one large and one
    small doc, bounding the shard-total spread by one doc's tokens per
    snake. Deterministic (rank ties broken by doc id), unlike greedy
    least-loaded bin packing which needs a sequential pass.

    The global ranking uses :func:`~..relational.distributed_rank`
    (range-repartition + per-partition row_number + broadcast offsets)
    — NO single-partition window, so the sort scales to any corpus.
    Returns one row per shard: (shard_id, n_docs, total_tokens).

    ``token_count_col``: precomputed tokenizer counts (the shared
    token-count contract — see :func:`pack_sequences`); None = the
    whitespace default.
    """
    from nycdb_k8s_loader_spark.operators.relational import distributed_rank

    n_tokens = (
        F.col(token_count_col).cast("long")
        if token_count_col
        else _ws_tokens(F.col(text_col)).cast("long")
    )
    toks = df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
    ).withColumn("neg_tokens", -F.col("n_tokens"))
    ranked = distributed_rank(toks, ["neg_tokens", id_col], rank_col="rn")
    snake = (F.col("rn") - 1) % (2 * num_shards)
    shard = F.when(snake < num_shards, snake).otherwise(
        2 * num_shards - 1 - snake
    )
    return (
        ranked.select(shard.cast("long").alias("shard_id"), "n_tokens")
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


def filter_funnel(
    df: DataFrame,
    stages: list[tuple[str, F.Column]],
    text_col: str = "text",
) -> DataFrame:
    """Quality-filter funnel: attribute every doc to the FIRST filter
    stage that rejects it (or 'kept'), with per-stage doc and char
    volumes — the rejection audit every corpus pipeline needs before
    anyone trusts a "we filtered 40%" claim.

    ``stages`` are (name, fail_condition) pairs evaluated in order;
    the whole funnel is ONE coalesced CASE expression per row (pure
    map-side, codegen'd) feeding ONE tiny groupBy — cost at 100 TB is
    a single corpus scan regardless of stage count, vs the naive
    one-filter-one-pass loop that rescans per stage.
    """
    attributed = F.coalesce(
        *[F.when(cond, F.lit(name)) for name, cond in stages],
        F.lit("kept"),
    )
    return (
        df.select(
            attributed.alias("stage"),
            F.length(F.col(text_col)).alias("chars"),
        )
        .groupBy("stage")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("chars").alias("total_chars"),
        )
    )


def length_bucket_batches(
    df: DataFrame,
    batch_size: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Length-bucketed batch assembly: group docs into power-of-two
    token-length buckets and deal each bucket into fixed-size batches
    in a deterministic pseudo-random order — the sequence-length
    bucketing trick that keeps padding waste bounded while preserving
    shuffle-like randomization inside each bucket.

    Output: ``(id_col, n_tokens, bucket, batch_idx)`` where
    ``bucket = floor(log2(n_tokens)) + 1`` (computed as the binary
    digit count, exact integer arithmetic — no float log2 whose ulp
    could flip a power-of-two boundary between engines) and
    ``batch_idx`` is 0-based within the bucket, at most ``batch_size``
    docs per (bucket, batch_idx).

    100 TB shape: the in-bucket order comes from a GLOBAL total-order
    rank over (bucket, md5(id), id) via ``distributed_rank`` — one
    range repartition, rank offsets from a metadata-scale window —
    then per-bucket start offsets (a ~20-row aggregate) broadcast
    back. A per-bucket row_number window would funnel each bucket
    (a constant fraction of the corpus) through ONE task; this plan
    never does.
    """
    from nycdb_k8s_loader_spark.operators.relational import distributed_rank

    n_tokens = _ws_tokens(F.col(text_col)).cast("long")
    sel = df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        F.length(F.bin(n_tokens)).cast("int").alias("bucket"),
        F.md5(F.col(id_col).cast("string")).alias("__hkey"),
    )
    ranked = distributed_rank(
        sel, ["bucket", "__hkey", id_col], rank_col="__grank"
    )
    starts = ranked.groupBy("bucket").agg(F.min("__grank").alias("__b0"))
    return ranked.join(F.broadcast(starts), "bucket").select(
        F.col(id_col),
        F.col("n_tokens"),
        F.col("bucket"),
        F.floor((F.col("__grank") - F.col("__b0")) / F.lit(batch_size))
        .cast("long")
        .alias("batch_idx"),
    )


def repetition_scores(
    df: DataFrame,
    shingles: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Within-document repetition metrics — the Gopher/MassiveText
    quality-filter family's repetition rules: documents dominated by
    repeated n-grams are boilerplate/spam and get filtered before
    training. Per document:

    - ``n_ngrams``: total (non-distinct) word ``shingles``-grams;
    - ``dup_ngram_frac``: 1 - distinct/total — the duplicated-n-gram
      fraction;
    - ``top_ngram_frac``: the most frequent n-gram's share of all
      n-grams (the "top n-gram" rule).

    100 TB shape: one explode over the per-row shingle array into a
    (doc, gram) partial-agg count, then a per-doc aggregate — both
    groupBys map-side combinable, the shuffle carries (id, gram hash,
    count), never text bodies beyond the gram strings themselves.
    """
    from nycdb_k8s_loader_spark.operators.dedup import (
        normalized_text,
        shingle_array,
    )

    words = df.select(
        F.col(id_col),
        F.filter(
            F.split(normalized_text(text_col), " "), lambda w: w != ""
        ).alias("words"),
    )
    grams = words.select(
        F.col(id_col),
        F.explode(shingle_array(F.col("words"), shingles)).alias("w"),
    )
    per_gram = grams.groupBy(id_col, "w").agg(F.count("*").alias("c"))
    return (
        per_gram.groupBy(id_col)
        .agg(
            F.sum("c").alias("n_ngrams"),
            F.count("*").alias("n_distinct"),
            F.max("c").alias("top_c"),
        )
        .select(
            F.col(id_col),
            F.col("n_ngrams"),
            F.round(
                F.lit(1.0) - F.col("n_distinct") / F.col("n_ngrams"), 4
            ).alias("dup_ngram_frac"),
            F.round(F.col("top_c") / F.col("n_ngrams"), 4).alias(
                "top_ngram_frac"
            ),
        )
    )


#: RE2-safe PII patterns (no lookarounds, no backrefs) so Spark's Java
#: regex and DuckDB's RE2 agree byte-for-byte. Case handling is spelled
#: out in the class ([A-Za-z]) instead of an ``(?i)`` flag: Java's
#: default (?i) folds ASCII-only while RE2 folds full Unicode (e.g.
#: U+212A KELVIN SIGN -> k), so an inline flag could diverge on exotic
#: input; explicit classes cannot.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b[0-9]{3}-[0-9]{4}\b"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_scrub(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """PII detection + redaction — the scrubbing pass every
    training-data pipeline runs before release: count and mask
    email / phone / IPv4 spans. Returns one row per doc:
    ``(doc_id, n_emails, n_phones, n_ipv4, has_pii, redacted)`` with
    spans replaced by ``[EMAIL]``/``[PHONE]``/``[IP]`` tokens.

    Order matters and is pinned: emails are masked FIRST (an email's
    domain can contain an IPv4-shaped span), then phones, then IPs —
    the oracle applies the same cascade. Counts come from
    regexp_extract_all on the ORIGINAL text, so a span consumed by an
    earlier mask still counts for its own category.

    Non-PII content is preserved VERBATIM: detection and masking both
    run on the original text with case spelled out in the patterns
    ([A-Za-z]), so a scrub pass never case-folds the released corpus
    (a scrubber that lowercases everything destroys the text it is
    supposed to protect).

    100 TB shape: pure codegen'd regex expressions over the scan — no
    shuffle, no Python; runs at parquet-scan speed like the rest of
    the t-pack.
    """
    text = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(text, F.lit(PII_EMAIL), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all(text, F.lit(PII_PHONE), F.lit(0)))
    n_ipv4 = F.size(F.regexp_extract_all(text, F.lit(PII_IPV4), F.lit(0)))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, PII_EMAIL, "[EMAIL]"),
            PII_PHONE,
            "[PHONE]",
        ),
        PII_IPV4,
        "[IP]",
    )
    return df.select(
        F.col(id_col),
        n_emails.cast("long").alias("n_emails"),
        n_phones.cast("long").alias("n_phones"),
        n_ipv4.cast("long").alias("n_ipv4"),
        ((n_emails + n_phones + n_ipv4) > 0).alias("has_pii"),
        redacted.alias("redacted"),
    )


_GOPHER_OUTPUTS = (
    "n_words", "mean_word_len", "alpha_word_frac", "stopword_hits",
    "ok_word_count", "ok_mean_word_len", "ok_alpha_frac", "ok_stopwords",
    "keep",
)


def gopher_quality_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_frac: float = 0.8,
    min_stopword_hits: int = 2,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher/MassiveText document-level quality rules — the composite
    pre-training filter (Rae et al. 2021 §A1.1): word-count bounds,
    mean-word-length bounds, alphabetic-word fraction, and the
    "contains >= 2 of a small stopword set" signal, plus the overall
    keep verdict. The repetition members of the family live in
    :func:`repetition_scores` (t09/t15); this operator is the
    length/lexical half.

    Every statistic is an exact integer or an exact integer ratio
    (mean word length = non-space chars / words), so the rule
    comparisons and the 4 dp display rounding are bit-identical in the
    DuckDB oracle. One codegen'd projection over the scan — no
    shuffle, no Python; parquet-scan speed at 100 TB.

    ``passthrough`` names input columns to carry verbatim onto the
    output (r14): fused consumers (the c07/c08 verdict spine) ride the
    SAME corpus pass for the verdict AND the survivor payload instead
    of re-scanning the corpus to fetch it. A passthrough name equal to
    the id, an output statistic or an internal column raises
    ``ValueError`` instead of emitting an ambiguous duplicate column.
    """
    taken = {id_col, "__ws", "__nonspace", *_GOPHER_OUTPUTS}
    clash = sorted(taken.intersection(passthrough))
    if clash:
        raise ValueError(f"passthrough collides with output columns: {clash}")
    text = F.col(text_col)
    staged = df.select(
        F.col(id_col),
        F.filter(
            F.split(F.lower(F.trim(text)), " "), lambda w: w != ""
        ).alias("__ws"),
        (F.length(F.replace(F.trim(text), F.lit(" "), F.lit("")))).alias(
            "__nonspace"
        ),
        *[F.col(c) for c in passthrough],
    )
    n_words = F.size("__ws")
    # try_divide: empty / whitespace-only docs have n_words == 0, and a
    # plain `/` under Spark 4's default ANSI mode raises a job-aborting
    # SparkArithmeticException.  NULL ratios (matching DuckDB's x/0)
    # with the ok_* verdicts coalesced to false keep the filter total:
    # a quality funnel must survive junk docs, and junk docs must not
    # pass it.
    mean_wl = F.try_divide(F.col("__nonspace"), n_words)
    n_alpha = F.size(F.filter(F.col("__ws"), lambda w: w.rlike("[a-z]")))
    alpha_frac = F.try_divide(n_alpha, n_words)
    stop_hits = F.size(
        F.filter(
            F.array_distinct(F.col("__ws")), lambda w: w.isin(*STOPWORDS)
        )
    )
    ok_words = (n_words >= min_words) & (n_words <= max_words)
    ok_mean = F.coalesce(
        (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len),
        F.lit(False),
    )
    ok_alpha = F.coalesce(alpha_frac >= min_alpha_frac, F.lit(False))
    ok_stop = stop_hits >= min_stopword_hits
    return staged.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(alpha_frac, 4).alias("alpha_word_frac"),
        stop_hits.cast("long").alias("stopword_hits"),
        ok_words.alias("ok_word_count"),
        ok_mean.alias("ok_mean_word_len"),
        ok_alpha.alias("ok_alpha_frac"),
        ok_stop.alias("ok_stopwords"),
        (ok_words & ok_mean & ok_alpha & ok_stop).alias("keep"),
        *[F.col(c) for c in passthrough],
    )


def lexical_diversity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Unigram lexical-diversity scores per document: type-token ratio,
    hapax fraction (words occurring once / vocabulary), and the top
    word's share — the information-density quality signals that flag
    keyword-stuffed or template text whose 3-gram repetition (t09/t15)
    looks clean. All outputs are exact integer ratios rounded at 4 dp,
    so cross-engine hashes are stable (no entropy/log terms).

    100 TB shape: one explode into a (doc, word) partial-agg count,
    then a per-doc aggregate — both map-side combinable; the shuffle
    carries (id, word, count), never text bodies.
    """
    words = df.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col(text_col))), " "),
                lambda w: w != "",
            )
        ).alias("w"),
    )
    per_word = words.groupBy(id_col, "w").agg(F.count("*").alias("c"))
    return (
        per_word.groupBy(id_col)
        .agg(
            F.sum("c").alias("n_words"),
            F.count("*").alias("n_types"),
            F.max("c").alias("__topc"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("__hapax"),
        )
        .select(
            F.col(id_col),
            F.col("n_words"),
            F.col("n_types"),
            F.round(F.col("n_types") / F.col("n_words"), 4).alias(
                "type_token_ratio"
            ),
            F.round(F.col("__hapax") / F.col("n_types"), 4).alias(
                "hapax_frac"
            ),
            F.round(F.col("__topc") / F.col("n_words"), 4).alias(
                "top_word_frac"
            ),
        )
    )


def dsir_importance_weights(
    df: DataFrame,
    target_predicate: F.Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_buckets: int | None = None,
    top_k: int | None = None,
) -> DataFrame:
    """Per-document DSIR importance weights — Data Selection via
    Importance Resampling (Xie et al. 2023): score every raw document
    by how much its token distribution looks like a TARGET subcorpus
    (``target_predicate``, e.g. ``F.col("lang") == "en"`` or a
    quality-classifier verdict), then keep the highest-weight docs.

    Both distributions are add-one-smoothed bag-of-feature models fit
    on THIS corpus: ``p(f) = (c_f + 1) / (N + V)`` with V the raw
    feature-space size. A document's weight is the mean per-token
    log-ratio ``avg ln(p_target(f) / p_raw(f))`` (mean, not the
    paper's sum, so the score is length-invariant and directly
    thresholdable; ranking within a length bucket is identical).
    Output: ``(id, n_tokens, avg_log_ratio)`` — plus a dense
    ``select_rank`` (weight desc, id tiebreak) when ``top_k`` is set,
    filtered to the top k.

    100 TB shape: two word-count-shaped groupBys (target counts fold
    into raw counts' shuffle input — the target side is a filter over
    the same token stream, never a second scan of bodies), one join of
    (doc, token) instances against the two count tables, one per-doc
    aggregate. Shuffles carry tokens and counts, never text. The count
    tables are aggregate-DERIVED, so they ride the scan's sizeInBytes
    estimate — shuffle_hash hints keep Catalyst from broadcasting a
    corpus-scale vocabulary (PERFORMANCE.md round-7 broadcast bomb).
    ``hash_buckets`` is the paper's production form and the true
    100 TB path: features become ``pmod(xxhash64(token), B)`` so the
    count-table cardinality is capped at B regardless of corpus size
    (the catalog's oracle entry pins the exact-token twin, the
    ``exact_allpairs``-style precedent: DuckDB has no xxhash64).
    ``top_k`` selection is a distributed_rank on the ROUNDED weight
    (4dp, the cross-engine-stable precision) with id tiebreak — a
    total order, so the selected set is unique and rerun-stable.
    """
    toks = df.select(
        F.col(id_col),
        target_predicate.alias("__is_target"),
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col(text_col))), " "),
                lambda w: w != "",
            )
        ).alias("w"),
    )
    if hash_buckets is not None:
        toks = toks.withColumn(
            "f", F.pmod(F.xxhash64("w"), F.lit(hash_buckets))
        )
    else:
        toks = toks.withColumn("f", F.col("w"))

    counts = toks.groupBy("f").agg(
        F.count("*").alias("c_r"),
        F.sum(F.when(F.col("__is_target"), 1).otherwise(0)).alias("c_t"),
    )
    totals = counts.agg(
        F.sum("c_r").alias("n_r"),
        F.sum("c_t").alias("n_t"),
        F.count("*").alias("v_size"),
    )

    scored = (
        toks.select(F.col(id_col), "f")
        .join(counts.hint("shuffle_hash"), "f")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            (
                F.log(
                    (F.col("c_t") + 1).cast("double")
                    / (F.col("n_t") + F.col("v_size")).cast("double")
                )
                - F.log(
                    (F.col("c_r") + 1).cast("double")
                    / (F.col("n_r") + F.col("v_size")).cast("double")
                )
            ).alias("lr"),
        )
    )
    out = scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        # + 0.0 folds IEEE -0.0 to +0.0 (a doc whose tokens' ratios
        # cancel can round to either zero depending on fold order;
        # "-0.0000" vs "0.0000" diverges in a text hash)
        (F.round(F.avg("lr"), 4) + F.lit(0.0)).alias("avg_log_ratio"),
    )
    if top_k is None:
        return out
    from nycdb_k8s_loader_spark.operators.relational import distributed_rank

    return (
        distributed_rank(
            out.withColumn("__neg", -F.col("avg_log_ratio")),
            ["__neg", id_col],
            rank_col="select_rank",
        )
        .filter(F.col("select_rank") <= top_k)
        .drop("__neg")
    )


def sentence_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = ". ",
    min_docs: int = 2,
    min_words: int = 3,
    hashed_keys: bool = False,
) -> DataFrame:
    """Sentence/line-level dedup — the CCNet/RefinedWeb curation step
    that removes BOILERPLATE rather than whole documents: any sentence
    whose normalized form (lower+trim) appears in ``min_docs``+
    distinct documents is dropped from every document that contains
    it, and each document's remaining sentences are re-joined in
    order. Cookie banners, nav bars, and license footers are exactly
    this shape: near-universal across a crawl, never a whole-doc
    duplicate, so t06/d03-style document dedup can't see them and
    t13's n-gram span scrub only fires when the window straddles them.
    Returns ``(id, n_sentences, n_removed, cleaned_text)`` for every
    input doc (untouched docs: n_removed = 0).

    ``min_words`` guards short sentences ("yes.", headings) from
    removal — the CCNet convention; the guard is a predicate on the
    normalized key, so under-length sentences are filtered MAP-SIDE
    and never enter the count shuffle at all.

    100 TB shape (mirrors exact_substring_scrub, dedup.py:821): one
    posexplode over the pre-filtered sentence array, ONE global count
    groupBy (map-side combinable), one hinted shuffle-hash join back
    for removed instances, a per-doc position-set groupBy carrying
    only ints, then an index-lambda filter over each doc's own
    sentence array. ``hashed_keys`` is the production form: the count
    pass and join-back key on ``xxhash64`` of the sentence, so the
    corpus-wide shuffle carries 8-byte keys instead of raw sentence
    strings (the t13 hashed-gram precedent; the catalog's oracle
    entry pins the exact-string twin — DuckDB has no xxhash64).
    """
    sents, inst = _sentence_frames(
        df, id_col, text_col, sep, min_words, hashed_keys
    )
    if hashed_keys:
        # production form at deploy scale: map-side partial distinct
        # on 8-byte keys before the count exchange, streaming join
        # back — no per-key buffering (a crawl-wide cookie banner can
        # appear in millions of docs)
        dup_keys = (
            inst.groupBy("k")
            .agg(F.count_distinct(F.col(id_col)).alias("nd"))
            .filter(F.col("nd") >= min_docs)
            .select("k")
        )
        return _sentence_rebuild(sents, inst, dup_keys, id_col, sep)
    # r13, string form (the t13 precedent): the distinct-doc count
    # rides a window over the key-partitioned instance rows — the
    # sentence posexplode runs ONCE per action instead of once per
    # branch (count + join-back), and one exchange of the instance
    # rows replaces the count-aggregate's two plus the join's. The
    # window buffers one key's distinct doc ids per group — fine at
    # the corpus sizes the exact-string twin targets (the oracle pin);
    # the hashed branch above keeps the streaming shape for scale.
    w = Window.partitionBy("k")
    removed = (
        inst.withColumn("__nd", F.size(F.collect_set(F.col(id_col)).over(w)))
        .filter(F.col("__nd") >= min_docs)
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("rp"))
    )
    return sents.join(removed.hint("shuffle_hash"), id_col, "left").select(
        F.col(id_col),
        F.size("ss").alias("n_sentences"),
        F.coalesce(F.size("rp"), F.lit(0)).alias("n_removed"),
        F.concat_ws(
            sep,
            F.filter(
                "ss",
                lambda s, i: ~F.coalesce(
                    F.array_contains("rp", i), F.lit(False)
                ),
            ),
        ).alias("cleaned_text"),
    )


def _sentence_frames(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str,
    min_words: int,
    hashed_keys: bool,
):
    """(sents, inst) shared by the inline and from-state forms —
    segmented sentence arrays plus the removal-eligible normalized
    (id, pos, key) instances."""
    import re

    sents = df.select(
        F.col(id_col),
        F.filter(
            F.split(F.col(text_col), re.escape(sep)),
            lambda s: F.trim(s) != "",
        ).alias("ss"),
    )
    inst = sents.select(
        F.col(id_col), F.posexplode("ss").alias("pos", "s")
    ).select(
        F.col(id_col), "pos", F.lower(F.trim("s")).alias("k")
    ).filter(
        # map-side guard: only removal-eligible sentences shuffle.
        # k is trimmed and non-empty, so splitting on SPACE RUNS
        # counts words exactly (no empty tokens) while staying a pure
        # codegen'd regex — no interpreted higher-order lambda in the
        # per-sentence hot path
        F.size(F.split("k", " +")) >= min_words
    )
    if hashed_keys:
        inst = inst.select(F.col(id_col), "pos", F.xxhash64("k").alias("k"))
    return sents, inst


def _sentence_rebuild(
    sents: DataFrame,
    inst: DataFrame,
    dup_keys: DataFrame,
    id_col: str,
    sep: str,
) -> DataFrame:
    removed = (
        inst.join(dup_keys.hint("shuffle_hash"), "k")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("rp"))
    )
    return sents.join(removed.hint("shuffle_hash"), id_col, "left").select(
        F.col(id_col),
        F.size("ss").alias("n_sentences"),
        F.coalesce(F.size("rp"), F.lit(0)).alias("n_removed"),
        F.concat_ws(
            sep,
            F.filter(
                "ss",
                lambda s, i: ~F.coalesce(
                    F.array_contains("rp", i), F.lit(False)
                ),
            ),
        ).alias("cleaned_text"),
    )


def sentence_dedup_state(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = ". ",
    min_docs: int = 2,
    min_words: int = 3,
    hashed_keys: bool = False,
    with_counts: bool = False,
) -> DataFrame:
    """The persistable BOILERPLATE-KEY state for incremental sentence
    dedup: one ``(k)`` row per normalized sentence key appearing in
    ``min_docs``+ distinct corpus documents — the cookie banners and
    license footers of the standing corpus, published once per corpus
    refresh like dedup_signature_state. Sentence bodies for
    ``hashed_keys=False``, 8-byte xxhash64 keys for the production
    form (state size then ~8 bytes per distinct boilerplate
    sentence).

    ``with_counts=True`` keeps the distinct-doc count ``nd`` per key
    — the LIFECYCLE form: retiring corpus documents can then
    DECREMENT instead of rebuild
    (:func:`~nycdb_k8s_loader_spark.operators.state_lifecycle.
    sentence_dedup_state_compact`); a count-less state cannot answer
    'does this key still clear min_docs without the retired docs'."""
    _, inst = _sentence_frames(
        df, id_col, text_col, sep, min_words, hashed_keys
    )
    counted = (
        inst.groupBy("k")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
    )
    return counted if with_counts else counted.select("k")


def sentence_dedup_from_state(
    state: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = ". ",
    min_words: int = 3,
    hashed_keys: bool = False,
) -> DataFrame:
    """Strip CORPUS boilerplate from an incoming batch using a
    PERSISTED :func:`sentence_dedup_state` — the continuous-ingestion
    form: a batch sentence is removed iff its key is in the published
    dup-key set; intra-batch repetition is out of scope (the
    incremental_dedup contract — verdicts are then split-invariant,
    which is what lets the streaming twin share the batch oracle).
    Same output contract as :func:`sentence_dedup`.

    100 TB shape: batch instances equi-join the state key set
    (shuffle_hash — corpus-scale state must never broadcast by a
    derived-size estimate) and the rebuild is the shared per-doc
    position-set groupBy — per-increment work linear in the batch."""
    sents, inst = _sentence_frames(
        batch, id_col, text_col, sep, min_words, hashed_keys
    )
    return _sentence_rebuild(sents, inst, state.select("k"), id_col, sep)


def bigram_fluency(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_buckets: int | None = None,
) -> DataFrame:
    """Per-document fluency under a corpus-self-trained bigram LM —
    the CCNet-style perplexity filter (Wenzek et al. 2020) with the
    external KenLM swapped for a bigram model fit on THIS corpus in
    one pass: gibberish, keyword stuffing, and shuffled text score
    poorly under ANY n-gram LM, including one trained on the corpus
    itself. Scores stay in log space (perplexity = exp(score) is
    monotone, and exp's last ulp differs across libm builds — same
    reasoning as BM25's log-free idf): ``avg_neg_logprob`` is the mean
    over a doc's bigrams of ``-ln P(w2 | w1)`` with add-one smoothing
    ``P = (c(w1,w2) + 1) / (c(w1) + V)``, V = distinct bigram count.
    Length-invariant, so one threshold works across document sizes;
    LOWER is more fluent. Returns ``(id, n_bigrams, avg_neg_logprob)``
    for every doc with >= 2 tokens.

    100 TB shape (the t19 skeleton): tokenize once, one map-side
    slide for bigram instances (no self-join — ``ws[i], ws[i+1]``
    from the SAME row's array), ONE count shuffle for the bigram
    table (unigram context counts fold out of it map-side — never a
    second corpus pass), one hinted shuffle-hash join of instances
    against counts, one per-doc aggregate. Shuffles carry word pairs
    and longs, never text. ``hash_buckets`` is the production form
    for web-scale vocabularies: instance/count keys become
    ``pmod(xxhash64(w1, w2), B)`` so the model table is capped at B
    rows (the catalog oracle pins the exact-pair twin — DuckDB has no
    xxhash64). -0.0 folding and 4dp rounding per the repo convention.
    """
    ws = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), " "), lambda w: w != ""
    )
    base = df.select(F.col(id_col), ws.alias("ws")).filter(
        F.size("ws") >= 2
    )
    inst = base.select(
        F.col(id_col),
        F.posexplode(F.slice("ws", 1, F.size("ws") - 1)).alias("i", "w1"),
        F.col("ws"),
    ).select(
        F.col(id_col),
        "w1",
        F.col("ws")[F.col("i") + 1].alias("w2"),
    )
    if hash_buckets is not None:
        inst = inst.select(
            F.col(id_col),
            F.pmod(F.xxhash64("w1"), F.lit(hash_buckets)).alias("w1"),
            F.pmod(F.xxhash64("w1", "w2"), F.lit(hash_buckets)).alias("w2"),
        )
    bg = inst.groupBy("w1", "w2").agg(F.count("*").alias("c_bg"))
    ug = bg.groupBy("w1").agg(F.sum("c_bg").alias("c_ug"))
    v = bg.agg(F.count("*").alias("v_size"))
    scored = (
        inst.join(bg.hint("shuffle_hash"), ["w1", "w2"])
        .join(ug.hint("shuffle_hash"), "w1")
        .crossJoin(F.broadcast(v))
        .select(
            F.col(id_col),
            (
                F.log((F.col("c_ug") + F.col("v_size")).cast("double"))
                - F.log((F.col("c_bg") + 1).cast("double"))
            ).alias("nlp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        (F.round(F.avg("nlp"), 4) + F.lit(0.0)).alias("avg_neg_logprob"),
    )


# Common MULTI-PART public suffixes: a host ending in one of these
# needs THREE labels to name a registrant (example.co.uk), so the
# naive last-two-labels rule would key the blocklist on the suffix
# itself — a 'co.uk' entry blocking every UK company (round-8
# ADVICE). This is the high-traffic subset of the Mozilla Public
# Suffix List, inlined as a literal so the extraction stays a pure
# codegen'd expression (no join); pass the FULL PSL via
# ``multi_part_suffixes`` for exhaustive ccTLD coverage — it is a
# ~5k-entry IN-list, still expression-sized.
COMMON_MULTI_PART_SUFFIXES: tuple[str, ...] = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "net.uk", "sch.uk",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.nz", "net.nz", "org.nz",
    "co.in", "net.in", "org.in", "ac.in", "gov.in",
    "com.br", "net.br", "org.br", "gov.br",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "com.mx", "com.ar", "com.tr", "com.sg", "com.hk", "com.tw",
    "co.za", "co.kr", "or.kr", "com.my", "com.sa", "com.eg",
)


def url_registered_domain(
    url_expr: F.Column,
    multi_part_suffixes: tuple[str, ...] = COMMON_MULTI_PART_SUFFIXES,
) -> F.Column:
    """Registered-domain column expression (the blocklist key) for a
    lowercased URL column — the exact extraction
    :func:`url_domain_filter` uses, exposed so fused single-pass
    pipelines (c07's spine) can broadcast-join the blocklist without
    re-deriving the whole filter frame (r13, guide §2.4)."""
    host = F.regexp_replace(
        F.regexp_replace(
            F.regexp_extract(url_expr, r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1),
            r"^www\.", "",
        ),
        r":[0-9]+$", "",
    )
    last2 = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    last3 = F.regexp_extract(host, r"([^.]+\.[^.]+\.[^.]+)$", 1)
    if multi_part_suffixes:
        return F.when(
            last2.isin(*multi_part_suffixes) & (last3 != ""), last3
        ).otherwise(last2)
    return last2


def url_shape_keep(
    url_expr: F.Column,
    blocked_domain: F.Column,
    blocked_words: tuple[str, ...] = ("casino", "pills", "xxx"),
    max_url_len: int = 160,
    max_host_digit_frac: float = 0.30,
    max_path_depth: int = 8,
) -> F.Column:
    """The ``keep`` verdict of :func:`url_domain_filter` as one column
    expression over a lowercased URL plus an externally-joined
    blocked-domain flag — identical rule set (length, path depth, host
    digit fraction, blocked words, blocklist), for fused pipelines."""
    host = F.regexp_replace(
        F.regexp_replace(
            F.regexp_extract(url_expr, r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1),
            r"^www\.", "",
        ),
        r":[0-9]+$", "",
    )
    path = F.regexp_extract(
        url_expr, r"^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)", 1
    )
    host_digits = F.length(F.regexp_replace(host, r"[^0-9]", ""))
    digit_frac = F.try_divide(host_digits, F.length(host))
    depth = F.size(F.filter(F.split(path, "/"), lambda s: s != ""))
    word_hit = F.lit(False)
    for w in blocked_words:
        word_hit = word_hit | url_expr.contains(w)
    ok_len = F.coalesce(
        F.length(url_expr) <= max_url_len, F.lit(False)
    )
    ok_depth = F.coalesce(depth <= max_path_depth, F.lit(False))
    ok_digits = F.coalesce(
        F.round(digit_frac, 4) <= max_host_digit_frac, F.lit(False)
    )
    return (
        ok_len
        & ok_depth
        & ok_digits
        & ~F.coalesce(word_hit, F.lit(False))
        & ~blocked_domain
    )


def url_domain_filter(
    df: DataFrame,
    blocked_domains: DataFrame | None = None,
    url_col: str = "url",
    id_col: str = "doc_id",
    blocked_words: tuple[str, ...] = ("casino", "pills", "xxx"),
    max_url_len: int = 160,
    max_host_digit_frac: float = 0.30,
    max_path_depth: int = 8,
    multi_part_suffixes: tuple[str, ...] = COMMON_MULTI_PART_SUFFIXES,
) -> DataFrame:
    """URL/domain-level curation — the stage web pipelines (C4,
    RefinedWeb §3.1) run BEFORE fetching or scoring any text: a page
    is dropped on its address alone. Per row: the normalized host,
    the registered domain (the blocklist key: last two dot-labels,
    or last THREE when the two-label tail is a known multi-part
    public suffix — example.co.uk keys as 'example.co.uk', not
    'co.uk'; see :data:`COMMON_MULTI_PART_SUFFIXES` and pass the
    full PSL for exhaustive ccTLD coverage), the URL-shape signals
    (length, path depth, digit fraction of the host, blocked-word
    hit), each rule's verdict, and ``keep``.

    100 TB shape: everything is a codegen'd projection over the scan
    except the blocklist test — one BROADCAST left join on the
    registered domain (blocklists are metadata-scale: even the
    industry-size ~5M-domain lists are a few hundred MB, inside the
    broadcast budget of any real executor; beyond that the same join
    runs shuffle-hash). No Python, no shuffle of the corpus.

    ``blocked_domains``: one-column (``domain``) frame of registered
    domains; None means no blocklist (signal false). Word scan is a
    substring test on the lowercased URL — RE2-safe, identical in the
    DuckDB oracle.
    """
    url = F.lower(F.col(url_col))
    host = F.regexp_replace(
        F.regexp_replace(
            F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1),
            r"^www\.", "",
        ),
        r":[0-9]+$", "",
    )
    path = F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    last2 = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    last3 = F.regexp_extract(host, r"([^.]+\.[^.]+\.[^.]+)$", 1)
    if multi_part_suffixes:
        reg_domain = F.when(
            last2.isin(*multi_part_suffixes) & (last3 != ""), last3
        ).otherwise(last2)
    else:
        reg_domain = last2
    host_digits = F.length(F.regexp_replace(host, r"[^0-9]", ""))
    digit_frac = F.try_divide(host_digits, F.length(host))
    # path depth = non-empty segments
    depth = F.size(
        F.filter(F.split(path, "/"), lambda s: s != "")
    )
    word_hit = F.lit(False)
    for w in blocked_words:
        word_hit = word_hit | url.contains(w)

    staged = df.select(
        F.col(id_col),
        F.col(url_col),
        host.alias("host"),
        reg_domain.alias("registered_domain"),
        F.length(url).cast("long").alias("url_len"),
        depth.cast("long").alias("path_depth"),
        F.round(digit_frac, 4).alias("host_digit_frac"),
        # coalesce: a NULL url must yield a total false signal, not a
        # NULL that silently vanishes from BOTH sides of a downstream
        # filter(blocked_word) / filter(~blocked_word) split — the
        # gopher junk-doc rule applied to junk rows
        F.coalesce(word_hit, F.lit(False)).alias("blocked_word"),
    )
    if blocked_domains is not None:
        bl = blocked_domains.select(
            F.lower(F.col("domain")).alias("registered_domain"),
            F.lit(True).alias("__blocked"),
        ).distinct()
        staged = staged.join(
            F.broadcast(bl), "registered_domain", "left"
        ).withColumn("blocked_domain", F.coalesce("__blocked", F.lit(False))
        ).drop("__blocked")
    else:
        staged = staged.withColumn("blocked_domain", F.lit(False))

    # every verdict total (NULL url → false, never NULL): see the
    # blocked_word coalesce above
    ok_len = F.coalesce(F.col("url_len") <= max_url_len, F.lit(False))
    ok_depth = F.coalesce(
        F.col("path_depth") <= max_path_depth, F.lit(False)
    )
    ok_digits = F.coalesce(
        F.col("host_digit_frac") <= max_host_digit_frac, F.lit(False)
    )
    keep = (
        ok_len
        & ok_depth
        & ok_digits
        & ~F.col("blocked_word")
        & ~F.col("blocked_domain")
    )
    return staged.select(
        id_col,
        "host",
        "registered_domain",
        "url_len",
        "path_depth",
        "host_digit_frac",
        "blocked_word",
        "blocked_domain",
        ok_len.alias("ok_url_len"),
        ok_depth.alias("ok_path_depth"),
        ok_digits.alias("ok_host_digits"),
        keep.alias("keep"),
    )


def linear_quality_scores(
    df: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """fastText-style LINEAR quality-classifier inference — the
    model-based filter stage of web pipelines (CCNet/LLaMA wiki-ref
    classifiers, RefinedWeb quality heads): score every document with
    a published bag-of-words linear model and keep positives. This is
    the inference half; training happens offline — the model arrives
    as a table, like any other published artifact.

    ``weights``: (word string, weight int) — integer weights (tenths)
    keep the whole chain exact: score = Σ weight over the doc's
    tokens (with repetition, out-of-vocab = 0) is an int64 SUM —
    order-independent, map-side combinable, bit-identical
    cross-engine (the s11 fixed-point rule; a float dot product here
    would be sum-order lottery). keep = score > 0 on docs with
    tokens; zero-token docs keep=false (the t17 junk-doc lesson).

    100 TB shape: ONE explode + broadcast weight join + one
    map-side-combined SUM shuffle keyed by doc id — vocab tables are
    metadata-scale (even 1M-word models are a few MB). Docs that
    explode to nothing re-enter via the left join from the id spine,
    so the filter is total. For web-scale vocab, hash words to
    buckets first (the t19 hashed-feature pattern) and key weights by
    bucket — same plan, 8-byte join keys.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col(text_col))), " "),
                lambda w: w != "",
            )
        ).alias("word"),
    )
    # aggregate weights per word BEFORE the join: a repeated word in
    # a published weights frame would otherwise fan out the left join,
    # double-counting that word's score AND inflating n_tokens
    # (round-8 ADVICE; url_domain_filter .distinct()s its blocklist
    # for the same reason). SUM is the deterministic merge a linear
    # model with duplicated feature rows means mathematically.
    w = weights.groupBy("word").agg(
        F.sum(F.col("weight").cast("long")).alias("__wt")
    )
    agg = (
        toks.join(F.broadcast(w), "word", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.coalesce("__wt", F.lit(0))).alias("score_tenths"),
        )
    )
    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("score_tenths", F.lit(0)).alias("score_tenths"),
            (
                F.coalesce(F.col("score_tenths") > 0, F.lit(False))
            ).alias("keep"),
        )
    )
