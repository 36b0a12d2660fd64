"""Curation pack round 7 additions: document-level quality rules,
lexical diversity, and sparse (BM25) retrieval.

- t17: the Gopher/MassiveText length/lexical quality rules — the
  composite document filter run before every pre-training mix.
- t18: unigram lexical-diversity scores (type-token ratio, hapax
  fraction, top-word share) — information-density signals that catch
  keyword-stuffed text whose n-gram repetition (t09/t15) looks clean.
- s11: BM25 top-k retrieval through an inverted-posting equi-join —
  the lexical sibling of the dense ANN family (s01-s10), the shape of
  benchmark-decontamination search.
- t19: DSIR importance weights (target-vs-raw unigram log-ratio).
- t20: CCNet sentence-level boilerplate removal.
- t21: corpus-self-trained bigram LM fluency (the CCNet perplexity
  filter in log space, KenLM swapped for a one-pass bigram model).
- p07: token-budget mixture (Pile/DoReMi mixing in tokens, exact
  int64 ppm rate chain, corpus scanned once and never shuffled).

All entries share the determinism discipline of the rest of the
catalog: exact integer ratios or exactly-rounded IEEE chains (BM25
uses t11's log-free rational idf and a fixed-point integer score
sum), so the DuckDB oracles hash-match bit-for-bit at every sf.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nycdb_k8s_loader_spark.operators.sampling import sample_bucket_sql
from nycdb_k8s_loader_spark.operators.similarity import _spread_small_scan
from nycdb_k8s_loader_spark.operators.textops import STOPWORDS
from nycdb_k8s_loader_spark.plans.catalog import register
from nycdb_k8s_loader_spark.session import (
    _on_loop_session,
    materialize,
    materialize_all,
    stage,
)

# c08/st14 sampling channels: the corpus/batch split stays on the
# default channel (salt 0); the frozen-rate mixture keep MUST be an
# independent channel (salt 1) — on the shared channel the split
# constrains the mixture bucket to >= 500000, so every source whose
# rate_ppm < 500000 kept exactly ZERO batch docs (VERDICT r9 #1).
_C08_MIXTURE_SALT = 1


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"

# shared by t17 (batch) and st11 (streaming twin): the SAME oracle
# proves the funnel's verdicts are engine- AND mode-independent
_GOPHER_SQL = f"""
    WITH s AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS ws,
               length(replace(trim(text), ' ', '')) AS nonspace
        FROM documents
    ),
    c AS (
        SELECT doc_id,
               len(ws) AS n_words,
               CASE WHEN len(ws) = 0 THEN NULL
                    ELSE nonspace / len(ws) END AS mean_wl,
               CASE WHEN len(ws) = 0 THEN NULL
                    ELSE len(list_filter(ws,
                             w -> regexp_matches(w, '[a-z]')))
                         / len(ws) END AS alpha_frac,
               len(list_filter(list_distinct(ws),
                   w -> list_contains({_STOP_SQL}, w))) AS stop_hits
        FROM s
    )
    SELECT doc_id,
           n_words::BIGINT AS n_words,
           ROUND(mean_wl, 4) AS mean_word_len,
           ROUND(alpha_frac, 4) AS alpha_word_frac,
           stop_hits::BIGINT AS stopword_hits,
           (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
           COALESCE(mean_wl >= 3.0 AND mean_wl <= 10.0, false)
               AS ok_mean_word_len,
           COALESCE(alpha_frac >= 0.8, false) AS ok_alpha_frac,
           (stop_hits >= 2) AS ok_stopwords,
           ((n_words >= 50 AND n_words <= 100000)
            AND COALESCE(mean_wl >= 3.0 AND mean_wl <= 10.0, false)
            AND COALESCE(alpha_frac >= 0.8, false)
            AND (stop_hits >= 2)) AS keep
    FROM c
    """


@register(
    "t17_gopher_quality_rules",
    _GOPHER_SQL,
    doc="Gopher/MassiveText document-level quality rules (Rae et al. "
        "2021 A1.1): word-count bounds, mean-word-length bounds, "
        "alphabetic-word fraction, >=2-stopword signal, composite "
        "keep verdict. Exact integer ratios only, so both engines "
        "agree bit-for-bit; a single codegen'd projection — no "
        "shuffle, parquet-scan speed at 100 TB. "
        "operators/textops.py gopher_quality_rules.",
    tags=("pipeline", "text", "quality"),
)
def t17(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.textops import (
        gopher_quality_rules,
    )

    return gopher_quality_rules(_docs(spark, sf_dir))


@register(
    "t18_lexical_diversity",
    """
    WITH w AS (
        SELECT doc_id,
               unnest(list_filter(string_split(lower(trim(text)), ' '),
                                  w -> w <> '')) AS w
        FROM documents
    ),
    per AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2),
    agg AS (
        SELECT doc_id, SUM(c)::BIGINT AS n_words, COUNT(*)::BIGINT AS n_types,
               MAX(c)::BIGINT AS topc,
               SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS hapax
        FROM per GROUP BY 1
    )
    SELECT doc_id, n_words, n_types,
           ROUND(n_types / n_words, 4) AS type_token_ratio,
           ROUND(hapax / n_types, 4) AS hapax_frac,
           ROUND(topc / n_words, 4) AS top_word_frac
    FROM agg
    """,
    doc="Unigram lexical diversity per doc: type-token ratio, hapax "
        "fraction, top-word share — log-free information-density "
        "quality signals. One explode into a (doc, word) partial-agg "
        "count then a per-doc aggregate, both map-side combinable; "
        "the shuffle carries (id, word, count), never bodies. "
        "operators/textops.py lexical_diversity.",
    tags=("pipeline", "text", "quality"),
)
def t18(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.textops import lexical_diversity

    return lexical_diversity(_docs(spark, sf_dir))


@register(
    "s11_bm25_topk",
    """
    WITH ws AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS l
        FROM documents
    ),
    toks AS (SELECT doc_id, unnest(l) AS term FROM ws),
    tf AS (SELECT doc_id, term, COUNT(*)::BIGINT AS tf
           FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, len(l)::BIGINT AS dl FROM ws),
    tot AS (SELECT COUNT(*)::BIGINT AS n_docs, SUM(dl)::BIGINT AS sum_dl
            FROM dl),
    dfreq AS (SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1),
    scored AS (
        SELECT tf.doc_id, tf.term,
               ((n_docs - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
                 * (tf * (1.2::DOUBLE + 1))
                 / (tf + 1.2::DOUBLE
                      * (0.25::DOUBLE + 0.75::DOUBLE
                           * (dl / (sum_dl / n_docs)))) AS s
        FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
        CROSS JOIN tot
    ),
    q AS (SELECT doc_id AS query_id, term FROM tf WHERE doc_id < 5),
    pair AS (
        SELECT q.query_id, s.doc_id,
               SUM(CAST(floor(s.s * 1000000.0) AS BIGINT))::BIGINT
                   / 1000000.0 AS score
        FROM q JOIN scored s USING (term)
        WHERE s.doc_id <> q.query_id
        GROUP BY 1, 2
    )
    SELECT query_id, doc_id, rank, score FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY score DESC, doc_id ASC
        )::BIGINT AS rank FROM pair
    ) WHERE rank <= 10
    """,
    doc="BM25 top-10 retrieval for 5 query docs — the sparse/lexical "
        "sibling of the ANN pack and the decontamination-search "
        "shape. Corpus reduced once to (doc, term, tf) postings + "
        "df + doc lengths (three map-side-combinable aggs); queries "
        "probe via ONE term equi-join (inverted-index probe — never "
        "doc x doc); corpus constants ride a broadcast 1-row frame. "
        "Determinism: t11-style log-free rational idf "
        "(N-df+.5)/(df+.5) gives bit-identical per-term scores; the "
        "per-doc reduction is a FIXED-POINT integer SUM "
        "(floor(s*1e6)) — associative, map-side combinable, pure "
        "codegen; replaced a collect_list + interpreted fold that "
        "burned 2690s CPU at 150k docs. operators/retrieval.py "
        "bm25_topk.",
    tags=("similarity", "text", "retrieval"),
)
def s11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.retrieval import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), query_ids=list(range(5)), k=10)


@register(
    "t19_dsir_importance_weights",
    """
    WITH toks AS (
        SELECT doc_id, (lang = 'en') AS is_t,
               unnest(list_filter(string_split(lower(trim(text)), ' '),
                                  w -> w <> '')) AS w
        FROM documents
    ),
    counts AS (
        SELECT w, COUNT(*)::BIGINT AS c_r,
               SUM(CASE WHEN is_t THEN 1 ELSE 0 END)::BIGINT AS c_t
        FROM toks GROUP BY w
    ),
    tot AS (
        SELECT SUM(c_r)::BIGINT AS n_r, SUM(c_t)::BIGINT AS n_t,
               COUNT(*)::BIGINT AS v FROM counts
    )
    SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
           ROUND(AVG(ln((c_t + 1)::DOUBLE / (n_t + v)::DOUBLE)
                     - ln((c_r + 1)::DOUBLE / (n_r + v)::DOUBLE)),
                 4) + 0.0 AS avg_log_ratio
    FROM toks JOIN counts USING (w) CROSS JOIN tot
    GROUP BY doc_id
    """,
    doc="DSIR importance weights (Xie et al. 2023): score every doc "
        "by mean per-token log-ratio of an add-one-smoothed TARGET "
        "unigram model (here: the English subcorpus) vs the RAW "
        "model — the importance-resampling data-selection signal. "
        "One token explode, ONE count shuffle carrying both "
        "distributions (the target side is a conditional sum inside "
        "the raw count's aggregate, not a second pass), one hinted "
        "shuffle-hash join of (doc, token) against the count table, "
        "corpus totals broadcast as a 1-row frame. hash_buckets (the "
        "production form) caps feature cardinality at B via xxhash64 "
        "regardless of corpus size; this oracle entry pins the "
        "exact-token twin (DuckDB has no xxhash64). "
        "operators/textops.py dsir_importance_weights.",
    tags=("pipeline", "text", "quality", "sampling"),
)
def t19(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    from nycdb_k8s_loader_spark.operators.textops import (
        dsir_importance_weights,
    )

    return dsir_importance_weights(
        _docs(spark, sf_dir), target_predicate=F.col("lang") == "en"
    )


def _pseudo_sentence_docs(docs: DataFrame) -> DataFrame:
    """Segment a punctuation-free whitespace corpus into aligned
    8-word pseudo-sentences joined by '. ' — the deterministic
    segmentation t20 pins (identical transform on both engines), now
    shared by the composed pipeline (c07). One codegen'd projection."""
    import pyspark.sql.functions as F

    ws = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), " "), lambda w: w != ""
    )
    staged = docs.select("doc_id", ws.alias("ws"))
    return staged.select(
        "doc_id",
        F.concat_ws(
            ". ",
            F.transform(
                F.when(
                    F.size("ws") > 0,
                    F.sequence(F.lit(1), F.size("ws"), F.lit(8)),
                ).otherwise(F.array().cast("array<int>")),
                lambda i: F.array_join(F.slice("ws", i, 8), " "),
            ),
        ).alias("text"),
    )


@register(
    "t20_sentence_dedup",
    """
    WITH ws AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS ws
        FROM documents
    ),
    pre AS (
        SELECT doc_id,
               list_transform(generate_series(1, len(ws), 8),
                              i -> array_to_string(
                                       list_slice(ws, i, i + 7), ' ')) AS ss
        FROM ws
    ),
    inst AS (
        SELECT doc_id, i - 1 AS pos, ss[i] AS k
        FROM pre, unnest(generate_series(1, len(ss))) AS t(i)
        WHERE len(string_split_regex(ss[i], ' +')) >= 3
    ),
    dup AS (SELECT k FROM inst
            GROUP BY k HAVING COUNT(DISTINCT doc_id) >= 2),
    rem AS (
        SELECT doc_id, list_sort(list(pos)) AS rp
        FROM inst JOIN dup USING (k) GROUP BY doc_id
    )
    SELECT p.doc_id,
           len(p.ss)::BIGINT AS n_sentences,
           COALESCE(len(r.rp), 0)::BIGINT AS n_removed,
           COALESCE(array_to_string(
               list_filter(p.ss, (x, i) -> r.rp IS NULL
                                  OR NOT list_contains(r.rp, i - 1)),
               '. '), '') AS cleaned_text
    FROM pre p LEFT JOIN rem r USING (doc_id)
    """,
    doc="Sentence/line-level dedup (CCNet/RefinedWeb boilerplate "
        "removal): any sentence appearing in >=2 distinct docs is "
        "dropped from every doc, remaining sentences re-joined in "
        "order — the curation step that catches cookie banners and "
        "license footers document-dedup (d-series) and span-scrub "
        "(t13) both miss. The synthetic corpus has no punctuation, so "
        "the entry first segments each doc into aligned 8-word "
        "pseudo-sentences with the SAME deterministic transform in "
        "both engines (the corpus's exact-dup docs make 153 segments "
        "cross-doc-duplicated at sf0.01). One posexplode, one count "
        "shuffle, one hinted shuffle-hash join back, int-only "
        "position sets; hashed_keys production mode shuffles 8-byte "
        "xxhash64 keys (this oracle pins the exact-string twin). "
        "operators/textops.py sentence_dedup.",
    tags=("pipeline", "text", "dedup"),
)
def t20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.textops import sentence_dedup

    pre = _pseudo_sentence_docs(_docs(spark, sf_dir))
    return sentence_dedup(pre, min_docs=2, min_words=3)


@register(
    "t21_bigram_fluency",
    """
    WITH ws AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS ws
        FROM documents
    ),
    inst AS (
        SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
        FROM ws, unnest(generate_series(1, len(ws) - 1)) AS t(i)
        WHERE len(ws) >= 2
    ),
    bg AS (SELECT w1, w2, COUNT(*)::BIGINT AS c_bg
           FROM inst GROUP BY 1, 2),
    ug AS (SELECT w1, SUM(c_bg)::BIGINT AS c_ug FROM bg GROUP BY 1),
    v AS (SELECT COUNT(*)::BIGINT AS v_size FROM bg)
    SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams,
           ROUND(AVG(ln((c_ug + v_size)::DOUBLE)
                     - ln((c_bg + 1)::DOUBLE)), 4) + 0.0
               AS avg_neg_logprob
    FROM inst JOIN bg USING (w1, w2) JOIN ug USING (w1) CROSS JOIN v
    GROUP BY doc_id
    """,
    doc="CCNet-style LM fluency filter (Wenzek et al. 2020) with the "
        "external KenLM swapped for a corpus-self-trained bigram "
        "model: avg -ln P(w2|w1) per doc under add-one smoothing — "
        "gibberish and keyword stuffing score poorly under any n-gram "
        "LM including one fit on the corpus itself. Log-space score "
        "(perplexity's exp is monotone and libm-divergent), "
        "length-invariant, LOWER = more fluent. One tokenize pass, "
        "map-side bigram slide (ws[i], ws[i+1] from the same row — "
        "no self-join), ONE bigram-count shuffle (context counts fold "
        "out of it), hinted shuffle-hash joins back, 1-row V "
        "broadcast. hash_buckets production mode caps the model table "
        "at B rows via xxhash64 (this oracle pins the exact-pair "
        "twin). operators/textops.py bigram_fluency.",
    tags=("pipeline", "text", "quality"),
)
def t21(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.textops import bigram_fluency

    return bigram_fluency(_docs(spark, sf_dir))


@register(
    "p07_token_budget_mixture",
    """
    WITH base AS (
        SELECT doc_id, source,
               (length(trim(text))
                - length(replace(trim(text), ' ', '')) + 1)::BIGINT
                   AS n_tokens
        FROM documents
    ),
    tot AS (SELECT source, SUM(n_tokens)::BIGINT AS t_s
            FROM base GROUP BY 1),
    corpus AS (SELECT SUM(n_tokens)::BIGINT AS ct FROM base),
    rates AS (
        SELECT source,
               LEAST(1000000,
                     (((CASE WHEN source IN
                             ('src0','src1','src2','src3','src4')
                        THEN 120000 ELSE 26666 END)
                       * ((ct * 400000) // 1000000)) // 1000000)
                     * 1000000 // t_s)::BIGINT AS rate_ppm
        FROM tot CROSS JOIN corpus
    )
    SELECT b.doc_id, b.source, b.n_tokens, r.rate_ppm
    FROM base b JOIN rates r USING (source)
    WHERE (b.doc_id * 9973 + 7919) % 1000000 < r.rate_ppm
    """,
    doc="Token-budget mixture (the Pile/DoReMi mixing step done in "
        "TOKENS, not document counts): under a 40%-of-corpus token "
        "budget, sources src0-4 target 12% token share each, the "
        "rest split the remainder — per-source keep rate "
        "min(1, budget*share/tokens_s), derived in an exact int64 "
        "ppm chain (bit-identical cross-engine), applied via the "
        "deterministic sample_bucket filter (rerun-stable, nested "
        "under budget growth). One source-cardinality token groupBy "
        "broadcast back, then a pure map-side filter — the corpus is "
        "scanned once and never shuffled. "
        "operators/sampling.py token_budget_mixture.",
    tags=("pipeline", "sampling"),
)
def p07(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.sampling import (
        token_budget_mixture,
    )

    shares = {f"src{i}": (120_000 if i < 5 else 26_666) for i in range(20)}
    return token_budget_mixture(
        _docs(spark, sf_dir), shares, budget_ppm_of_corpus=400_000
    )


@register(
    "st11_streaming_quality_funnel",
    _GOPHER_SQL,
    doc="STREAMING twin of the t17 gopher quality funnel: the "
        "documents table flows through a file-source stream and the "
        "identical gopher_quality_rules projection, availableNow into "
        "a memory sink — pinned per-row against the SAME DuckDB "
        "oracle as the batch form, so the curation filter's verdicts "
        "are proven engine- AND mode-independent. The funnel is a "
        "pure codegen'd projection: STATELESS in a stream (append "
        "mode, no watermark, no state store, no shuffle) — the shape "
        "that lets quality filtering run inline in the ingestion "
        "stream at any rate instead of as a nightly batch.",
    tags=("streaming", "text", "quality"),
)
def st11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.textops import (
        gopher_quality_rules,
    )
    from nycdb_k8s_loader_spark.plans.extended_queries import (
        _run_memory_stream,
    )

    batch = _docs(spark, sf_dir)
    stream = (
        spark.readStream.schema(batch.schema)
        # file-stream sources take a DIRECTORY (single-file paths fail
        # basePath inference) — the events_stream convention
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    return _run_memory_stream(
        spark, gopher_quality_rules(stream), "st11", "append"
    )


# t22: the URL expression is ONE shared SQL snippet evaluated by both
# engines (Spark F.expr and the DuckDB oracle) so the fixture can't
# drift; every rule of url_domain_filter has a doc_id residue class
# that trips it, with wide margins off each threshold.
_T22_URL_SQL = """
    'https://' ||
    CASE WHEN doc_id % 11 = 0 THEN 'cdn.badsite.example'
         WHEN doc_id % 17 = 0
             THEN 'u' || CAST(doc_id % 10 AS STRING)
                      || '1234567.example.net'
         ELSE 'www.site' || CAST(doc_id % 7 AS STRING)
                  || '.example.org' END
    || '/docs/' || CAST(doc_id % 31 AS STRING)
    || CASE WHEN doc_id % 13 = 0 THEN '/casino/promo' ELSE '' END
    || CASE WHEN doc_id % 19 = 0 THEN repeat('/sub', 12) ELSE '' END
    || CASE WHEN doc_id % 29 = 0 THEN '?q=' || repeat('x', 150)
            ELSE '' END
"""


@register(
    "t22_url_domain_filter",
    f"""
    WITH urls AS (
        SELECT doc_id, lower({_T22_URL_SQL}) AS url FROM documents
    ),
    parsed AS (
        SELECT doc_id, url,
               regexp_replace(regexp_replace(
                   regexp_extract(url,
                       '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1),
                   '^www\\.', ''), ':[0-9]+$', '') AS host,
               regexp_extract(url,
                   '^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path
        FROM urls
    ),
    sig AS (
        SELECT doc_id, host,
               regexp_extract(host, '([^.]+\\.[^.]+)$', 1)
                   AS registered_domain,
               length(url)::BIGINT AS url_len,
               len(list_filter(string_split(path, '/'),
                               s -> s <> ''))::BIGINT AS path_depth,
               ROUND(length(regexp_replace(host, '[^0-9]', '', 'g'))
                         ::DOUBLE / length(host), 4) AS host_digit_frac,
               (url LIKE '%casino%' OR url LIKE '%pills%'
                   OR url LIKE '%xxx%') AS blocked_word,
               regexp_extract(host, '([^.]+\\.[^.]+)$', 1)
                   IN ('badsite.example') AS blocked_domain
        FROM parsed
    )
    SELECT doc_id, host, registered_domain, url_len, path_depth,
           host_digit_frac, blocked_word, blocked_domain,
           url_len <= 160 AS ok_url_len,
           path_depth <= 8 AS ok_path_depth,
           host_digit_frac <= 0.30 AS ok_host_digits,
           (url_len <= 160 AND path_depth <= 8
               AND host_digit_frac <= 0.30
               AND NOT blocked_word AND NOT blocked_domain) AS keep
    FROM sig
    """,
    doc="URL/domain-level curation (C4, RefinedWeb §3.1) — the web- "
        "pipeline stage that drops a page on its ADDRESS alone, "
        "before any text is fetched or scored: normalized host, "
        "registered domain, URL-shape signals (length, path depth, "
        "host digit fraction, blocked-word substring), a broadcast "
        "domain-blocklist join, per-rule verdicts and keep. "
        "Everything is a codegen'd projection over the scan except "
        "the blocklist test — one broadcast left join on the "
        "registered domain (blocklists are metadata-scale); the "
        "corpus never shuffles. The URL fixture is one shared SQL "
        "snippet evaluated by BOTH engines, with a doc_id residue "
        "class tripping each rule at wide margins. "
        "operators/textops.py url_domain_filter.",
    tags=("text", "quality", "pipeline"),
)
def t22(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from nycdb_k8s_loader_spark.operators.textops import (
        url_domain_filter,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_T22_URL_SQL).alias("url")
    )
    blocklist = spark.createDataFrame(
        [("badsite.example",)], "domain string"
    )
    return url_domain_filter(docs, blocked_domains=blocklist)


@register(
    "t23_linear_quality_classifier",
    """
    WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(string_split(lower(trim(text)), ' '),
                                  x -> x <> '')) AS word
        FROM documents
    ),
    w AS (
        SELECT word,
               (length(word) * 7 + ascii(substring(word, 1, 1))) % 21
                   - 10 AS weight
        FROM (SELECT DISTINCT word FROM tok)
    ),
    agg AS (
        SELECT t.doc_id,
               COUNT(*)::BIGINT AS n_tokens,
               SUM(COALESCE(w.weight, 0))::BIGINT AS score_tenths
        FROM tok t LEFT JOIN w USING (word)
        GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           COALESCE(a.n_tokens, 0)::BIGINT AS n_tokens,
           COALESCE(a.score_tenths, 0)::BIGINT AS score_tenths,
           COALESCE(a.score_tenths > 0, false) AS keep
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
    doc="Model-based quality filtering — fastText-style linear "
        "classifier INFERENCE (the CCNet/LLaMA wiki-ref stage): each "
        "doc scored by a published bag-of-words weight table, keep = "
        "positive score. Integer weights make the score an exact "
        "int64 SUM (order-independent, map-side combinable — the s11 "
        "fixed-point rule; a float dot product would be sum-order "
        "lottery); one explode + broadcast vocab join + one combined "
        "SUM shuffle; zero-token docs re-enter via the id spine with "
        "keep=false. The fixture 'model' derives each word's weight "
        "from its own characters ((len*7 + ascii(first)) % 21 - 10) "
        "so BOTH engines materialize identical weights without "
        "shipping a file. operators/textops.py linear_quality_scores.",
    tags=("text", "quality", "pipeline"),
)
def t23(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from nycdb_k8s_loader_spark.operators.textops import (
        linear_quality_scores,
    )

    docs = _docs(spark, sf_dir)
    vocab = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), " "),
                lambda w: w != "",
            )
        ).alias("word")
    ).distinct()
    weights = vocab.select(
        "word",
        (
            (F.length("word") * 7 + F.ascii(F.substring("word", 1, 1)))
            % 21
            - 10
        ).alias("weight"),
    )
    return linear_quality_scores(docs, weights)


# --- c07: the FULL curation pipeline, end to end ------------------------------
#
# The composed oracle reuses each stage's published oracle logic as a
# staged CTE (the s10 precedent), with every stage reading the
# PREVIOUS stage's CTE instead of `documents`:
#   g  = t17 gopher verdicts          (per-row, over documents)
#   u  = t22 url verdicts             (per-row, over the shared URL fixture)
#   c3 = t20 sentence dedup           (over gopher+url survivors)
#   c4 = t13 exact-substring scrub    (over sentence-cleaned text)
#   k5 = d09 fuzzy dedup              (over scrub-cleaned, non-empty text)
#   m6 = p07 token-budget mixture     (over fuzzy-kept docs, CLEAN tokens)
_C07_SQL = f"""
    WITH RECURSIVE
    g0 AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS ws,
               length(replace(trim(text), ' ', '')) AS nonspace
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               len(ws)::BIGINT AS n_tokens_raw,
               ((len(ws) >= 50 AND len(ws) <= 100000)
                AND COALESCE(
                    (CASE WHEN len(ws) = 0 THEN NULL
                          ELSE nonspace / len(ws) END) >= 3.0
                    AND (CASE WHEN len(ws) = 0 THEN NULL
                              ELSE nonspace / len(ws) END) <= 10.0, false)
                AND COALESCE(
                    (CASE WHEN len(ws) = 0 THEN NULL
                          ELSE len(list_filter(ws,
                                   w -> regexp_matches(w, '[a-z]')))
                               / len(ws) END) >= 0.8, false)
                AND (len(list_filter(list_distinct(ws),
                         w -> list_contains({_STOP_SQL}, w))) >= 2)
               ) AS keep_g
        FROM g0
    ),
    u0 AS (SELECT doc_id, lower({_T22_URL_SQL}) AS url FROM documents),
    u1 AS (
        SELECT doc_id, url,
               regexp_replace(regexp_replace(
                   regexp_extract(url,
                       '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1),
                   '^www\\.', ''), ':[0-9]+$', '') AS host,
               regexp_extract(url,
                   '^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path
        FROM u0
    ),
    u AS (
        SELECT doc_id,
               (length(url) <= 160
                AND len(list_filter(string_split(path, '/'),
                                    s -> s <> '')) <= 8
                AND ROUND(length(regexp_replace(host, '[^0-9]', '', 'g'))
                              ::DOUBLE / length(host), 4) <= 0.30
                AND NOT (url LIKE '%casino%' OR url LIKE '%pills%'
                         OR url LIKE '%xxx%')
                AND NOT (regexp_extract(host, '([^.]+\\.[^.]+)$', 1)
                         IN ('badsite.example'))) AS keep_u
        FROM u1
    ),
    s2 AS MATERIALIZED (
        SELECT d.doc_id, d.text
        FROM documents d JOIN g USING (doc_id) JOIN u USING (doc_id)
        WHERE g.keep_g AND u.keep_u
    ),
    ws3 AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS ws
        FROM s2
    ),
    pre3 AS (
        SELECT doc_id,
               list_transform(generate_series(1, len(ws), 8),
                              i -> array_to_string(
                                       list_slice(ws, i, i + 7), ' ')) AS ss
        FROM ws3
    ),
    inst3 AS (
        SELECT doc_id, i - 1 AS pos, ss[i] AS k
        FROM pre3, unnest(generate_series(1, len(ss))) AS t(i)
        WHERE len(string_split_regex(ss[i], ' +')) >= 3
    ),
    dup3 AS (SELECT k FROM inst3
             GROUP BY k HAVING COUNT(DISTINCT doc_id) >= 2),
    rem3 AS (
        SELECT doc_id, list_sort(list(pos)) AS rp
        FROM inst3 JOIN dup3 USING (k) GROUP BY doc_id
    ),
    c3 AS MATERIALIZED (
        SELECT p.doc_id,
               COALESCE(len(r.rp), 0)::BIGINT AS sentences_removed,
               COALESCE(array_to_string(
                   list_filter(p.ss, (x, i) -> r.rp IS NULL
                                      OR NOT list_contains(r.rp, i - 1)),
                   '. '), '') AS text3
        FROM pre3 p LEFT JOIN rem3 r USING (doc_id)
    ),
    w4 AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text3)), ' '),
                           w -> w <> '') AS ws
        FROM c3
    ),
    g4 AS (
        SELECT doc_id, i - 1 AS pos,
               array_to_string(list_slice(ws, i, i + 7), ' ') AS gram
        FROM w4, unnest(generate_series(1, len(ws) - 7)) AS t(i)
        WHERE len(ws) >= 8
    ),
    dupg4 AS (SELECT gram FROM g4 GROUP BY gram HAVING COUNT(*) >= 2),
    st4 AS (SELECT g4.doc_id, g4.pos FROM g4 JOIN dupg4 USING (gram)),
    cov4p AS (
        SELECT DISTINCT doc_id,
               unnest(generate_series(pos, pos + 7)) AS t
        FROM st4
    ),
    cov4 AS (SELECT doc_id, list_sort(list(t)) AS cov
             FROM cov4p GROUP BY doc_id),
    c4 AS MATERIALIZED (
        SELECT w.doc_id,
               len(w.ws)::BIGINT AS n_tokens3,
               COALESCE(len(c.cov), 0)::BIGINT AS dup_tokens,
               COALESCE(array_to_string(
                   list_filter(w.ws, (x, i) -> c.cov IS NULL
                                     OR NOT list_contains(c.cov, i - 1)),
                   ' '), '') AS text4
        FROM w4 w LEFT JOIN cov4 c USING (doc_id)
    ),
    s5 AS MATERIALIZED (SELECT doc_id, text4 AS text FROM c4
           WHERE n_tokens3 - dup_tokens > 0),
    toks5 AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS l
        FROM s5
    ),
    shingles5 AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               CASE WHEN len(l) >= 3
                    THEN l[i] || ' ' || l[i+1] || ' ' || l[i+2]
                    ELSE array_to_string(l, ' ') END AS w
        FROM toks5,
             unnest(CASE WHEN len(l) >= 3 THEN range(1, len(l) - 1)
                         ELSE [CAST(1 AS BIGINT)] END) AS t(i)
    ),
    base5 AS (
        SELECT doc_id,
               CAST('0x' || substring(md5(w), 1, 15) AS BIGINT)
                   % 2147483647 AS x
        FROM shingles5
    ),
    sigs5 AS (
        SELECT doc_id,
               MIN((x * 1000000007 + 337)   % 2147483647) AS h0,
               MIN((x * 998244353  + 7331)  % 2147483647) AS h1,
               MIN((x * 774856531  + 12345) % 2147483647) AS h2,
               MIN((x * 602398169  + 54321) % 2147483647) AS h3,
               MIN((x * 516688307  + 2468)  % 2147483647) AS h4,
               MIN((x * 402653189  + 13579) % 2147483647) AS h5,
               MIN((x * 268435459  + 97531) % 2147483647) AS h6,
               MIN((x * 160481183  + 86420) % 2147483647) AS h7
        FROM base5 GROUP BY doc_id
    ),
    bands5 AS (
        SELECT doc_id, 0 AS band, md5(h0 || '' || h1) AS band_key FROM sigs5
        UNION ALL SELECT doc_id, 1, md5(h2 || '' || h3) FROM sigs5
        UNION ALL SELECT doc_id, 2, md5(h4 || '' || h5) FROM sigs5
        UNION ALL SELECT doc_id, 3, md5(h6 || '' || h7) FROM sigs5
    ),
    cand5 AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands5 a JOIN bands5 b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    sizes5 AS (SELECT doc_id, COUNT(*) AS n FROM shingles5 GROUP BY doc_id),
    common5 AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        FROM cand5 c
        JOIN shingles5 sa ON sa.doc_id = c.doc_a
        JOIN shingles5 sb ON sb.doc_id = c.doc_b AND sb.w = sa.w
        GROUP BY 1, 2
    ),
    edges5 AS (
        SELECT doc_a, doc_b
        FROM common5
        JOIN sizes5 za ON za.doc_id = doc_a
        JOIN sizes5 zb ON zb.doc_id = doc_b
        WHERE n_common * 1.0 / (za.n + zb.n - n_common) >= 0.7
    ),
    sym5 AS MATERIALIZED (
        SELECT doc_a AS a, doc_b AS b FROM edges5
        UNION SELECT doc_b, doc_a FROM edges5
    ),
    reach5(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM sym5)
        UNION
        SELECT reach5.a, sym5.b FROM reach5 JOIN sym5 ON reach5.b = sym5.a
    ),
    clus5 AS (SELECT a AS doc_id, MIN(b) AS cl FROM reach5 GROUP BY a),
    k5 AS MATERIALIZED (
        SELECT s.doc_id,
               COALESCE(c.cl, s.doc_id) = s.doc_id AS kept5
        FROM s5 s LEFT JOIN clus5 c ON c.doc_id = s.doc_id
    ),
    b6 AS MATERIALIZED (
        SELECT k.doc_id, d.source,
               (c4.n_tokens3 - c4.dup_tokens) AS n_tokens
        FROM k5 k JOIN c4 USING (doc_id) JOIN documents d USING (doc_id)
        WHERE k.kept5
    ),
    tot6 AS (SELECT source, SUM(n_tokens)::BIGINT AS t_s
             FROM b6 GROUP BY 1),
    corp6 AS (SELECT SUM(n_tokens)::BIGINT AS ct FROM b6),
    rates6 AS (
        SELECT source,
               LEAST(1000000,
                     (((CASE WHEN source IN
                             ('src0','src1','src2','src3','src4')
                        THEN 120000 ELSE 26666 END)
                       * ((ct * 400000) // 1000000)) // 1000000)
                     * 1000000 // t_s)::BIGINT AS rate_ppm
        FROM tot6 CROSS JOIN corp6
    ),
    m6 AS (
        SELECT b.doc_id FROM b6 b JOIN rates6 r USING (source)
        WHERE (b.doc_id * 9973 + 7919) % 1000000 < r.rate_ppm
    )
    SELECT g.doc_id,
           CASE WHEN NOT g.keep_g THEN 'gopher'
                WHEN NOT u.keep_u THEN 'url'
                WHEN c4.n_tokens3 - c4.dup_tokens = 0 THEN 'scrubbed_empty'
                WHEN NOT k5.kept5 THEN 'fuzzy_dup'
                WHEN m6.doc_id IS NULL THEN 'mixture'
                ELSE 'kept' END AS stage,
           g.n_tokens_raw,
           COALESCE(c3.sentences_removed, 0)::BIGINT AS sentences_removed,
           COALESCE(c4.dup_tokens, 0)::BIGINT AS dup_tokens,
           COALESCE(c4.n_tokens3 - c4.dup_tokens, 0)::BIGINT
               AS n_tokens_clean
    FROM g JOIN u USING (doc_id)
    LEFT JOIN c3 USING (doc_id)
    LEFT JOIN c4 USING (doc_id)
    LEFT JOIN k5 USING (doc_id)
    LEFT JOIN m6 USING (doc_id)
    """


@stage("curation.spine")
def _verdict_spine(
    spark: SparkSession, docs: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """The gopher+url attribution spine shared by c07 and the c08/st14
    funnel — (doc_id, n_tokens_raw, keep_g, keep_u[, *carry]),
    checkpointed.

    FUSED into one corpus pass (r13, guide §2.4): the url fixture
    derives from doc_id alone and every url rule is row-local except
    the blocklist test (a broadcast left join — still map-side), so
    gopher verdict, url derivation, and url verdict all ride one
    projection over one documents scan. The previous shape ran the
    gopher pass TWICE (once per side of a spine join on doc_id) and
    paid that join's two exchanges; the fused spine has zero
    exchanges before its checkpoint. ``keep_u`` is NULL for
    gopher-rejected docs — exactly the old left join's semantics (the
    url stage never saw those rows).

    ``carry`` (r14, guide §2.4/§2.6): input columns (text, source)
    carried verbatim onto the spine so downstream stages project the
    survivor payload straight off THIS checkpoint instead of
    re-scanning the corpus and shuffle-joining it back on doc_id.
    Deletes one full corpus scan + one shuffle join + one serial
    checkpoint job (the old ``s2`` survivor-fetch stage) from the
    c07/c08 critical path; at 100 TB the spine is the stage-1
    published table and the payload columns ride the same write."""
    import pyspark.sql.functions as F

    from nycdb_k8s_loader_spark.operators.textops import (
        gopher_quality_rules,
        url_registered_domain,
        url_shape_keep,
    )

    blocklist = spark.createDataFrame(
        [("badsite.example",)], "domain string"
    )
    bl = blocklist.select(
        F.lower(F.col("domain")).alias("__bl_dom"),
        F.lit(True).alias("__blocked"),
    ).distinct()
    g = gopher_quality_rules(docs, passthrough=carry).select(
        "doc_id",
        F.col("n_words").alias("n_tokens_raw"),
        F.col("keep").alias("keep_g"),
        *carry,
    )
    url = F.lower(F.expr(_T22_URL_SQL))
    return materialize(
        g.withColumn("__url", F.when(F.col("keep_g"), url))
        .withColumn(
            "__dom",
            F.when(F.col("keep_g"), url_registered_domain(F.col("__url"))),
        )
        .join(
            F.broadcast(bl), F.col("__dom") == F.col("__bl_dom"), "left"
        )
        .select(
            "doc_id",
            "n_tokens_raw",
            "keep_g",
            F.when(
                F.col("keep_g"),
                url_shape_keep(
                    F.col("__url"),
                    F.coalesce(F.col("__blocked"), F.lit(False)),
                ),
            ).alias("keep_u"),
            *carry,
        ),
        "curation.spine",
    )


@register(
    "c07_curation_pipeline_e2e",
    _C07_SQL,
    doc="The FULL LLM-data curation pipeline composed end to end over "
        "one corpus — the artifact that proves the stage operators "
        "compose: t17 gopher rules -> t22 url/domain filter -> t20 "
        "sentence (boilerplate) dedup -> t13 exact-substring scrub -> "
        "d09 fuzzy dedup -> p07 token-budget mixture, each stage "
        "consuming the PREVIOUS stage's survivors/cleaned text, with "
        "per-doc attribution (first rejecting stage or 'kept') and "
        "per-stage removal stats like t12's funnel. Stage boundaries "
        "are eager localCheckpoints — the in-session analog of the "
        "published stage tables a production run writes, so no stage "
        "is ever recomputed by a downstream consumer (the classic "
        "composition bug: N consumers of a lazy stage frame re-run "
        "the whole upstream pipeline N times). Corpus scans: ONE "
        "documents.parquet pass (r14) — the verdict spine carries "
        "text+source, so the survivor fetch and the mixture-source "
        "fetch are row-local projections of the spine checkpoint; "
        "stages 3/4/5 each read the previous checkpoint exactly "
        "once — at 100 TB each checkpoint is a published parquet "
        "stage table and the shuffle set is exactly the union of "
        "each stage's own documented shuffles. Oracle: the six "
        "published stage oracles composed as one staged-CTE chain "
        "(the s10 precedent).",
    tags=("pipeline", "text", "quality", "dedup", "sampling"),
)
def c07(spark: SparkSession, sf_dir: str) -> DataFrame:
    # oracle-pinned form: string gram/sentence keys (DuckDB has no
    # xxhash64), pinned d09 banding
    return curation_pipeline(spark, sf_dir, hashed=False)


@stage("curation.pipeline")
def curation_pipeline(
    spark: SparkSession, sf_dir: str, hashed: bool = False
) -> DataFrame:
    """The c07 builder, parameterized for scale: ``hashed=True`` is
    the production form — the sentence-dedup count pass and the
    span-scrub frequency pass shuffle 8-byte xxhash64 keys instead of
    raw strings, and fuzzy dedup's banding resolves by the bands_for
    corpus-size policy instead of the oracle's pinned (8, 4). The
    key-form switch is verdict-identical by construction
    (TestHashedGramTwin pins it per operator); the banding policy is
    the documented LSH recall/FP trade at scale. bench_scale measures
    this form (``c07_policy_hashed``)."""
    import pyspark.sql.functions as F

    from nycdb_k8s_loader_spark.operators.dedup import (
        exact_substring_scrub,
        fuzzy_dedup,
    )
    from nycdb_k8s_loader_spark.operators.sampling import (
        token_budget_mixture,
    )
    from nycdb_k8s_loader_spark.operators.textops import sentence_dedup

    docs = _docs(spark, sf_dir)

    # stages 1+2: the fused gopher+url attribution spine — one corpus
    # pass, zero pre-checkpoint exchanges (see :func:`_verdict_spine`),
    # carrying text+source so it is the ONLY corpus scan (r14): the
    # old survivor-fetch stage (corpus re-scan ⋈ survivors, its own
    # eager checkpoint job) collapses to a row-local projection of
    # this checkpoint, and the mixture stage's source fetch stops
    # scanning the corpus a third time. The scan is spread up to
    # defaultParallelism first (r14): a single-row-group corpus file
    # scans as ONE task, and with zero exchanges before the spine
    # checkpoint the whole verdict pass — and every downstream
    # stage's pre-exchange map work reading the checkpoint — would
    # serialize on that task (the pipeline's measured 8→32-core
    # scaling ratio was 0.75). No-op at cluster scale where the scan
    # is already wide.
    spine = _verdict_spine(
        spark, _spread_small_scan(docs, "doc_id"), carry=("text", "source")
    )
    verdicts = spine.select("doc_id", "n_tokens_raw", "keep_g", "keep_u")

    # survivor payload: a pure projection of the spine checkpoint —
    # sentence_dedup's two reads of it hit checkpoint blocks, not a
    # recomputed corpus scan, so no second materialization is needed
    s2 = spine.filter(F.col("keep_g") & F.col("keep_u")).select(
        "doc_id", "text"
    )

    # stage 3: sentence dedup among survivors (t20's segmentation)
    c3 = materialize(
        sentence_dedup(
            _pseudo_sentence_docs(s2), min_docs=2, min_words=3,
            hashed_keys=hashed,
        ),
        "c07.sentences",
    )

    # stage 4: exact-substring scrub of the boilerplate-cleaned text
    # (string grams are the oracle pin; the hashed production form
    # shuffles 8-byte gram keys — the t13 sf3 lesson)
    c4 = materialize(
        exact_substring_scrub(
            c3.select("doc_id", F.col("cleaned_text").alias("text")),
            ngram=8,
            hashed_grams=hashed,
        ),
        "c07.scrub",
    )

    # stage 5: fuzzy dedup of non-empty cleaned docs (oracle pins
    # d09's banding; production resolves by the bands_for policy);
    # docs scrubbed to nothing exit as 'scrubbed_empty' instead of
    # forming a giant all-empty near-dup cluster
    s5 = c4.filter(F.col("n_tokens") - F.col("dup_tokens") > 0).select(
        "doc_id", F.col("cleaned_text").alias("text")
    )
    banding = {} if hashed else dict(num_hashes=8, bands=4)
    f5 = materialize(
        fuzzy_dedup(s5, threshold=0.7, shingles=3, **banding).select(
            "doc_id", "is_kept"
        ),
        "c07.fuzzy",
    )

    # stage 6: token-budget mixture over fuzzy-kept docs, budgeted in
    # CLEAN tokens (p07's shares; sources fetched via one 2-col scan)
    shares = {f"src{i}": (120_000 if i < 5 else 26_666) for i in range(20)}
    # checkpoint the mixture INPUT too: token_budget_mixture reads its
    # base frame three times (per-source totals, corpus total, final
    # filter) — lazy, that would re-run the source fetch (and at 100 TB
    # re-scan the corpus) three times
    s6 = materialize(
        s5.join(f5.filter("is_kept").hint("shuffle_hash"), "doc_id")
        .join(spine.select("doc_id", "source"), "doc_id"),
        "c07.mixture_input",
    )
    m6 = token_budget_mixture(
        s6, shares, budget_ppm_of_corpus=400_000
    ).select("doc_id", F.lit(True).alias("__in_mix"))

    # attribution: first rejecting stage, or 'kept'
    return (
        verdicts
        .join(
            c3.select(
                "doc_id", F.col("n_removed").alias("sentences_removed")
            ),
            "doc_id",
            "left",
        )
        .join(
            c4.select(
                "doc_id",
                "dup_tokens",
                (F.col("n_tokens") - F.col("dup_tokens")).alias(
                    "n_tokens_clean"
                ),
            ),
            "doc_id",
            "left",
        )
        .join(f5, "doc_id", "left")
        .join(m6, "doc_id", "left")
        .select(
            "doc_id",
            F.when(~F.col("keep_g"), "gopher")
            .when(~F.col("keep_u"), "url")
            .when(F.col("n_tokens_clean") == 0, "scrubbed_empty")
            .when(~F.col("is_kept"), "fuzzy_dup")
            .when(F.col("__in_mix").isNull(), "mixture")
            .otherwise("kept")
            .alias("stage"),
            F.col("n_tokens_raw").cast("long").alias("n_tokens_raw"),
            F.coalesce("sentences_removed", F.lit(0))
            .cast("long")
            .alias("sentences_removed"),
            F.coalesce("dup_tokens", F.lit(0))
            .cast("long")
            .alias("dup_tokens"),
            F.coalesce("n_tokens_clean", F.lit(0))
            .cast("long")
            .alias("n_tokens_clean"),
        )
    )


# --- c08: INCREMENTAL curation — the batch probes PUBLISHED states -----------
#
# The continuous-ingestion twin of c07 (the d11→d13 move applied to
# the whole curation funnel): the standing corpus (even doc_ids)
# publishes one state table per corpus-dependent stage — boilerplate
# sentence keys (sentence_dedup_state), duplicated 8-grams
# (duplicated_gram_state), dedup signatures (dedup_signature_state),
# frozen per-source mixture rates — and an incoming batch (odd ids)
# flows through the funnel probing those states, never re-reading or
# re-aggregating the corpus. Intra-batch repetition is out of every
# probe's contract (the incremental_dedup rule), so verdicts are
# split-invariant — which is exactly what lets st14 run the same
# funnel as a STREAM against the same states with the same oracle.
_C08_SQL = f"""
    WITH
    cws AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS ws
        FROM documents WHERE (doc_id * 9973 + 7919) % 1000000 < 500000
    ),
    cpre AS (
        SELECT doc_id,
               list_transform(generate_series(1, len(ws), 8),
                              i -> array_to_string(
                                       list_slice(ws, i, i + 7), ' ')) AS ss
        FROM cws
    ),
    ctext AS MATERIALIZED (
        SELECT doc_id, array_to_string(ss, '. ') AS text FROM cpre
    ),
    cinst AS (
        SELECT doc_id, ss[i] AS k
        FROM cpre, unnest(generate_series(1, len(ss))) AS t(i)
        WHERE len(string_split_regex(ss[i], ' +')) >= 3
    ),
    st3 AS MATERIALIZED (
        SELECT k FROM cinst GROUP BY k HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    cw4 AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS ws
        FROM ctext
    ),
    cg4 AS (
        SELECT array_to_string(list_slice(ws, i, i + 7), ' ') AS gram
        FROM cw4, unnest(generate_series(1, len(ws) - 7)) AS t(i)
        WHERE len(ws) >= 8
    ),
    st4 AS MATERIALIZED (
        SELECT gram FROM cg4 GROUP BY gram HAVING COUNT(*) >= 2
    ),
    chash AS MATERIALIZED (
        SELECT md5(lower(trim(text))) AS h FROM ctext
    ),
    ctoks AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS l
        FROM ctext
    ),
    cshing AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               CASE WHEN len(l) >= 3
                    THEN l[i] || ' ' || l[i+1] || ' ' || l[i+2]
                    ELSE array_to_string(l, ' ') END AS w
        FROM ctoks,
             unnest(CASE WHEN len(l) >= 3 THEN range(1, len(l) - 1)
                         ELSE [CAST(1 AS BIGINT)] END) AS t(i)
    ),
    cbase AS (
        SELECT doc_id,
               CAST('0x' || substring(md5(w), 1, 15) AS BIGINT)
                   % 2147483647 AS x
        FROM cshing
    ),
    csigs AS (
        SELECT doc_id,
               MIN((x * 1000000007 + 337)   % 2147483647) AS h0,
               MIN((x * 998244353  + 7331)  % 2147483647) AS h1,
               MIN((x * 774856531  + 12345) % 2147483647) AS h2,
               MIN((x * 602398169  + 54321) % 2147483647) AS h3,
               MIN((x * 516688307  + 2468)  % 2147483647) AS h4,
               MIN((x * 402653189  + 13579) % 2147483647) AS h5,
               MIN((x * 268435459  + 97531) % 2147483647) AS h6,
               MIN((x * 160481183  + 86420) % 2147483647) AS h7
        FROM cbase GROUP BY doc_id
    ),
    cbands AS MATERIALIZED (
        SELECT doc_id, 0 AS band, md5(h0 || '' || h1) AS band_key FROM csigs
        UNION ALL SELECT doc_id, 1, md5(h2 || '' || h3) FROM csigs
        UNION ALL SELECT doc_id, 2, md5(h4 || '' || h5) FROM csigs
        UNION ALL SELECT doc_id, 3, md5(h6 || '' || h7) FROM csigs
    ),
    csizes AS MATERIALIZED (
        SELECT doc_id, COUNT(*) AS n FROM cshing GROUP BY doc_id
    ),
    cbase6 AS (
        SELECT doc_id, source,
               (length(trim(text))
                - length(replace(trim(text), ' ', '')) + 1)::BIGINT
                   AS n_tokens
        FROM documents WHERE (doc_id * 9973 + 7919) % 1000000 < 500000
    ),
    tot6 AS (SELECT source, SUM(n_tokens)::BIGINT AS t_s
             FROM cbase6 GROUP BY 1),
    corp6 AS (SELECT SUM(n_tokens)::BIGINT AS ct FROM cbase6),
    rates6 AS MATERIALIZED (
        SELECT source,
               LEAST(1000000,
                     (((CASE WHEN source IN
                             ('src0','src1','src2','src3','src4')
                        THEN 120000 ELSE 26666 END)
                       * ((ct * 400000) // 1000000)) // 1000000)
                     * 1000000 // t_s)::BIGINT AS rate_ppm
        FROM tot6 CROSS JOIN corp6
    ),
    bg0 AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS ws,
               length(replace(trim(text), ' ', '')) AS nonspace
        FROM documents WHERE (doc_id * 9973 + 7919) % 1000000 >= 500000
    ),
    g AS (
        SELECT doc_id,
               len(ws)::BIGINT AS n_tokens_raw,
               ((len(ws) >= 50 AND len(ws) <= 100000)
                AND COALESCE(
                    (CASE WHEN len(ws) = 0 THEN NULL
                          ELSE nonspace / len(ws) END) >= 3.0
                    AND (CASE WHEN len(ws) = 0 THEN NULL
                              ELSE nonspace / len(ws) END) <= 10.0, false)
                AND COALESCE(
                    (CASE WHEN len(ws) = 0 THEN NULL
                          ELSE len(list_filter(ws,
                                   w -> regexp_matches(w, '[a-z]')))
                               / len(ws) END) >= 0.8, false)
                AND (len(list_filter(list_distinct(ws),
                         w -> list_contains({_STOP_SQL}, w))) >= 2)
               ) AS keep_g
        FROM bg0
    ),
    u0 AS (SELECT doc_id, lower({_T22_URL_SQL}) AS url
           FROM documents WHERE (doc_id * 9973 + 7919) % 1000000 >= 500000),
    u1 AS (
        SELECT doc_id, url,
               regexp_replace(regexp_replace(
                   regexp_extract(url,
                       '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1),
                   '^www\\.', ''), ':[0-9]+$', '') AS host,
               regexp_extract(url,
                   '^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path
        FROM u0
    ),
    u AS (
        SELECT doc_id,
               (length(url) <= 160
                AND len(list_filter(string_split(path, '/'),
                                    s -> s <> '')) <= 8
                AND ROUND(length(regexp_replace(host, '[^0-9]', '', 'g'))
                              ::DOUBLE / length(host), 4) <= 0.30
                AND NOT (url LIKE '%casino%' OR url LIKE '%pills%'
                         OR url LIKE '%xxx%')
                AND NOT (regexp_extract(host, '([^.]+\\.[^.]+)$', 1)
                         IN ('badsite.example'))) AS keep_u
        FROM u1
    ),
    s2 AS (
        SELECT d.doc_id, d.text
        FROM documents d JOIN g USING (doc_id) JOIN u USING (doc_id)
        WHERE (d.doc_id * 9973 + 7919) % 1000000 >= 500000
          AND g.keep_g AND u.keep_u
    ),
    bws AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS ws
        FROM s2
    ),
    bpre AS (
        SELECT doc_id,
               list_transform(generate_series(1, len(ws), 8),
                              i -> array_to_string(
                                       list_slice(ws, i, i + 7), ' ')) AS ss
        FROM bws
    ),
    binst AS (
        SELECT doc_id, i - 1 AS pos, ss[i] AS k
        FROM bpre, unnest(generate_series(1, len(ss))) AS t(i)
        WHERE len(string_split_regex(ss[i], ' +')) >= 3
    ),
    rem3 AS (
        SELECT doc_id, list_sort(list(pos)) AS rp
        FROM binst JOIN st3 USING (k) GROUP BY doc_id
    ),
    c3 AS MATERIALIZED (
        SELECT p.doc_id,
               COALESCE(len(r.rp), 0)::BIGINT AS sentences_removed,
               COALESCE(array_to_string(
                   list_filter(p.ss, (x, i) -> r.rp IS NULL
                                      OR NOT list_contains(r.rp, i - 1)),
                   '. '), '') AS text3
        FROM bpre p LEFT JOIN rem3 r USING (doc_id)
    ),
    w4 AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text3)), ' '),
                           w -> w <> '') AS ws
        FROM c3
    ),
    g4 AS (
        SELECT doc_id, i - 1 AS pos,
               array_to_string(list_slice(ws, i, i + 7), ' ') AS gram
        FROM w4, unnest(generate_series(1, len(ws) - 7)) AS t(i)
        WHERE len(ws) >= 8
    ),
    starts4 AS (SELECT g4.doc_id, g4.pos FROM g4 JOIN st4 USING (gram)),
    cov4p AS (
        SELECT DISTINCT doc_id,
               unnest(generate_series(pos, pos + 7)) AS t
        FROM starts4
    ),
    cov4 AS (SELECT doc_id, list_sort(list(t)) AS cov
             FROM cov4p GROUP BY doc_id),
    c4 AS MATERIALIZED (
        SELECT w.doc_id,
               len(w.ws)::BIGINT AS n_tokens3,
               COALESCE(len(c.cov), 0)::BIGINT AS dup_tokens,
               COALESCE(array_to_string(
                   list_filter(w.ws, (x, i) -> c.cov IS NULL
                                     OR NOT list_contains(c.cov, i - 1)),
                   ' '), '') AS text4
        FROM w4 w LEFT JOIN cov4 c USING (doc_id)
    ),
    s5 AS MATERIALIZED (SELECT doc_id, text4 AS text FROM c4
           WHERE n_tokens3 - dup_tokens > 0),
    bex AS (
        SELECT DISTINCT s.doc_id FROM s5 s
        JOIN chash ch ON ch.h = md5(lower(trim(s.text)))
    ),
    btoks AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS l
        FROM s5
    ),
    bshing AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               CASE WHEN len(l) >= 3
                    THEN l[i] || ' ' || l[i+1] || ' ' || l[i+2]
                    ELSE array_to_string(l, ' ') END AS w
        FROM btoks,
             unnest(CASE WHEN len(l) >= 3 THEN range(1, len(l) - 1)
                         ELSE [CAST(1 AS BIGINT)] END) AS t(i)
    ),
    bbase AS (
        SELECT doc_id,
               CAST('0x' || substring(md5(w), 1, 15) AS BIGINT)
                   % 2147483647 AS x
        FROM bshing
    ),
    bsigs AS (
        SELECT doc_id,
               MIN((x * 1000000007 + 337)   % 2147483647) AS h0,
               MIN((x * 998244353  + 7331)  % 2147483647) AS h1,
               MIN((x * 774856531  + 12345) % 2147483647) AS h2,
               MIN((x * 602398169  + 54321) % 2147483647) AS h3,
               MIN((x * 516688307  + 2468)  % 2147483647) AS h4,
               MIN((x * 402653189  + 13579) % 2147483647) AS h5,
               MIN((x * 268435459  + 97531) % 2147483647) AS h6,
               MIN((x * 160481183  + 86420) % 2147483647) AS h7
        FROM bbase GROUP BY doc_id
    ),
    bbands AS (
        SELECT doc_id, 0 AS band, md5(h0 || '' || h1) AS band_key FROM bsigs
        UNION ALL SELECT doc_id, 1, md5(h2 || '' || h3) FROM bsigs
        UNION ALL SELECT doc_id, 2, md5(h4 || '' || h5) FROM bsigs
        UNION ALL SELECT doc_id, 3, md5(h6 || '' || h7) FROM bsigs
    ),
    cand5 AS (
        SELECT DISTINCT b.doc_id AS bid, c.doc_id AS cid
        FROM bbands b JOIN cbands c
          ON b.band = c.band AND b.band_key = c.band_key
    ),
    bsizes AS (SELECT doc_id, COUNT(*) AS n FROM bshing GROUP BY doc_id),
    common5 AS (
        SELECT c.bid, c.cid, COUNT(*) AS n_common
        FROM cand5 c
        JOIN bshing sb ON sb.doc_id = c.bid
        JOIN cshing sc ON sc.doc_id = c.cid AND sc.w = sb.w
        GROUP BY 1, 2
    ),
    bnear AS (
        SELECT DISTINCT bid AS doc_id
        FROM common5
        JOIN bsizes zb ON zb.doc_id = bid
        JOIN csizes zc ON zc.doc_id = cid
        WHERE n_common * 1.0 / (zb.n + zc.n - n_common) >= 0.7
    ),
    dup5 AS (SELECT doc_id FROM bex UNION SELECT doc_id FROM bnear),
    kept5 AS (
        SELECT s.doc_id FROM s5 s
        WHERE s.doc_id NOT IN (SELECT doc_id FROM dup5)
    ),
    m6 AS (
        SELECT k.doc_id
        FROM kept5 k JOIN documents d USING (doc_id)
        JOIN rates6 r USING (source)
        WHERE {sample_bucket_sql("k.doc_id", salt=_C08_MIXTURE_SALT)}
              < r.rate_ppm
    )
    SELECT g.doc_id,
           CASE WHEN NOT g.keep_g THEN 'gopher'
                WHEN NOT u.keep_u THEN 'url'
                WHEN c4.n_tokens3 - c4.dup_tokens = 0 THEN 'scrubbed_empty'
                WHEN d5.doc_id IS NOT NULL THEN 'corpus_dup'
                WHEN m6.doc_id IS NULL THEN 'mixture'
                ELSE 'kept' END AS stage,
           g.n_tokens_raw,
           COALESCE(c3.sentences_removed, 0)::BIGINT AS sentences_removed,
           COALESCE(c4.dup_tokens, 0)::BIGINT AS dup_tokens,
           COALESCE(c4.n_tokens3 - c4.dup_tokens, 0)::BIGINT
               AS n_tokens_clean
    FROM g JOIN u USING (doc_id)
    LEFT JOIN c3 USING (doc_id)
    LEFT JOIN c4 USING (doc_id)
    LEFT JOIN dup5 d5 USING (doc_id)
    LEFT JOIN m6 USING (doc_id)
    """


@register(
    "c08_incremental_curation",
    _C08_SQL,
    doc="INCREMENTAL curation — c07's funnel as a continuous-"
        "ingestion probe (the d11→d13 move applied to the whole "
        "pipeline): the standing corpus (a deterministic hash-bucket "
        "half — doc_id PARITY would be confounded with the fixture's "
        "source = src(id mod 20)) publishes one "
        "state per corpus-dependent stage — boilerplate sentence "
        "keys, duplicated 8-grams, dedup signatures, frozen "
        "per-source mixture rates — and the incoming batch (the "
        "complement bucket) "
        "flows gopher → url → sentence-scrub-from-state → span-"
        "scrub-from-state → incremental-dedup-from-state → frozen-"
        "rate mixture, probing published tables only: the corpus is "
        "never re-read, re-counted, or re-aggregated per increment, "
        "so per-batch cost is O(batch + hits) at any corpus size. "
        "Intra-batch repetition is out of every probe's contract "
        "(the incremental_dedup rule) — verdicts are split-"
        "invariant, which is what lets st14 run the same funnel as a "
        "stream against the same states with the same oracle. "
        "Attribution output matches c07 (first rejecting stage or "
        "'kept', with 'corpus_dup' where c07 has 'fuzzy_dup'). "
        "operators: textops.sentence_dedup_from_state, "
        "dedup.exact_substring_scrub_from_state, "
        "dedup.incremental_dedup_from_state.",
    tags=("pipeline", "text", "quality", "dedup", "incremental"),
)
def c08(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    from nycdb_k8s_loader_spark.operators.sampling import sample_bucket

    states = _c08_states(spark, sf_dir)
    # hash-bucket split, NOT doc_id parity: source = src{id % 20} in
    # the fixture, so a parity split is perfectly confounded with
    # source (the corpus would publish rates for only half the
    # sources and the mixture join would drop every batch doc)
    batch = _docs(spark, sf_dir).filter(
        sample_bucket(F.col("doc_id")) >= 500_000
    )
    return _incremental_curation(spark, batch, states)


def _c08_states(
    spark: SparkSession,
    sf_dir: str,
    hashed: bool = False,
    corpus: DataFrame | None = None,
    st5_banding: dict | None = None,
) -> dict:
    """Build (eagerly, as checkpoints) the four published state
    frames from the hash-bucket corpus half — the in-session analog of the
    published state tables a production corpus refresh writes.
    st14 persists these same frames to parquet and probes them from
    the stream.  ``corpus`` overrides the standing-corpus frame (the
    c09 compact==rebuild pin builds states directly on the retained
    corpus to compare against the compacted set).

    ``st5_banding`` parameterizes the signature state: the default
    pins the catalog's oracle banding (num_hashes=8, bands=4 — r=2,
    required for DuckDB parity); pass ``{}`` to resolve the LIVE
    :func:`~nycdb_k8s_loader_spark.operators.dedup.bands_for` policy
    from the corpus count — the production form.  The distinction is
    load-bearing at scale: fixed r=2 banding grows false-positive
    candidate pairs ~quadratically with corpus size (the bands_for
    docstring's math, measured 591→53k candidates on a ×10 step in
    BENCH_sf1.json), which is what the r13 pinned-vs-policy decade
    twin (bench_scale c08_from_state_policy vs
    c08_from_state_policy_bands) isolates."""
    import pyspark.sql.functions as F

    from nycdb_k8s_loader_spark.operators.dedup import (
        dedup_signature_state,
        duplicated_gram_state,
    )
    from nycdb_k8s_loader_spark.operators.sampling import sample_bucket
    from nycdb_k8s_loader_spark.operators.textops import (
        sentence_dedup_state,
    )

    if corpus is None:
        corpus = _docs(spark, sf_dir).filter(
            sample_bucket(F.col("doc_id")) < 500_000
        )
    cpre = materialize(_pseudo_sentence_docs(corpus), "c08.sentences")
    # hashed=True is the production key form (8-byte sentence keys;
    # the gram state is string-identical either way — the hashed
    # frequency pass re-verifies exact strings); the catalog pins
    # False for the DuckDB oracle
    if st5_banding is None:
        st5_banding = dict(num_hashes=8, bands=4)
    # frozen mixture rates, rebuilt from corpus totals with p07's
    # exact int64 ppm chain (taking DISTINCT (source, rate_ppm) off
    # token_budget_mixture's KEPT output would silently lose any
    # source whose every doc sampled out)
    tok = (
        corpus.select("source", _c08_ntokens().alias("n_tokens"))
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("t_s"))
    )
    # the four published states share only the cpre checkpoint —
    # materialize them concurrently (guide §2.6)
    st3, st4, st5, rates = materialize_all(
        ("c08.st3", sentence_dedup_state(
            cpre, min_docs=2, min_words=3, hashed_keys=hashed
        )),
        ("c08.st4", duplicated_gram_state(cpre, ngram=8, hashed_grams=hashed)),
        ("c08.st5", dedup_signature_state(cpre, shingles=3, **st5_banding)),
        ("c08.rates", _frozen_rates(tok)),
    )
    return {"st3": st3, "st4": st4, "st5": st5, "rates": rates}


def _c08_ntokens():
    """The freeze-time token-count expression over ``text`` — ONE
    home shared by the rate freeze (_c08_states), the takedown
    decrement (c09 via source_token_state_compact), and the oracle's
    cbase6 arithmetic; a drift here mis-decrements every takedown."""
    import pyspark.sql.functions as F

    return (
        F.length(F.trim("text"))
        - F.length(F.replace(F.trim("text"), F.lit(" "), F.lit("")))
        + 1
    ).cast("long")


def _frozen_rates(tok: DataFrame) -> DataFrame:
    """Derive frozen per-source mixture rates from a ``(source, t_s)``
    token-sum state with the exact int64 ppm chain — shared by the
    freeze path and the takedown re-freeze so decrement-then-derive
    can never drift from freeze semantics."""
    import pyspark.sql.functions as F

    shares = {f"src{i}": (120_000 if i < 5 else 26_666) for i in range(20)}
    share = F.coalesce(
        F.create_map(
            *[F.lit(x) for kv in shares.items() for x in kv]
        )[F.col("source")].cast("long"),
        F.lit(0).cast("long"),
    )
    return (
        tok.crossJoin(F.broadcast(tok.agg(F.sum("t_s").alias("ct"))))
        .withColumn("__share", share)
        .select(
            "source",
            F.least(
                F.lit(1_000_000).cast("long"),
                F.expr(
                    "((__share * ((ct * 400000) div 1000000)) "
                    "div 1000000) * 1000000 div t_s"
                ),
            ).alias("rate_ppm"),
        )
    )


def _incremental_curation(
    spark: SparkSession, batch: DataFrame, states: dict,
    hashed: bool = False,
) -> DataFrame:
    """The batch-side funnel shared by c08 (batch) and st14 (inside
    foreachBatch): per-row gopher/url verdicts, then from-state
    probes of the published sentence-key / dup-gram / signature /
    rate tables."""
    import pyspark.sql.functions as F

    from nycdb_k8s_loader_spark.operators.dedup import (
        exact_substring_scrub_from_state,
        incremental_dedup_from_state,
    )
    from nycdb_k8s_loader_spark.operators.sampling import sample_bucket
    from nycdb_k8s_loader_spark.operators.textops import (
        sentence_dedup_from_state,
    )

    # fused gopher+url spine — one batch pass, zero pre-checkpoint
    # exchanges (see :func:`_verdict_spine`), carrying text+source so
    # the survivor fetch and the mixture-source fetch are row-local
    # projections of this checkpoint (r14) — no batch re-scan, no
    # survivor shuffle join, one fewer serial checkpoint job. The
    # batch is spread up to defaultParallelism first (single-row-group
    # scans deliver the whole funnel's pre-exchange work to ONE task
    # otherwise; no-op when the batch already arrives wide).
    spine = _verdict_spine(
        spark, _spread_small_scan(batch, "doc_id"), carry=("text", "source")
    )
    verdicts = spine.select("doc_id", "n_tokens_raw", "keep_g", "keep_u")

    s2 = spine.filter(F.col("keep_g") & F.col("keep_u")).select(
        "doc_id", "text", "source"
    )

    c3 = materialize(
        sentence_dedup_from_state(
            states["st3"],
            _pseudo_sentence_docs(s2),
            min_words=3,
            hashed_keys=hashed,
        ),
        "curation.inc.sentences",
    )

    c4 = materialize(
        exact_substring_scrub_from_state(
            states["st4"],
            c3.select("doc_id", F.col("cleaned_text").alias("text")),
            ngram=8,
        ),
        "curation.inc.scrub",
    )

    s5 = c4.filter(F.col("n_tokens") - F.col("dup_tokens") > 0).select(
        "doc_id", F.col("cleaned_text").alias("text")
    )
    v5 = materialize(
        incremental_dedup_from_state(states["st5"], s5, threshold=0.7),
        "curation.inc.fuzzy",
    )

    kept5 = v5.filter(F.col("verdict") == "keep").select("doc_id")
    # mixture keep on an INDEPENDENT channel from the corpus/batch
    # split (salt=0 there): same-channel composition deterministically
    # confines batch buckets to [500000, 1M), zeroing out every
    # source with rate_ppm < 500000 (VERDICT r9 #1)
    m6 = (
        kept5.join(spine.select("doc_id", "source"), "doc_id")
        .join(F.broadcast(states["rates"]), "source")
        .filter(
            sample_bucket(F.col("doc_id"), salt=_C08_MIXTURE_SALT)
            < F.col("rate_ppm")
        )
        .select("doc_id", F.lit(True).alias("__in_mix"))
    )

    return (
        verdicts
        .join(
            c3.select(
                "doc_id", F.col("n_removed").alias("sentences_removed")
            ),
            "doc_id",
            "left",
        )
        .join(
            c4.select(
                "doc_id",
                "dup_tokens",
                (F.col("n_tokens") - F.col("dup_tokens")).alias(
                    "n_tokens_clean"
                ),
            ),
            "doc_id",
            "left",
        )
        .join(
            v5.select(
                "doc_id",
                (F.col("verdict") != "keep").alias("__is_dup"),
            ),
            "doc_id",
            "left",
        )
        .join(m6, "doc_id", "left")
        .select(
            "doc_id",
            F.when(~F.col("keep_g"), "gopher")
            .when(~F.col("keep_u"), "url")
            .when(F.col("n_tokens_clean") == 0, "scrubbed_empty")
            .when(F.col("__is_dup"), "corpus_dup")
            .when(F.col("__in_mix").isNull(), "mixture")
            .otherwise("kept")
            .alias("stage"),
            F.col("n_tokens_raw").cast("long").alias("n_tokens_raw"),
            F.coalesce("sentences_removed", F.lit(0))
            .cast("long")
            .alias("sentences_removed"),
            F.coalesce("dup_tokens", F.lit(0))
            .cast("long")
            .alias("dup_tokens"),
            F.coalesce("n_tokens_clean", F.lit(0))
            .cast("long")
            .alias("n_tokens_clean"),
        )
    )


# bump when c08/st14 semantics change — invalidates persisted state
# and stream sink/checkpoint caches that would otherwise replay stale
# results (availableNow + an existing checkpoint processes zero rows)
_C08_CACHE_VERSION = "v2-mixsalt1"


def _c08_cache_root(sf_dir: str, kind: str) -> str:
    """Per-user temp root keyed on fixture CONTENT identity (path +
    size + mtime) and the funnel semantics version.  Size+mtime (not
    mtime alone) so a regenerated fixture that happens to preserve
    mtime still misses; a per-user path component so two users on a
    shared host never collide on a world-writable first-writer-wins
    directory (ADVICE r9)."""
    import getpass
    import hashlib
    import os
    import tempfile

    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    sig = hashlib.md5(
        f"{sf_dir}:{st.st_size}:{st.st_mtime_ns}:{_C08_CACHE_VERSION}"
        .encode()
    ).hexdigest()[:12]
    user = getpass.getuser()
    return os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_{user}",
        f"{kind}_{sig}",
    )


def _c08_pinned_states(spark: SparkSession, sf_dir: str) -> dict:
    """The four c08 state tables PERSISTED per fixture identity and
    read back — what a production corpus refresh publishes; st14's
    stream probes these exact parquet tables."""
    import os

    root = _c08_cache_root(sf_dir, "curation_states")
    names = ("st3", "st4", "st5", "rates")
    if not all(
        os.path.exists(os.path.join(root, n, "_SUCCESS")) for n in names
    ):
        built = _c08_states(spark, sf_dir)
        for n in names:
            built[n].write.mode("overwrite").parquet(
                os.path.join(root, n)
            )
    return {n: spark.read.parquet(os.path.join(root, n)) for n in names}


@register(
    "st14_streaming_curation",
    _C08_SQL,
    doc="c08's incremental curation run as a STREAM — the full "
        "funnel inline in the ingest path instead of a nightly "
        "batch: incoming docs arrive as a file stream, each micro-"
        "batch flows gopher → url → the three from-state probes → "
        "frozen-rate mixture against the PUBLISHED corpus state "
        "tables inside foreachBatch (a micro-batch is a batch frame, "
        "so the probes' joins need no streaming state store), and "
        "per-doc attributions publish through the idempotent "
        "versioned upsert sink keyed by doc_id. Every stage verdict "
        "depends only on the doc and the fixed states (intra-batch "
        "effects are out of every probe's contract), so the "
        "availableNow pass is split-invariant and equals the batch "
        "twin — hence c08's shared oracle. With st11 (quality "
        "funnel), st12 (lexical dedup) and st13 (semantic dedup) "
        "this completes the batch/streaming symmetry: the WHOLE "
        "curation pipeline now runs in either mode off one set of "
        "published states.",
    tags=("streaming", "pipeline", "text", "quality", "incremental"),
)
def st14(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    from nycdb_k8s_loader_spark.operators.sampling import sample_bucket
    from nycdb_k8s_loader_spark.streaming.pipeline import (
        foreach_batch_upsert,
        read_upsert_sink,
    )

    states = _c08_pinned_states(spark, sf_dir)
    schema = _docs(spark, sf_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .filter(sample_bucket(F.col("doc_id")) >= 500_000)
    )
    tmp = _c08_cache_root(sf_dir, "st14")
    upsert = foreach_batch_upsert(f"{tmp}/sink", ["doc_id"])

    def probe(mb, batch_id):
        upsert(_incremental_curation(spark, mb, states), batch_id)

    (stream,) = _on_loop_session(stream)
    q = (
        stream.writeStream.foreachBatch(probe)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_upsert_sink(spark, f"{tmp}/sink").select(
        "doc_id", "stage", "n_tokens_raw", "sentences_removed",
        "dup_tokens", "n_tokens_clean",
    )


# --- round-11: sentence-state retirement as an oracle-backed row -------------

@register(
    "t24_sentence_state_retire",
    """
    WITH ws AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS ws
        FROM documents
    ),
    pre AS (
        SELECT doc_id,
               list_transform(generate_series(1, len(ws), 8),
                              i -> array_to_string(
                                       list_slice(ws, i, i + 7), ' ')) AS ss
        FROM ws
    ),
    inst AS (
        SELECT doc_id, i - 1 AS pos, ss[i] AS k
        FROM pre, unnest(generate_series(1, len(ss))) AS t(i)
        WHERE len(string_split_regex(ss[i], ' +')) >= 3
    ),
    dup AS (SELECT DISTINCT k FROM inst WHERE doc_id % 4 = 0),
    binst AS (SELECT * FROM inst WHERE doc_id % 2 = 1),
    rem AS (
        SELECT doc_id, list_sort(list(pos)) AS rp
        FROM binst JOIN dup USING (k) GROUP BY doc_id
    )
    SELECT p.doc_id,
           len(p.ss)::BIGINT AS n_sentences,
           COALESCE(len(r.rp), 0)::BIGINT AS n_removed,
           COALESCE(array_to_string(
               list_filter(p.ss, (x, i) -> r.rp IS NULL
                                  OR NOT list_contains(r.rp, i - 1)),
               '. '), '') AS cleaned_text
    FROM pre p LEFT JOIN rem r USING (doc_id)
    WHERE p.doc_id % 2 = 1
    """,
    doc="Takedown path for the persisted sentence-key state "
        "(operators/state_lifecycle.py sentence_dedup_state_compact): "
        "build t20's sentence state WITH COUNTS on the even-id "
        "corpus at min_docs=1 (cross-split exact sentence dedup: a "
        "batch sentence is scrubbed iff it appears ANYWHERE in the "
        "standing corpus — at min_docs=2 no cross-split key clears "
        "threshold in this corpus and the row would pin nothing), "
        "retire the doc_id % 4 == 2 half by re-deriving their "
        "per-key distinct-doc contributions from the retiring text, "
        "DECREMENTING, and re-thresholding — one batch-scale groupBy "
        "+ one shuffle_hash decrement join, corpus never re-read — "
        "then scrub the odd-id batch against the compacted key set. "
        "Decrement-and-rethreshold == rebuild exactly (retained "
        "support = full - retired support), so the oracle computes "
        "the key set directly on the retained corpus. Visibly "
        "non-vacuous at sf0.01: 13 batch docs scrubbed pre-takedown, "
        "4 after — 9 flip because their only supporting corpus doc "
        "was retired.",
    tags=("pipeline", "text", "dedup", "lifecycle"),
)
def t24(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.state_lifecycle import (
        sentence_dedup_state_compact,
    )
    from nycdb_k8s_loader_spark.operators.textops import (
        sentence_dedup_from_state,
        sentence_dedup_state,
    )

    pre = _pseudo_sentence_docs(_docs(spark, sf_dir))
    corpus = pre.filter(F.col("doc_id") % 2 == 0)
    state = sentence_dedup_state(
        corpus, min_docs=1, min_words=3, with_counts=True
    )
    retired = pre.filter(F.col("doc_id") % 4 == 2)
    compacted = sentence_dedup_state_compact(
        state, retired, min_docs=1, min_words=3
    )
    batch = pre.filter(F.col("doc_id") % 2 == 1)
    return sentence_dedup_from_state(compacted, batch, min_words=3)


# --- round-11: c09 — takedown e2e through ALL FOUR c08 states ----------------

# Takedown selection rides its own hash channel: split is salt 0,
# mixture keep is salt 1 (_C08_MIXTURE_SALT), p02's eval carve is
# salt 3 — one decision, one channel (the r10 composition contract).
_C09_TAKEDOWN_SALT = 5
_C09_TAKEDOWN_PPM = 300_000

# c09's oracle IS c08's verified SQL with the corpus universe
# shrunk by the takedown predicate at its exactly two corpus-side
# sites (cws feeding st3/st4/chash/signatures, cbase6 feeding the
# rate freeze) — the funnel-over-retained-corpus semantics with zero
# re-derived arithmetic.  The batch side is untouched.
from nycdb_k8s_loader_spark.operators.sampling import (  # noqa: E402
    sample_bucket_sql as _sbs,
)

_C09_SQL = _C08_SQL.replace(
    "% 1000000 < 500000",
    "% 1000000 < 500000\n"
    f"          AND {_sbs('doc_id', salt=_C09_TAKEDOWN_SALT)}"
    f" >= {_C09_TAKEDOWN_PPM}",
)


def _c09_compacted_states(spark: SparkSession, sf_dir: str) -> dict:
    """Build c08's four published states WITH COUNTS (the lifecycle
    forms), retire ~30% of the corpus on the salt-5 channel from ALL
    FOUR, and return the compacted set ready for
    :func:`_incremental_curation` — the full takedown story the unit
    compactors (d15/t24/g05) cover one state at a time:

    - sentence keys: decrement distinct-doc support, re-threshold
    - duplicated 8-grams: decrement occurrence counts, re-threshold
    - dedup signatures: anti-join the retired ids (meta row kept)
    - frozen rates: RE-FROZEN from the decremented per-source token
      sums via the shared exact-int64 chain — frozen rates built on
      the pre-takedown corpus are stale by construction (the retired
      docs' tokens still inflate every denominator), so the rate
      state keeps the decrementable (source, t_s) form and re-derives

    Every compact is linear in state + retiring batch; the corpus is
    never re-read (the retiring rows themselves carry the text the
    decrements need)."""
    import pyspark.sql.functions as F

    from nycdb_k8s_loader_spark.operators.dedup import (
        dedup_signature_state,
        duplicated_gram_state,
    )
    from nycdb_k8s_loader_spark.operators.sampling import sample_bucket
    from nycdb_k8s_loader_spark.operators.state_lifecycle import (
        dedup_signature_state_compact,
        duplicated_gram_state_compact,
        sentence_dedup_state_compact,
        source_token_state_compact,
    )
    from nycdb_k8s_loader_spark.operators.textops import (
        sentence_dedup_state,
    )

    corpus = _docs(spark, sf_dir).filter(
        sample_bucket(F.col("doc_id")) < 500_000
    )
    cpre = materialize(_pseudo_sentence_docs(corpus), "c09.sentences")
    takedown = (
        sample_bucket(F.col("doc_id"), salt=_C09_TAKEDOWN_SALT)
        < _C09_TAKEDOWN_PPM
    )
    retired_pre = cpre.filter(takedown)

    st3 = sentence_dedup_state(
        cpre, min_docs=2, min_words=3, with_counts=True
    )
    st4 = duplicated_gram_state(
        cpre, ngram=8, hashed_grams=False, with_counts=True
    )
    st5 = dedup_signature_state(cpre, num_hashes=8, bands=4, shingles=3)
    tok = (
        corpus.select("source", _c08_ntokens().alias("n_tokens"))
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("t_s"))
    )

    tokc = source_token_state_compact(
        tok,
        corpus.filter(takedown).select(
            "source", _c08_ntokens().alias("n_tokens")
        ),
    )
    # the four build+compact chains are independent past cpre —
    # materialize them concurrently (r14, guide §2.6)
    st3c, st4c, st5c, rates = materialize_all(
        ("c09.st3", sentence_dedup_state_compact(
            st3, retired_pre, min_docs=2, min_words=3
        )),
        ("c09.st4", duplicated_gram_state_compact(
            st4, retired_pre, ngram=8, min_count=2
        )),
        ("c09.st5", dedup_signature_state_compact(
            st5, retired_pre.select("doc_id")
        )),
        ("c09.rates", _frozen_rates(tokc)),
    )
    return {"st3": st3c, "st4": st4c, "st5": st5c, "rates": rates}


@register(
    "c09_takedown_curation",
    _C09_SQL,
    doc="TAKEDOWN e2e — retire ~30% of the standing corpus (salt-5 "
        "hash channel, independent of the split and mixture "
        "channels) from ALL FOUR of c08's published states and run "
        "the incremental funnel against the compacted set: sentence "
        "keys and duplicated grams DECREMENT and re-threshold, "
        "signatures anti-join the retired ids, and the frozen "
        "mixture rates RE-FREEZE from the decremented per-source "
        "token sums (pre-takedown rates are stale by construction — "
        "retired tokens inflate every denominator; the rate state "
        "keeps the decrementable (source, t_s) form, operators/"
        "state_lifecycle.py source_token_state_compact). Per-compact "
        "cost is linear in state + retiring batch; the retained "
        "corpus is NEVER re-read — vs the reference's wholesale "
        "drop-and-recreate per load (load_dataset.py:209-241). "
        "Oracle: c08's verified SQL with the corpus universe shrunk "
        "by the takedown predicate at its two corpus-side sites — "
        "compact==rebuild for the whole funnel, as a hash row. A "
        "batch doc whose boilerplate support, dup grams, or near-"
        "duplicates were retired flips stage vs c08.",
    tags=("pipeline", "text", "dedup", "incremental", "lifecycle"),
)
def c09(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.sampling import sample_bucket

    states = _c09_compacted_states(spark, sf_dir)
    batch = _docs(spark, sf_dir).filter(
        sample_bucket(F.col("doc_id")) >= 500_000
    )
    return _incremental_curation(spark, batch, states)


def _c09_pinned_states(spark: SparkSession, sf_dir: str) -> dict:
    """The COMPACTED post-takedown state tables PERSISTED per fixture
    identity and read back — what a production takedown publishes
    (compact in place of rebuild); st15's stream probes these exact
    parquet tables.

    Round 12 (r11 verdict #4): the quartet goes through the BOUND
    publish — all four tables land in one immutable version dir and
    become visible via a single VersionPointer flip
    (publish/state_set.py), so a probe racing a takedown can never
    see a compacted signature state next to stale rates.  Reference
    analog: all-tables-one-commit, load_dataset.py:209-252."""
    import os

    from nycdb_k8s_loader_spark.publish.state_set import StateSetPublisher
    from nycdb_k8s_loader_spark.state.kvstore import ParquetKVStore

    # takedown parameters are part of the cache identity — a salt or
    # rate change must miss (the _C08_CACHE_VERSION bump covers
    # funnel-semantics changes, not this row's own knobs)
    root = _c08_cache_root(
        sf_dir,
        f"takedown_states_s{_C09_TAKEDOWN_SALT}p{_C09_TAKEDOWN_PPM}",
    )
    os.makedirs(root, exist_ok=True)
    pub = StateSetPublisher(
        root, ParquetKVStore(os.path.join(root, "pointer.parquet"))
    )
    if pub.current_version("takedown_states") is None:
        pub.publish("takedown_states", _c09_compacted_states(spark, sf_dir))
    return pub.read(spark, "takedown_states")


@register(
    "st15_streaming_takedown",
    _C09_SQL,
    doc="c09's post-takedown funnel run as a STREAM — the takedown "
        "composed with the streaming plane: the compacted state "
        "tables (sentence keys and grams decremented, signatures "
        "anti-joined, rates re-frozen from decremented token sums) "
        "publish once, then incoming docs flow the same "
        "gopher → url → from-state probes → mixture funnel inside "
        "foreachBatch, attributions landing through the idempotent "
        "versioned upsert sink. Proves the takedown story end to "
        "end in BOTH execution modes off ONE published compacted "
        "state set (st14's split-invariance argument applies "
        "unchanged — every verdict depends only on the doc and the "
        "fixed states), hence c09's shared oracle.",
    tags=("streaming", "pipeline", "text", "incremental", "lifecycle"),
)
def st15(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    from nycdb_k8s_loader_spark.operators.sampling import sample_bucket
    from nycdb_k8s_loader_spark.streaming.pipeline import (
        foreach_batch_upsert,
        read_upsert_sink,
    )

    states = _c09_pinned_states(spark, sf_dir)
    schema = _docs(spark, sf_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .filter(sample_bucket(F.col("doc_id")) >= 500_000)
    )
    tmp = _c08_cache_root(
        sf_dir, f"st15_s{_C09_TAKEDOWN_SALT}p{_C09_TAKEDOWN_PPM}"
    )
    upsert = foreach_batch_upsert(f"{tmp}/sink", ["doc_id"])

    def probe(mb, batch_id):
        upsert(_incremental_curation(spark, mb, states), batch_id)

    (stream,) = _on_loop_session(stream)
    q = (
        stream.writeStream.foreachBatch(probe)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_upsert_sink(spark, f"{tmp}/sink").select(
        "doc_id", "stage", "n_tokens_raw", "sentences_removed",
        "dup_tokens", "n_tokens_clean",
    )
