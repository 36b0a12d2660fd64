"""Training-data-pipeline operator pack (dedup / similarity / text).

These go beyond the reference's own surface (BASELINE.json
"north_star"): the operations a large-scale LLM training-data pipeline
needs, each expressed Spark-first over the `documents` and
`embeddings` tables with a DuckDB oracle twin where SQL-expressible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nycdb_k8s_loader_spark.operators.dedup import (
    exact_dedup,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_fingerprints,
    simhash_near_pairs,
)
from nycdb_k8s_loader_spark.operators.similarity import (
    cosine_topk,
    embedding_neardup_pairs_blocked,
    ivf_topk,
    label_centroids,
)
from nycdb_k8s_loader_spark.operators.textops import (
    doc_fingerprint,
    language_id,
    quality_score,
    token_stats,
)
from nycdb_k8s_loader_spark.plans.catalog import register
from nycdb_k8s_loader_spark.session import _on_loop_session


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --- exact dedup -------------------------------------------------------------

@register(
    "d01_exact_dedup",
    """
    SELECT md5(lower(trim(text))) AS content_hash,
           MIN(doc_id)::BIGINT AS keep_doc_id,
           COUNT(*)::BIGINT AS n_copies
    FROM documents
    GROUP BY md5(lower(trim(text)))
    """,
    doc="Exact dedup: normalize → md5 → hash-groupBy, keep min doc_id. "
        "At 100TB this is one shuffle on a 32-char key; the md5 is "
        "computed map-side so the shuffle carries hashes, not bodies.",
    tags=("dedup",),
)
def d01(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs(spark, sf_dir))


# --- n-gram Jaccard near-dup -------------------------------------------------

@register(
    "d02_jaccard_pairs",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS l
        FROM documents
    ),
    words AS (
        SELECT DISTINCT doc_id,
               CASE WHEN len(l) >= 3
                    THEN l[i] || ' ' || l[i+1] || ' ' || l[i+2]
                    ELSE array_to_string(l, ' ') END AS w
        FROM toks,
             unnest(CASE WHEN len(l) >= 3 THEN range(1, len(l) - 1)
                         ELSE [CAST(1 AS BIGINT)] END) AS t(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*)::BIGINT AS n_words FROM words GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*)::BIGINT AS n_common
        FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(n_common * 1.0 / (sa.n_words + sb.n_words - n_common), 4)
               AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common * 1.0 / (sa.n_words + sb.n_words - n_common) >= 0.6
    """,
    doc="Shingle-set Jaccard near-dup pairs ≥ 0.6 via inverted-index "
        "self-join (SURVEY north-star dedup) — the exact measure "
        "d03's MinHash bands approximate, over the same 3-word "
        "shingles. Shingling is load-bearing for the exact form too: "
        "the join materializes Σ df(t)² candidate pairs, and on a "
        "small-vocabulary corpus unigram postings make that quadratic "
        "(4.5e8 pairs at sf0.1 vs 1.4e6 shingled). At 100 TB d03 "
        "still replaces this (signatures bound work per doc, not per "
        "matching pair), but the exact form now scales with true "
        "near-dup density, not corpus vocabulary.",
    tags=("dedup", "join"),
)
def d02(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.6, exact_allpairs=True,
                               shingles=3)


# --- MinHash signatures ------------------------------------------------------

@register(
    "d03_minhash_band_candidates",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS l
        FROM documents
    ),
    shingles AS (
        SELECT DISTINCT doc_id,
               CASE WHEN len(l) >= 3
                    THEN l[i] || ' ' || l[i+1] || ' ' || l[i+2]
                    ELSE array_to_string(l, ' ') END AS w
        FROM toks,
             unnest(CASE WHEN len(l) >= 3 THEN range(1, len(l) - 1)
                         ELSE [CAST(1 AS BIGINT)] END) AS t(i)
    ),
    base AS (
        SELECT doc_id,
               CAST('0x' || substring(md5(w), 1, 15) AS BIGINT)
                   % 2147483647 AS x
        FROM shingles
    ),
    sigs AS (
        SELECT doc_id,
               MIN((x * 1000000007 + 337)   % 2147483647) AS h0,
               MIN((x * 998244353  + 7331)  % 2147483647) AS h1,
               MIN((x * 774856531  + 12345) % 2147483647) AS h2,
               MIN((x * 602398169  + 54321) % 2147483647) AS h3,
               MIN((x * 516688307  + 2468)  % 2147483647) AS h4,
               MIN((x * 402653189  + 13579) % 2147483647) AS h5,
               MIN((x * 268435459  + 97531) % 2147483647) AS h6,
               MIN((x * 160481183  + 86420) % 2147483647) AS h7
        FROM base GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, 0 AS band, md5(h0 || '' || h1) AS band_key FROM sigs
        UNION ALL SELECT doc_id, 1, md5(h2 || '' || h3) FROM sigs
        UNION ALL SELECT doc_id, 2, md5(h4 || '' || h5) FROM sigs
        UNION ALL SELECT doc_id, 3, md5(h6 || '' || h7) FROM sigs
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    """,
    doc="MinHash+LSH candidate pairs: 3-word shingles → one md5 per "
        "shingle rebased to a 60-bit int → 8 universal-hash "
        "permutations (x*a+b mod 2^31-1) → 4 bands of 2 → bucket "
        "groupBy with in-bucket pair expansion (shingle→minhash→band→"
        "bucket-join). md5 + int64 arithmetic is bit-identical on both "
        "engines, so the oracle is exact. Shingling (not unigrams) is "
        "what keeps this linear: on a small-vocabulary corpus word "
        "sets are near-identical across unrelated docs, so unigram "
        "minhash would bucket everything together and the band join "
        "would go quadratic. The single shuffle carries only (32-char "
        "band_key, doc_id).",
    tags=("dedup", "lsh"),
)
def d03(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(_docs(spark, sf_dir), num_hashes=8, bands=4,
                              shingles=3)


# --- text analysis -----------------------------------------------------------

@register(
    "t01_token_stats",
    """
    SELECT doc_id,
           length(text)::BIGINT AS n_chars,
           length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
               AS n_tokens_ws,
           CAST(ROUND((length(trim(text)) - length(replace(trim(text), ' ', '')) + 1)
                 * 1.3, 2) AS DOUBLE) AS est_bpe_tokens
    FROM documents
    """,
    doc="Token counting: whitespace tokens + BPE-ish estimate "
        "(north-star text analysis). Pure narrow projection — no "
        "shuffle, whole-stage codegen.",
    tags=("text",),
)
def t01(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(_docs(spark, sf_dir))


@register(
    "t02_quality_scores",
    """
    WITH stats AS (
        SELECT doc_id, lang,
               length(text) AS n_chars,
               length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
                   AS n_tokens,
               (length(text) - length(replace(replace(replace(text, '.', ''),
                   ',', ''), '!', ''))) AS n_punct
        FROM documents
    )
    SELECT doc_id, lang,
           ROUND(n_punct * 1.0 / n_chars, 4) AS punct_ratio,
           ROUND(n_chars * 1.0 / n_tokens, 4) AS avg_token_len,
           CASE WHEN n_tokens >= 40 AND n_chars * 1.0 / n_tokens <= 12
                THEN 'keep' ELSE 'flag' END AS quality_bucket
    FROM stats
    """,
    doc="Quality scoring: punct ratio, avg token length, keep/flag "
        "bucket (north-star text analysis).",
    tags=("text",),
)
def t02(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(_docs(spark, sf_dir))


@register(
    "t03_language_id",
    """
    SELECT doc_id, lang AS labeled_lang,
           CASE
             WHEN length(text) - length(replace(text, ' the ', '')) >= 25 THEN 'en'
             WHEN length(text) - length(replace(text, ' a ', '')) >= 9 THEN 'en'
             ELSE 'und'
           END AS predicted_lang
    FROM documents
    """,
    doc="Language-ID n-gram/stopword heuristic (north-star text "
        "analysis; deterministic marker-count rule shared with oracle).",
    tags=("text",),
)
def t03(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(_docs(spark, sf_dir))


@register(
    "t04_doc_fingerprint",
    """
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
           substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 8)
               AS shard_key
    FROM documents
    """,
    doc="Document fingerprinting: whitespace-normalized md5 + shard "
        "prefix (north-star text analysis; the reference fingerprints "
        "function-SQL the same way — whitespace-collapse then compare, "
        "load_dataset.py:155-160).",
    tags=("text", "dedup"),
)
def t04(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_fingerprint(_docs(spark, sf_dir))


# --- similarity search (embeddings) ------------------------------------------

_VEC = "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"

_BUCKET_SQL = " + ".join(
    f"(CASE WHEN v[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)" for i in range(6)
)


@register(
    "s01_ann_cosine_topk",
    f"""
    WITH e AS ({_VEC}),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(q.v, c.v), 6) AS cos_sim
        FROM e q JOIN e c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 10
    )
    SELECT query_id, neighbor_id, rank, cos_sim FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
        ) AS rank FROM scored
    ) WHERE rank <= 5
    """,
    doc="Brute-force cosine top-k ANN baseline: broadcast query set × "
        "corpus scan, sequential-fold dot product (bit-identical to "
        "DuckDB list_cosine_similarity on DOUBLE[]), rank with total "
        "tiebreak (north-star similarity search).",
    tags=("similarity",),
)
def s01(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_topk(_emb(spark, sf_dir), query_ids=list(range(10)), k=5)


@register(
    "s02_ann_lsh_bucketed_topk",
    f"""
    WITH e AS (SELECT vec_id, v, {_BUCKET_SQL} AS bucket
               FROM ({_VEC})),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(q.v, c.v), 6) AS cos_sim
        FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
        WHERE q.vec_id < 10
    )
    SELECT query_id, neighbor_id, rank, cos_sim FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
        ) AS rank FROM scored
    ) WHERE rank <= 5
    """,
    doc="LSH-bucketed ANN: sign-bit hyperplane bucket (6 planes) "
        "restricts candidates to an equi-join on a small int key — "
        "the 100TB scale path where brute force is O(Q*N).",
    tags=("similarity", "lsh"),
)
def s02(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_topk(
        _emb(spark, sf_dir), query_ids=list(range(10)), k=5, bucketed=True
    )


@register(
    "s04_ivf_cell_topk",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings),
    dims AS (
        SELECT label, generate_subscripts(v, 1) AS pos, unnest(v) AS val
        FROM e
    ),
    cent_dims AS (
        SELECT label, pos, ROUND(AVG(val), 6) AS avg_val
        FROM dims GROUP BY label, pos
    ),
    cents AS (
        SELECT label, list(avg_val ORDER BY pos) AS cv
        FROM cent_dims GROUP BY label
    ),
    assigned AS (
        SELECT query_id, qv, cell FROM (
            SELECT q.vec_id AS query_id, q.v AS qv, c.label AS cell,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ROUND(list_cosine_similarity(q.v, c.cv), 6)
                                DESC, c.label ASC
                   ) AS rn
            FROM e q CROSS JOIN cents c
            WHERE q.vec_id < 10
        ) WHERE rn = 1
    ),
    scored AS (
        SELECT a.query_id, a.cell, n.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(a.qv, n.v), 6) AS cos_sim
        FROM assigned a JOIN e n ON n.label = a.cell
        WHERE n.vec_id <> a.query_id
    )
    SELECT query_id, cell, neighbor_id, rank, cos_sim FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
        ) AS rank FROM scored
    ) WHERE rank <= 5
    """,
    doc="IVF-style ANN: label cells as the inverted-file partitions, "
        "their centroids as the coarse quantizer (broadcast C×dim "
        "table); each query probes its nearest centroid and runs exact "
        "top-k inside that one cell — scans N/C candidates instead of "
        "N. Complementary to s02's hyperplane-LSH: IVF prunes by "
        "partition, LSH by hash bucket.",
    tags=("similarity", "ivf"),
)
def s04(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_topk(_emb(spark, sf_dir), query_ids=list(range(10)), k=5)


@register(
    "s03_label_centroids",
    """
    SELECT label, pos, ROUND(AVG(val), 6) AS avg_val
    FROM (
        SELECT label, generate_subscripts(v, 1) AS pos, unnest(v) AS val
        FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings)
    )
    GROUP BY label, pos
    """,
    doc="Per-label centroid via posexplode + scalar mean per (label, "
        "dim): map-side-combined shuffle of scalar partials, not "
        "whole vectors.",
    tags=("similarity", "agg"),
)
def s03(spark: SparkSession, sf_dir: str) -> DataFrame:
    return label_centroids(_emb(spark, sf_dir))


@register(
    "d04_embedding_neardup_pairs",
    f"""
    WITH e AS ({_VEC})
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.45
    """,
    doc="Embedding-cosine near-dup pairs >= 0.45 (ids only so the "
        "oracle never compares float encodings). The threshold sits "
        "inside this corpus's cosine range (max pair ~0.51 at sf0.01) "
        "so the check exercises real pairs — 0.9 would match every "
        "0-row implementation — with >=1e-4 margin to the nearest "
        "pair, far beyond cross-engine summation noise. Physical "
        "plan: blocked GEMM (operators/similarity.py "
        "embedding_neardup_pairs_blocked) — B(B+1)/2 block pairs "
        "shuffle instead of O(n^2) vector pairs, numpy matmul per "
        "task; the expression-fold half-matrix form is the "
        "oracle-shaped baseline it was verified against.",
    tags=("dedup", "similarity"),
)
def d04(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_neardup_pairs_blocked(
        _emb(spark, sf_dir), threshold=0.45
    )


@register(
    "d08_embedding_neardup_bucketed",
    f"""
    WITH e AS ({_VEC}),
    eb AS (SELECT vec_id, v, {_BUCKET_SQL} AS bucket FROM e)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.45
    """,
    doc="Bucketed-EXACT embedding near-dup (the 100 TB form of d04): "
        "sign-bucket LSH prefilter (2^6 buckets, deterministic "
        "hyperplanes shared with s02) in front of the per-bucket "
        "blocked GEMM — candidate work drops from C(n,2) to "
        "sum_b C(n_b,2), the shuffle never crosses buckets, and hot "
        "buckets sub-block into bounded GEMM tasks. Exact within each "
        "bucket; cross-bucket recall is the standard LSH trade "
        "(operators/similarity.py embedding_neardup_pairs_bucketed). "
        "Oracle: DuckDB recomputes the same bucket ids and in-bucket "
        "cosine filter.",
    tags=("dedup", "similarity", "scale"),
)
def d08(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.similarity import (
        embedding_neardup_pairs_bucketed,
    )

    return embedding_neardup_pairs_bucketed(
        _emb(spark, sf_dir), threshold=0.45
    )


# --- simhash -----------------------------------------------------------------

_SIMHASH_FP_SQL = """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS l
        FROM documents
    ),
    words AS (
        SELECT DISTINCT doc_id,
               CASE WHEN len(l) >= 3
                    THEN l[i] || ' ' || l[i+1] || ' ' || l[i+2]
                    ELSE array_to_string(l, ' ') END AS w
        FROM toks,
             unnest(CASE WHEN len(l) >= 3 THEN range(1, len(l) - 1)
                         ELSE [CAST(1 AS BIGINT)] END) AS t(i)
    ),
    base AS (
        SELECT doc_id,
               CAST('0x' || substring(md5(w), 1, 15) AS BIGINT) AS x
        FROM words
    ),
    bits AS (
        SELECT doc_id, gs.i AS pos,
               SUM(CASE WHEN (x >> gs.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM base CROSS JOIN generate_series(0, 31) AS gs(i)
        GROUP BY doc_id, gs.i
    ),
    fps AS (
        SELECT doc_id,
               string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, ''
                          ORDER BY pos) AS simhash,
               SUM(CASE WHEN s >= 0
                        THEN (CAST(1 AS BIGINT) << pos) ELSE 0 END)::BIGINT
                   AS fp_int
        FROM bits GROUP BY doc_id
    )
"""


@register(
    "d05_simhash_fingerprints",
    _SIMHASH_FP_SQL + "SELECT doc_id, simhash, fp_int FROM fps",
    doc="SimHash fingerprints over 3-word shingles: bit i of each "
        "shingle's 60-bit md5 integer votes +1/-1; sign vector → "
        "32-bit fingerprint as bigint + LSB-first '01' string. One "
        "md5 + integer shift/mask votes per posting (no per-bit "
        "string parsing); shingling keeps fingerprints decorrelated "
        "on small-vocabulary corpora (unigram simhash collapsed 3/5 "
        "of the corpus into one segment bucket).",
    tags=("dedup", "text"),
)
def d05(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_fingerprints(_docs(spark, sf_dir))


@register(
    "d06_simhash_near_pairs",
    _SIMHASH_FP_SQL
    + """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.fp_int, b.fp_int))::BIGINT AS hamming
    FROM fps a JOIN fps b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fp_int, b.fp_int)) <= 3
    """,
    doc="SimHash near-dup pairs (Hamming <= 3) via pigeonhole bit-"
        "segment blocking: any pair within distance d matches exactly "
        "on one of d+1 segments, so candidates come from ONE groupBy "
        "on (seg, seg_key) with in-bucket pair expansion — the "
        "fingerprint scan runs once (a self-join recomputes it per "
        "side), and Hamming is bit_count(xor), one instruction pair "
        "per candidate. Exact w.r.t. the brute-force oracle. "
        "Was 148 s at sf0.1 with unigram 16-bit fingerprints + "
        "string-compare Hamming; integer shingled form is ~4 s.",
    tags=("dedup", "lsh"),
)
def d06(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_near_pairs(_docs(spark, sf_dir), max_hamming=3)


@register(
    "c01_chunk_documents",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS l
        FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               (s.start // 40)::BIGINT AS chunk_id,
               list_slice(l, s.start + 1, s.start + 50) AS ch
        FROM toks,
             unnest(range(0, greatest(len(l), 1), 40)) AS s(start)
    )
    SELECT doc_id, chunk_id, len(ch)::BIGINT AS n_tokens,
           array_to_string(ch, ' ') AS chunk_text
    FROM chunks WHERE len(ch) > 0
    """,
    doc="Document chunking (50-token windows, stride 40 = 10-token "
        "overlap) — the tokenize-and-chunk stage of an LLM training/"
        "RAG pipeline, as pure JVM-side higher-order array ops "
        "(operators/textops.py chunk_documents): tokenize once, "
        "sequence of starts, slice, posexplode. Chunks materialize "
        "map-side after the scan — zero shuffle at any corpus size.",
    tags=("text", "pipeline"),
)
def c01(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.textops import chunk_documents

    return chunk_documents(_docs(spark, sf_dir))


@register(
    "t06_ngram_dup_stats",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS l
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id,
               CASE WHEN len(l) >= 10
                    THEN array_to_string(l[i:i+9], ' ')
                    ELSE array_to_string(l, ' ') END AS g
        FROM toks,
             unnest(CASE WHEN len(l) >= 10 THEN range(1, len(l) - 8)
                         ELSE [CAST(1 AS BIGINT)] END) AS t(i)
        WHERE len(l) > 0
    ),
    df AS (SELECT g, COUNT(*)::BIGINT AS n_docs FROM grams GROUP BY g)
    SELECT doc_id,
           COUNT(*)::BIGINT AS n_grams,
           COUNT(CASE WHEN n_docs > 1 THEN 1 END)::BIGINT AS n_dup_grams
    FROM grams JOIN df USING (g)
    GROUP BY doc_id
    """,
    doc="Cross-document duplicated n-gram stats (the Lee et al. "
        "'Deduplicating Training Data' quality signal): per document, "
        "how many of its distinct 10-grams appear in at least one "
        "OTHER document. Two shuffles — gram document-frequency "
        "groupBy, then the gram->doc join back — and the shuffle "
        "carries grams + ids, never full texts. Short docs (<10 "
        "tokens) contribute their whole text as one gram. Outputs are "
        "integer-only by design: a dup-fraction ratio like k/32 "
        "rounds differently across engines at .xxxx5 boundaries, so "
        "the ratio is left to the consumer.",
    tags=("text", "dedup"),
)
def t06(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), " "), lambda w: w != ""
    )
    base = docs.select("doc_id", toks.alias("l")).filter(F.size("l") > 0)
    grams = base.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("l") >= 10,
                F.transform(
                    F.sequence(F.lit(1), F.size("l") - 9),
                    lambda i: F.array_join(F.slice("l", i, 10), " "),
                ),
            ).otherwise(F.array(F.array_join("l", " ")))
        ).alias("g"),
    ).distinct()
    dfreq = grams.groupBy("g").agg(F.count("*").alias("n_docs"))
    return (
        grams.join(dfreq, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count(F.when(F.col("n_docs") > 1, 1)).alias("n_dup_grams"),
        )
    )


# --- round 3: packing, contamination, domain mixing --------------------------

@register(
    "c02_sequence_packing",
    """
    WITH toks AS (
        SELECT doc_id,
               doc_id // 128 AS shard,
               (length(trim(text)) - length(replace(trim(text), ' ', ''))
                + 1)::BIGINT AS n
        FROM documents
    ),
    c AS (
        SELECT shard, doc_id, n,
               coalesce(SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0)::BIGINT
                   AS cum_before
        FROM toks
    )
    SELECT shard,
           cum_before // 512 AS window_id,
           count(*)::BIGINT AS n_docs,
           sum(n)::BIGINT AS n_tokens,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM c GROUP BY shard, cum_before // 512
    """,
    doc="Greedy concat-and-split sequence packing (pretraining batch "
        "prep): documents concatenate in id order and cut into fixed "
        "512-token context windows; a document belongs to the window "
        "its first token lands in. Packs per SHARD (contiguous id "
        "ranges) — the cumulative window partitions by shard, so "
        "parallelism = shard count and NO single-partition global "
        "window exists at any corpus size (operators/textops.py "
        "pack_sequences). Oracle: identical cumulative arithmetic in "
        "DuckDB.",
    tags=("text", "packing", "scale"),
)
def c02(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.textops import pack_sequences

    return pack_sequences(
        _docs(spark, sf_dir), context_tokens=512, shard_docs=128
    )


@register(
    "t07_benchmark_contamination",
    """
    WITH toks AS (
        SELECT doc_id,
               (doc_id * 9973 + 7919) % 1000000 < 100000 AS is_eval,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS l
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id, is_eval,
               CASE WHEN len(l) >= 10
                    THEN array_to_string(l[i:i+9], ' ')
                    ELSE array_to_string(l, ' ') END AS g
        FROM toks,
             unnest(CASE WHEN len(l) >= 10 THEN range(1, len(l) - 8)
                         ELSE [CAST(1 AS BIGINT)] END) AS t(i)
        WHERE len(l) > 0
    ),
    hits AS (
        SELECT tr.doc_id, tr.g, ev.doc_id AS eval_doc
        FROM (SELECT doc_id, g FROM grams WHERE NOT is_eval) tr
        JOIN (SELECT doc_id, g FROM grams WHERE is_eval) ev USING (g)
    ),
    per_train AS (
        SELECT doc_id,
               count(DISTINCT g)::BIGINT AS n_contaminated_grams,
               count(DISTINCT eval_doc)::BIGINT AS n_eval_docs_hit
        FROM hits GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(p.n_contaminated_grams, 0)::BIGINT
               AS n_contaminated_grams,
           coalesce(p.n_eval_docs_hit, 0)::BIGINT AS n_eval_docs_hit
    FROM (SELECT DISTINCT doc_id FROM grams WHERE NOT is_eval) t
    LEFT JOIN per_train p ON t.doc_id = p.doc_id
    """,
    doc="Train/benchmark contamination check (the 10-gram-overlap "
        "decontamination step of an LLM data pipeline, same gram unit "
        "as t06): a deterministic content-addressed 10% of documents "
        "plays the benchmark (sample_bucket < 100000 ppm — the p01 "
        "hash, so the split is stable across engines/reruns); every "
        "training document reports how many of its distinct 10-grams "
        "and how many benchmark documents it collides with. Shuffles "
        "carry grams + ids only, never texts; zero-hit train docs are "
        "kept via left join (the common case a sampler must not drop).",
    tags=("text", "dedup", "contamination"),
)
def t07(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.sampling import sample_bucket

    docs = _docs(spark, sf_dir)
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), " "), lambda w: w != ""
    )
    base = docs.select(
        "doc_id",
        (sample_bucket(F.col("doc_id")) < 100000).alias("is_eval"),
        toks.alias("l"),
    ).filter(F.size("l") > 0)
    grams = base.select(
        "doc_id",
        "is_eval",
        F.explode(
            F.when(
                F.size("l") >= 10,
                F.transform(
                    F.sequence(F.lit(1), F.size("l") - 9),
                    lambda i: F.array_join(F.slice("l", i, 10), " "),
                ),
            ).otherwise(F.array(F.array_join("l", " ")))
        ).alias("g"),
    ).distinct()
    train = grams.filter(~F.col("is_eval")).select("doc_id", "g")
    ev = grams.filter(F.col("is_eval")).select(
        F.col("doc_id").alias("eval_doc"), "g"
    )
    hits = train.join(ev, "g")
    per_train = hits.groupBy("doc_id").agg(
        F.countDistinct("g").alias("n_contaminated_grams"),
        F.countDistinct("eval_doc").alias("n_eval_docs_hit"),
    )
    all_train = train.select("doc_id").distinct()
    return all_train.join(per_train, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_contaminated_grams", F.lit(0)).alias(
            "n_contaminated_grams"
        ),
        F.coalesce("n_eval_docs_hit", F.lit(0)).alias("n_eval_docs_hit"),
    )


#: Per-language keep fractions (ppm) for the rebalance: downsample the
#: dominant language, keep most of the rest — the domain-mixing step
#: of corpus curation. Literal map so the DuckDB oracle mirrors it.
_P03_PPM = {"en": 400000, "de": 900000, "fr": 900000, "es": 900000,
            "zh": 650000}


@register(
    "p03_domain_rebalance",
    f"""
    SELECT doc_id, lang
    FROM documents
    WHERE (doc_id * 9973 + 7919) % 1000000 <
          CASE lang WHEN 'en' THEN 400000 WHEN 'de' THEN 900000
                    WHEN 'fr' THEN 900000 WHEN 'es' THEN 900000
                    WHEN 'zh' THEN 650000 ELSE 0 END
    """,
    doc="Domain/language rebalancing (corpus mixture weighting): keep "
        "a per-language deterministic fraction — downsample the "
        "dominant language, keep the tail — via the same "
        "content-addressed hash as p01, so the mixture is stable "
        "across reruns/engines, nests as weights grow, and composes "
        "with incremental refreshes. Pure map-side filter: zero "
        "shuffle at any corpus size; the per-stratum-EXACT-k twin is "
        "p02 (one shuffle).",
    tags=("sampling", "mixing"),
)
def p03(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.sampling import sample_bucket

    docs = _docs(spark, sf_dir)
    ppm = F.lit(0)
    for lang, frac in _P03_PPM.items():
        ppm = F.when(F.col("lang") == lang, F.lit(frac)).otherwise(ppm)
    return docs.filter(sample_bucket(F.col("doc_id")) < ppm).select(
        "doc_id", "lang"
    )


@register(
    "c03_corpus_curation",
    """
    WITH stats AS (
        SELECT doc_id, lang, text,
               length(text) AS n_chars,
               length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
                   AS n_tokens
        FROM documents
    ),
    kept AS (
        SELECT * FROM stats
        WHERE n_tokens >= 40 AND n_chars * 1.0 / n_tokens <= 12
    ),
    deduped AS (
        SELECT MIN(doc_id) AS doc_id
        FROM kept GROUP BY md5(lower(trim(text)))
    )
    SELECT k.doc_id, k.lang, k.n_tokens::BIGINT AS n_tokens
    FROM kept k JOIN deduped d ON k.doc_id = d.doc_id
    WHERE (k.doc_id * 9973 + 7919) % 1000000 < 500000
    """,
    doc="End-to-end corpus curation — the canonical training-data "
        "funnel COMPOSED from the pack's stages: quality gate (t02's "
        "keep rule) -> exact dedup keeping the lowest id per content "
        "hash (d01) -> deterministic 50% content-addressed sample "
        "(p01). One pipeline, one plan: the filter and hash are "
        "map-side, the dedup is the only shuffle, and the sample "
        "filter composes AFTER dedup so the kept-representative "
        "choice is sample-independent. Demonstrates that the "
        "operators compose without materialization barriers between "
        "stages.",
    tags=("text", "dedup", "sampling", "pipeline"),
)
def c03(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.sampling import sample_bucket

    docs = _docs(spark, sf_dir)
    text = F.col("text")
    n_chars = F.length(text)
    n_tokens = (
        F.length(F.trim(text))
        - F.length(F.replace(F.trim(text), F.lit(" "), F.lit("")))
        + 1
    )
    kept = docs.select(
        "doc_id", "lang", "text", n_tokens.alias("n_tokens")
    ).filter(
        (F.col("n_tokens") >= 40)
        & (n_chars * F.lit(1.0) / F.col("n_tokens") <= 12)
    )
    winners = (
        kept.groupBy(F.md5(F.lower(F.trim("text"))).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return (
        kept.join(winners, "doc_id")
        .filter(sample_bucket(F.col("doc_id")) < 500000)
        .select("doc_id", "lang", F.col("n_tokens").cast("long").alias("n_tokens"))
    )


_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.]+[a-z]"
_PHONE_RE = r"\+1-555-[0-9]{4}"


@register(
    "t08_pii_redaction",
    f"""
    WITH enriched AS (
        SELECT doc_id,
               text || ' contact user' || doc_id ||
               '@mail.example.com or +1-555-' ||
               lpad((doc_id % 10000)::VARCHAR, 4, '0') AS body
        FROM documents
    )
    SELECT doc_id,
           length(regexp_extract_all(body, '{_EMAIL_RE}'))::BIGINT AS n_emails,
           length(regexp_extract_all(body, '{_PHONE_RE}'))::BIGINT AS n_phones,
           md5(regexp_replace(regexp_replace(body, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
    FROM enriched
    """,
    doc="PII scrubbing (the redaction stage of a training-data "
        "pipeline): count and redact email/phone matches per document "
        "— pure regexp expressions, map-side, zero shuffle at any "
        "corpus size. The synthetic corpus carries no organic PII, so "
        "the query deterministically injects a contact line per doc "
        "first (derived from doc_id) — the redaction kernel is then "
        "verified against real matches, not vacuous zero-match rows; "
        "output pins the redacted text via md5 so any drift in match "
        "boundaries flips the hash. DuckDB regexp_replace needs the "
        "'g' flag to equal Spark's replace-all default.",
    tags=("text", "pii"),
)
def t08(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    body = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(body, _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(body, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(body, F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


@register(
    "t09_intra_doc_repetition",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS l
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               CASE WHEN len(l) >= 3
                    THEN list_transform(range(1, len(l) - 1),
                                        i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])
                    ELSE [array_to_string(l, ' ')] END AS g
        FROM toks WHERE len(l) > 0
    )
    SELECT doc_id,
           len(g)::BIGINT AS n_grams,
           len(list_distinct(g))::BIGINT AS n_distinct,
           list_max(list_transform(list_distinct(g),
                    d -> len(list_filter(g, x -> x = d))))::BIGINT
               AS top_gram_n,
           (len(g) - len(list_distinct(g))) * 10 > 3 * len(g) AS gopher_flag
    FROM grams
    """,
    doc="Intra-document repetition (the Gopher-rules duplicate-n-gram "
        "quality filter): per document, total vs distinct 3-gram "
        "counts, the hottest gram's frequency, and a >30% duplicate-"
        "share flag — computed with integer arithmetic only (no "
        "cross-engine float ratios). Entirely per-row array "
        "expressions: zero shuffle, the whole filter runs map-side in "
        "the scan stage (t06 is the CROSS-document twin, which "
        "genuinely needs its two shuffles).",
    tags=("text", "quality"),
)
def t09(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), " "), lambda w: w != ""
    )
    base = docs.select("doc_id", toks.alias("l")).filter(F.size("l") > 0)
    grams = F.when(
        F.size("l") >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size("l") - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at("l", i),
                F.element_at("l", i + 1),
                F.element_at("l", i + 2),
            ),
        ),
    ).otherwise(F.array(F.array_join("l", " ")))
    g = base.select("doc_id", grams.alias("g"))
    n, nd = F.size("g").cast("long"), F.size(F.array_distinct("g")).cast("long")
    top = F.array_max(
        F.transform(
            F.array_distinct("g"),
            lambda d: F.size(F.filter(F.col("g"), lambda x: x == d)),
        )
    ).cast("long")
    return g.select(
        "doc_id",
        n.alias("n_grams"),
        nd.alias("n_distinct"),
        top.alias("top_gram_n"),
        ((n - nd) * 10 > 3 * n).alias("gopher_flag"),
    )


@register(
    "s05_embedding_quantization",
    f"""
    WITH e AS ({_VEC})
    SELECT vec_id,
           list_sum(list_transform(v,
               x -> floor(greatest(-1.0, least(1.0, x)) * 127 + 0.5)))::BIGINT
               AS sum_q,
           round(list_max(list_transform(v,
               x -> abs(x - floor(greatest(-1.0, least(1.0, x)) * 127 + 0.5)
                        / 127.0))), 6) AS max_abs_err
    FROM e
    """,
    doc="Scalar int8 quantization (the 4x storage/bandwidth compression "
        "step before ANN indexing at scale): clip to [-1,1], "
        "floor(x*127+0.5) — floor-plus-half instead of round() because "
        "the two engines' round() disagree on .5 ties while floor of "
        "identical doubles cannot — plus per-vector reconstruction-"
        "error stats. Pure array expressions, zero shuffle; the "
        "quantized vectors would feed s02/s04's bucket/cell joins with "
        "8x narrower shuffle payloads.",
    tags=("similarity", "quantization"),
)
def s05(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.similarity import as_double_vec

    emb = _emb(spark, sf_dir)
    v = as_double_vec("embedding")
    clip = lambda x: F.greatest(F.lit(-1.0), F.least(F.lit(1.0), x))  # noqa: E731
    q = lambda x: F.floor(clip(x) * 127 + F.lit(0.5))  # noqa: E731
    return emb.select(
        F.col("vec_id"),
        F.aggregate(
            F.transform(v, q), F.lit(0).cast("long"),
            lambda acc, x: acc + x.cast("long"),
        ).alias("sum_q"),
        F.round(
            F.array_max(F.transform(v, lambda x: F.abs(x - q(x) / 127.0))), 6
        ).alias("max_abs_err"),
    )


@register(
    "s06_ivf_multiprobe_topk",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings),
    dims AS (
        SELECT label, generate_subscripts(v, 1) AS pos, unnest(v) AS val
        FROM e
    ),
    cent_dims AS (
        SELECT label, pos, ROUND(AVG(val), 6) AS avg_val
        FROM dims GROUP BY label, pos
    ),
    cents AS (
        SELECT label, list(avg_val ORDER BY pos) AS cv
        FROM cent_dims GROUP BY label
    ),
    assigned AS (
        SELECT query_id, qv, cell FROM (
            SELECT q.vec_id AS query_id, q.v AS qv, c.label AS cell,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ROUND(list_cosine_similarity(q.v, c.cv), 6)
                                DESC, c.label ASC
                   ) AS rn
            FROM e q CROSS JOIN cents c
            WHERE q.vec_id < 10
        ) WHERE rn <= 2
    ),
    scored AS (
        SELECT a.query_id, a.cell, n.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(a.qv, n.v), 6) AS cos_sim
        FROM assigned a JOIN e n ON n.label = a.cell
        WHERE n.vec_id <> a.query_id
    )
    SELECT query_id, cell, neighbor_id, rank, cos_sim FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
        ) AS rank FROM scored
    ) WHERE rank <= 5
    """,
    doc="Multi-probe IVF ANN (nprobe=2): each query searches its TWO "
        "nearest cells — the recall dial on s04's single-probe form. "
        "A near-boundary query's true neighbors live in the second-"
        "closest cell; probing it recovers them at 2·N/C candidate "
        "cost, still far below brute force. Same physical shape as "
        "s04 (broadcast centroids, cell equi-join); the probe fan-out "
        "only widens the metadata-scale (query, cell) frame.",
    tags=("similarity", "ann"),
)
def s06(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_topk(
        _emb(spark, sf_dir), query_ids=list(range(10)), k=5, nprobe=2
    )


# --- round 3 (cont.): LM scoring + clustering ---------------------------------

@register(
    "t10_bigram_lm_score",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS l
        FROM documents
    ),
    base AS (SELECT doc_id, l FROM toks WHERE len(l) >= 2),
    unic AS (
        SELECT w1, COUNT(*)::BIGINT AS c_uni
        FROM (SELECT unnest(l) AS w1 FROM base)
        GROUP BY w1
    ),
    v AS (SELECT COUNT(*)::BIGINT AS v_size FROM unic),
    big AS (
        SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
        FROM base, unnest(range(1, len(l))) AS t(i)
    ),
    bigc AS (
        SELECT w1, w2, COUNT(*)::BIGINT AS c_big
        FROM big GROUP BY w1, w2
    )
    SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams,
           ROUND(AVG(ln((c_big + 1)::DOUBLE
                        / (c_uni + v_size)::DOUBLE)), 4) AS avg_logprob
    FROM big
    JOIN bigc USING (w1, w2)
    JOIN unic USING (w1)
    CROSS JOIN v
    GROUP BY doc_id
    """,
    doc="Corpus bigram-LM document scoring (the CCNet 'score docs with "
        "an LM' quality signal, with the corpus itself as the LM): "
        "add-one-smoothed mean ln P(w2|w1) per document. Counts are "
        "word-count-shaped shuffles (partial-agg friendly); the "
        "scoring join carries tokens + counts, never bodies; |V| is a "
        "broadcast scalar. operators/textops.py bigram_lm_scores.",
    tags=("text", "pipeline", "quality"),
)
def t10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.textops import bigram_lm_scores

    return bigram_lm_scores(_docs(spark, sf_dir))


@register(
    "s07_kmeans_lloyd_step",
    """
    WITH emb AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        FROM embeddings
    ),
    cent AS (SELECT vec_id AS cid, v AS c FROM emb WHERE vec_id < 8),
    dists AS (
        SELECT e.vec_id, c.cid,
               list_sum(list_transform(range(1, len(e.v) + 1),
                        i -> (e.v[i] - c.c[i]) ^ 2)) AS d2
        FROM emb e CROSS JOIN cent c
    ),
    assign AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cid) AS rn
            FROM dists
        ) WHERE rn = 1
    ),
    j AS (SELECT a.cid, e.v FROM assign a JOIN emb e USING (vec_id)),
    sizes AS (SELECT cid, COUNT(*)::BIGINT AS n_members FROM j GROUP BY cid),
    per_dim AS (
        SELECT cid, generate_subscripts(v, 1)::BIGINT AS dim_idx,
               unnest(v) AS x
        FROM j
    )
    SELECT cid AS cluster_id, dim_idx,
           ROUND(AVG(x), 4) + 0.0 AS centroid_val, n_members
    FROM per_dim JOIN sizes USING (cid)
    GROUP BY cid, dim_idx, n_members
    """,
    doc="One distributed Lloyd iteration of k-means (the coarse-"
        "quantizer training step behind the s04/s06 IVF index): "
        "deterministic first-k init, MAP-SIDE nearest-centroid "
        "assignment (broadcast centroid array + in-row struct-min "
        "fold — no shuffle, unlike a crossJoin/groupBy argmin), then "
        "one (cluster, dim) groupBy whose partial aggregation caps "
        "per-partition state at k x dim running sums. "
        "operators/similarity.py kmeans_lloyd_step.",
    tags=("similarity", "clustering"),
)
def s07(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.similarity import kmeans_lloyd_step

    return kmeans_lloyd_step(_emb(spark, sf_dir), k=8)


# --- end-to-end fuzzy dedup --------------------------------------------------

@register(
    "d09_fuzzy_dedup_e2e",
    """
    WITH RECURSIVE toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS l
        FROM documents
    ),
    shingles AS (
        SELECT DISTINCT doc_id,
               CASE WHEN len(l) >= 3
                    THEN l[i] || ' ' || l[i+1] || ' ' || l[i+2]
                    ELSE array_to_string(l, ' ') END AS w
        FROM toks,
             unnest(CASE WHEN len(l) >= 3 THEN range(1, len(l) - 1)
                         ELSE [CAST(1 AS BIGINT)] END) AS t(i)
    ),
    base AS (
        SELECT doc_id,
               CAST('0x' || substring(md5(w), 1, 15) AS BIGINT)
                   % 2147483647 AS x
        FROM shingles
    ),
    sigs AS (
        SELECT doc_id,
               MIN((x * 1000000007 + 337)   % 2147483647) AS h0,
               MIN((x * 998244353  + 7331)  % 2147483647) AS h1,
               MIN((x * 774856531  + 12345) % 2147483647) AS h2,
               MIN((x * 602398169  + 54321) % 2147483647) AS h3,
               MIN((x * 516688307  + 2468)  % 2147483647) AS h4,
               MIN((x * 402653189  + 13579) % 2147483647) AS h5,
               MIN((x * 268435459  + 97531) % 2147483647) AS h6,
               MIN((x * 160481183  + 86420) % 2147483647) AS h7
        FROM base GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, 0 AS band, md5(h0 || '' || h1) AS band_key FROM sigs
        UNION ALL SELECT doc_id, 1, md5(h2 || '' || h3) FROM sigs
        UNION ALL SELECT doc_id, 2, md5(h4 || '' || h5) FROM sigs
        UNION ALL SELECT doc_id, 3, md5(h6 || '' || h7) FROM sigs
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        FROM cand c
        JOIN shingles sa ON sa.doc_id = c.doc_a
        JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.w = sa.w
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT doc_a, doc_b
        FROM common
        JOIN sizes za ON za.doc_id = doc_a
        JOIN sizes zb ON zb.doc_id = doc_b
        WHERE n_common * 1.0 / (za.n + zb.n - n_common) >= 0.7
    ),
    sym AS (
        SELECT doc_a AS a, doc_b AS b FROM edges
        UNION SELECT doc_b, doc_a FROM edges
    ),
    reach(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM sym)
        UNION
        SELECT reach.a, sym.b FROM reach JOIN sym ON reach.b = sym.a
    ),
    clus AS (SELECT a AS doc_id, MIN(b) AS cl FROM reach GROUP BY a)
    SELECT d.doc_id,
           COALESCE(c.cl, d.doc_id)::BIGINT AS cluster_id,
           COALESCE(c.cl, d.doc_id) = d.doc_id AS is_kept
    FROM documents d LEFT JOIN clus c ON c.doc_id = d.doc_id
    """,
    doc="END-TO-END fuzzy dedup, the full scale pipeline as one "
        "operator: shingle → MinHash/LSH band candidates (d03) → "
        "exact-Jaccard verification restricted to candidates (kills "
        "banding false positives; cost O(candidates x doc shingles), "
        "never corpus²) → connected components (g01 machinery) → "
        "canonical min-id keep per cluster. Replaces d02's Σ df(t)² "
        "all-pairs blowup with the linear band pass — the composition "
        "the VERDICT asked for. Oracle: d03's CTE chain + per-pair "
        "Jaccard + recursive-CTE transitive closure. "
        "operators/dedup.py fuzzy_dedup.",
    tags=("dedup", "lsh", "graph"),
)
def d09(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.dedup import fuzzy_dedup

    return fuzzy_dedup(_docs(spark, sf_dir), threshold=0.7,
                       num_hashes=8, bands=4, shingles=3)


# --- TF-IDF keyword extraction -----------------------------------------------

@register(
    "t11_tfidf_top_terms",
    """
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(lower(trim(text)), ' '),
                                  w -> w <> '')) AS w
        FROM documents
    ),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
    scored AS (
        SELECT doc_id, w AS term, tf * 1.0 / df AS score
        FROM tf JOIN dfreq USING (w)
    )
    SELECT doc_id, term, rnk, ROUND(score, 6) AS score
    FROM (SELECT doc_id, term, score,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, term)::BIGINT AS rnk
          FROM scored)
    WHERE rnk <= 3
    """,
    doc="Per-doc top-3 characteristic terms by TF-IDF with a log-free "
        "rational idf (score = tf/df — exact integer ratio, so the "
        "cross-engine hash compare is stable where ln() would diverge "
        "in the last ulp). Two map-side-combined shuffles (doc-term "
        "tf, vocabulary df) + vocabulary join + per-doc top-k window. "
        "operators/textops.py tfidf_top_terms.",
    tags=("text", "pipeline"),
)
def t11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.textops import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=3)


# --- token-balanced corpus sharding ------------------------------------------

@register(
    "c04_token_balanced_shards",
    """
    WITH t AS (
        SELECT doc_id,
               (length(trim(text))
                - length(replace(trim(text), ' ', '')) + 1) AS n_tokens
        FROM documents
    ),
    r AS (
        SELECT doc_id, n_tokens,
               row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rn
        FROM t
    ),
    s AS (
        SELECT CASE WHEN (rn - 1) % 16 < 8
                    THEN (rn - 1) % 16
                    ELSE 15 - ((rn - 1) % 16) END AS shard_id,
               n_tokens
        FROM r
    )
    SELECT shard_id::BIGINT AS shard_id, COUNT(*)::BIGINT AS n_docs,
           SUM(n_tokens)::BIGINT AS total_tokens
    FROM s GROUP BY 1
    """,
    doc="Token-balanced corpus sharding: global token-count ranking "
        "via distributed_rank (range-repartition + offsets — no "
        "single-partition window), boustrophedon deal onto 8 shards "
        "(each 16-doc snake hands every shard one large + one small "
        "doc), per-shard totals. The shard writer of a training-data "
        "pipeline. operators/textops.py token_balanced_shards.",
    tags=("pipeline", "sharding"),
)
def c04(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.textops import (
        token_balanced_shards,
    )

    return token_balanced_shards(_docs(spark, sf_dir), num_shards=8)


# --- k-NN label voting -------------------------------------------------------

@register(
    "s08_knn_label_vote",
    f"""
    WITH e AS ({_VEC}),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(q.v, c.v), 6) AS cos_sim
        FROM e q JOIN e c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 25
    ),
    topk AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
            ) AS rank FROM scored
        ) WHERE rank <= 5
    ),
    votes AS (
        SELECT t.query_id, emb.label::BIGINT AS nbr_label,
               COUNT(*)::BIGINT AS votes
        FROM topk t JOIN embeddings emb ON emb.vec_id = t.neighbor_id
        GROUP BY 1, 2
    ),
    pred AS (
        SELECT query_id, nbr_label AS pred_label, votes FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY votes DESC, nbr_label ASC
            ) AS rn FROM votes
        ) WHERE rn = 1
    )
    SELECT p.query_id, q.label::BIGINT AS true_label, p.pred_label,
           p.votes
    FROM pred p JOIN embeddings q ON q.vec_id = p.query_id
    """,
    doc="k-NN classification by majority label vote (k=5, 25 query "
        "vectors): the weak-supervision/label-propagation step of a "
        "training-data pipeline. Neighbor lists from the brute cosine "
        "baseline, vote argmax with a (votes DESC, label ASC) total "
        "order; the Q*k neighbor frame broadcasts into both label "
        "joins. operators/similarity.py knn_label_vote.",
    tags=("similarity", "pipeline"),
)
def s08(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.similarity import knn_label_vote

    return knn_label_vote(_emb(spark, sf_dir), query_ids=list(range(25)), k=5)


# --- URL-level dedup (d10) ---------------------------------------------------

@register(
    "d10_url_dedup",
    """
    WITH urls AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTP' END)
               || '://'
               || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
               || (CASE WHEN doc_id % 11 = 0
                        THEN 'SITE' || (doc_id % 7)
                        ELSE 'site' || (doc_id % 7) END)
               || '.example.com'
               || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
               || '/docs/' || (doc_id % 31)
               || (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END)
               || (CASE WHEN doc_id % 13 = 0 THEN '?utm_source=feed&x=1' ELSE '' END)
               AS url
        FROM documents
    ),
    canon AS (
        SELECT doc_id,
               lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
               || '://'
               || regexp_replace(regexp_replace(
                      lower(regexp_extract(url,
                          '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
                      '^www\\.', ''),
                      ':(80|443)$', '')
               || regexp_replace(regexp_extract(url,
                      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
                      '/+$', '')
               AS canonical_url
        FROM urls
    )
    SELECT canonical_url,
           MIN(doc_id)::BIGINT AS keep_doc_id,
           COUNT(*)::BIGINT AS n_dups
    FROM canon GROUP BY canonical_url
    """,
    doc="URL-level dedup — the stage web-corpus pipelines run BEFORE "
        "any text comparison: two fetches of one page must collapse "
        "on URL identity alone. Messy variants (scheme case, www., "
        "default :443 port, trailing slash, utm tracking params) are "
        "synthesized deterministically per doc, canonicalized with "
        "pure regexp/lower expressions (operators/dedup.py::"
        "canonical_url — codegen'd, backreference-free so both "
        "engines agree), and grouped to (keep_doc_id, n_dups). One "
        "map-side pass + one groupBy shuffle carrying (canonical, "
        "id) — never bodies; at 100 TB URL dedup costs a fraction of "
        "one text-hash pass.",
    tags=("dedup",),
)
def d10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.dedup import url_dedup

    d = F.col("doc_id")

    def _when(mod, yes, no=""):
        return F.when(d % mod == 0, F.lit(yes)).otherwise(F.lit(no))

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            _when(2, "https", "HTTP"),
            F.lit("://"),
            _when(3, "www."),
            F.when(d % 11 == 0, F.lit("SITE")).otherwise(F.lit("site")),
            (d % 7).cast("string"),
            F.lit(".example.com"),
            _when(5, ":443"),
            F.lit("/docs/"),
            (d % 31).cast("string"),
            _when(7, "/"),
            _when(13, "?utm_source=feed&x=1"),
        ).alias("url"),
    )
    return url_dedup(docs)


# --- quality-filter funnel (t12) ---------------------------------------------

@register(
    "t12_filter_funnel",
    """
    WITH words AS (
        SELECT doc_id, text,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS ws
        FROM documents
    ),
    attributed AS (
        SELECT CASE
                 WHEN length(trim(text)) < 60 THEN 'too_short'
                 WHEN len(list_filter(ws, w -> w IN ('a', 'the')))::DOUBLE
                      / len(ws) > 0.125 THEN 'stopword_heavy'
                 WHEN len(list_distinct(ws))::DOUBLE / len(ws) < 0.5
                   THEN 'low_diversity'
                 ELSE 'kept'
               END AS stage,
               length(text) AS chars
        FROM words
    )
    SELECT stage, COUNT(*)::BIGINT AS n_docs,
           SUM(chars)::BIGINT AS total_chars
    FROM attributed GROUP BY stage
    """,
    doc="Quality-filter funnel: every doc attributed to the FIRST "
        "rejecting stage (length → stopword share → lexical diversity) "
        "or 'kept', with per-stage doc/char volumes — the rejection "
        "audit behind any 'we filtered N%' claim. One coalesced CASE "
        "per row (map-side, codegen'd) + one tiny groupBy: a single "
        "corpus scan regardless of stage count, where the naive "
        "one-filter-per-pass loop rescans 100 TB per stage. Ratios "
        "are exact int/int doubles, so both engines agree at the "
        "thresholds.",
    tags=("text", "quality"),
)
def t12(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.textops import filter_funnel

    docs = _docs(spark, sf_dir)
    text = F.col("text")
    ws = F.filter(
        F.split(F.lower(F.trim(text)), " "), lambda w: w != ""
    )
    docs = docs.select("doc_id", "text", ws.alias("ws"))
    stages = [
        ("too_short", F.length(F.trim(text)) < 60),
        (
            "stopword_heavy",
            F.size(
                F.filter(F.col("ws"), lambda w: w.isin("a", "the"))
            ).cast("double") / F.size(F.col("ws")) > 0.125,
        ),
        (
            "low_diversity",
            F.size(F.array_distinct(F.col("ws")))
            .cast("double") / F.size(F.col("ws")) < 0.5,
        ),
    ]
    return filter_funnel(docs, stages)


# --- filtered vector search (s09) --------------------------------------------

@register(
    "s09_filtered_ann",
    f"""
    WITH e AS (SELECT vec_id, v, label, {_BUCKET_SQL} AS bucket
               FROM (SELECT vec_id, embedding::DOUBLE[] AS v, label
                     FROM embeddings)),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(q.v, c.v), 6) AS cos_sim
        FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
        WHERE q.vec_id < 10 AND c.label IN (0, 1, 2)
    )
    SELECT query_id, neighbor_id, rank, cos_sim FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
        ) AS rank FROM scored
    ) WHERE rank <= 5
    """,
    doc="Attribute-filtered vector search (the 'nearest docs WHERE "
        "lang/tenant/…' shape every production vector store needs): "
        "a label predicate restricts the CANDIDATE side before any "
        "vector math — it reaches the candidate scan as a pushed "
        "filter (plan-asserted) and compounds with the LSH bucket "
        "pruning, so candidate volume is (N/2^bits) × selectivity. "
        "Queries are never filtered; pre-filtering (not post-"
        "filtering the top-k) is what keeps recall under selective "
        "predicates — post-filter ANN returns < k rows when "
        "neighbors get rejected.",
    tags=("similarity", "lsh", "filter"),
)
def s09(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_topk(
        _emb(spark, sf_dir),
        query_ids=list(range(10)),
        k=5,
        bucketed=True,
        candidate_filter=F.col("label").isin(0, 1, 2),
    )


# --- exact-substring scrubbing (t13) -----------------------------------------

@register(
    "t13_exact_substring_scrub",
    """
    WITH words AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS ws
        FROM documents
    ),
    grams AS (
        SELECT doc_id, i - 1 AS pos,
               array_to_string(list_slice(ws, i, i + 7), ' ') AS gram
        FROM words, unnest(generate_series(1, len(ws) - 7)) AS t(i)
        WHERE len(ws) >= 8
    ),
    dupg AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) >= 2),
    starts AS (SELECT g.doc_id, g.pos FROM grams g JOIN dupg USING (gram)),
    covered AS (
        SELECT DISTINCT doc_id,
               unnest(generate_series(pos, pos + 7)) AS t
        FROM starts
    ),
    cov AS (SELECT doc_id, list_sort(list(t)) AS cov
            FROM covered GROUP BY doc_id)
    SELECT w.doc_id,
           len(w.ws)::BIGINT AS n_tokens,
           COALESCE(len(c.cov), 0)::BIGINT AS dup_tokens,
           COALESCE(array_to_string(
               list_filter(w.ws, (x, i) -> c.cov IS NULL
                                 OR NOT list_contains(c.cov, i - 1)),
               ' '), '') AS cleaned_text
    FROM words w LEFT JOIN cov c USING (doc_id)
    """,
    doc="Exact-substring scrubbing (the Lee-et-al. dedup that REMOVES "
        "duplicated spans rather than whole docs — t06 only measured "
        "them): every token covered by an 8-gram occurring ≥2 times "
        "corpus-wide is dropped; cleaned text re-joined in order. "
        "Relational shape: positional grams from one posexplode over "
        "the codegen'd shingle array → ONE global gram groupBy → "
        "equi-join back for dup starts → token-wise cover set "
        "(distinct explode of L-windows — interval union as a set, no "
        "per-doc fold) → index-lambda filter over each doc's token "
        "array. Shuffles carry grams and (id, pos) ints, never "
        "documents; the suffix-array machinery of the paper becomes "
        "two groupBys and a join.",
    tags=("text", "dedup"),
)
def t13(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.dedup import (
        exact_substring_scrub,
    )

    # hashed_grams pinned False: the oracle compares gram STRINGS, and
    # the string form is the documented small-corpus side of the
    # size-derived default (operators/dedup.py _resolve_hashed_grams)
    return exact_substring_scrub(
        _docs(spark, sf_dir), ngram=8, hashed_grams=False
    )


# --- round-4 additions: incremental dedup, length bucketing, mixtures -------

@register(
    "d11_incremental_dedup",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS l
        FROM documents
    ),
    shingles AS (
        SELECT DISTINCT doc_id,
               CASE WHEN len(l) >= 3
                    THEN l[i] || ' ' || l[i+1] || ' ' || l[i+2]
                    ELSE array_to_string(l, ' ') END AS w
        FROM toks,
             unnest(CASE WHEN len(l) >= 3 THEN range(1, len(l) - 1)
                         ELSE [CAST(1 AS BIGINT)] END) AS t(i)
    ),
    base AS (
        SELECT doc_id,
               CAST('0x' || substring(md5(w), 1, 15) AS BIGINT)
                   % 2147483647 AS x
        FROM shingles
    ),
    sigs AS (
        SELECT doc_id,
               MIN((x * 1000000007 + 337)   % 2147483647) AS h0,
               MIN((x * 998244353  + 7331)  % 2147483647) AS h1,
               MIN((x * 774856531  + 12345) % 2147483647) AS h2,
               MIN((x * 602398169  + 54321) % 2147483647) AS h3,
               MIN((x * 516688307  + 2468)  % 2147483647) AS h4,
               MIN((x * 402653189  + 13579) % 2147483647) AS h5,
               MIN((x * 268435459  + 97531) % 2147483647) AS h6,
               MIN((x * 160481183  + 86420) % 2147483647) AS h7
        FROM base GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, 0 AS band, md5(h0 || '' || h1) AS band_key FROM sigs
        UNION ALL SELECT doc_id, 1, md5(h2 || '' || h3) FROM sigs
        UNION ALL SELECT doc_id, 2, md5(h4 || '' || h5) FROM sigs
        UNION ALL SELECT doc_id, 3, md5(h6 || '' || h7) FROM sigs
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        FROM cand c
        JOIN shingles sa ON sa.doc_id = c.doc_a
        JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.w = sa.w
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT doc_a, doc_b
        FROM common
        JOIN sizes za ON za.doc_id = doc_a
        JOIN sizes zb ON zb.doc_id = doc_b
        WHERE n_common * 1.0 / (za.n + zb.n - n_common) >= 0.7
    ),
    near AS (
        SELECT DISTINCT CASE WHEN doc_a % 2 = 1 THEN doc_a
                             ELSE doc_b END AS doc_id
        FROM edges
        WHERE doc_a % 2 <> doc_b % 2
    ),
    ex AS (
        SELECT DISTINCT b.doc_id
        FROM documents b
        JOIN documents c ON c.doc_id % 2 = 0
           AND md5(lower(trim(c.text))) = md5(lower(trim(b.text)))
        WHERE b.doc_id % 2 = 1
    )
    SELECT d.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'keep' END AS verdict
    FROM documents d
    LEFT JOIN ex e ON e.doc_id = d.doc_id
    LEFT JOIN near n ON n.doc_id = d.doc_id
    WHERE d.doc_id % 2 = 1
    """,
    doc="Incremental corpus dedup — dedup the INCREMENT against the "
        "standing corpus (even doc_ids = corpus, odd = incoming "
        "batch): exact verdict by normalized-hash semi-join, near "
        "verdict by the d03/d09 MinHash band machinery restricted to "
        "cross-side candidate pairs, verified with exact Jaccard "
        ">= 0.7 on 3-shingles. The continuous-ingestion pattern: "
        "per-refresh cost is linear in the batch + its candidates; "
        "the corpus is never re-clustered. "
        "operators/dedup.py incremental_dedup.",
    tags=("dedup", "pipeline", "incremental"),
)
def d11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.dedup import incremental_dedup

    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    # explicit 8/4 pins the oracle parameterization (the operator
    # default is now the corpus-size-aware bands_for policy)
    return incremental_dedup(corpus, batch, threshold=0.7,
                             num_hashes=8, bands=4, shingles=3)


@register(
    "c05_length_bucket_batches",
    """
    WITH s AS (
        SELECT doc_id,
               (length(trim(text))
                - length(replace(trim(text), ' ', '')) + 1)::BIGINT
                   AS n_tokens
        FROM documents
    ),
    b AS (
        SELECT doc_id, n_tokens,
               length(bin(n_tokens))::INT AS bucket
        FROM s
    ),
    r AS (
        SELECT doc_id, n_tokens, bucket,
               row_number() OVER (PARTITION BY bucket
                                  ORDER BY md5(doc_id::VARCHAR), doc_id)
                   - 1 AS rn
        FROM b
    )
    SELECT doc_id, n_tokens, bucket, (rn // 32)::BIGINT AS batch_idx
    FROM r
    """,
    doc="Sequence-length bucketing for training batches: power-of-two "
        "token-length buckets (binary digit count — exact integer "
        "arithmetic, no float log2 boundary risk), deterministic "
        "pseudo-random in-bucket order, fixed-size batch deal-out. "
        "Scale path: global distributed_rank over (bucket, md5(id)) "
        "+ broadcast per-bucket offsets — never a per-bucket window "
        "that funnels a constant corpus fraction through one task. "
        "operators/textops.py length_bucket_batches.",
    tags=("text", "pipeline", "batching"),
)
def c05(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.textops import (
        length_bucket_batches,
    )

    return length_bucket_batches(_docs(spark, sf_dir), batch_size=32)


@register(
    "p05_temperature_mixture",
    """
    WITH per AS (
        SELECT source,
               COUNT(*)::BIGINT AS n_docs,
               SUM(length(trim(text))
                   - length(replace(trim(text), ' ', '')) + 1)::BIGINT
                   AS n_tokens
        FROM documents GROUP BY source
    ),
    t AS (SELECT SUM(n_tokens)::DOUBLE AS tot FROM per),
    u AS (
        SELECT source, n_docs, n_tokens,
               pow(n_tokens / tot, 0.5) AS uu, tot
        FROM per CROSS JOIN t
    ),
    z AS (SELECT SUM(uu) AS zz FROM u)
    SELECT source, n_docs, n_tokens,
           ROUND(uu / zz, 6) AS weight,
           ROUND(uu / zz * tot / n_tokens, 4) AS sampling_factor
    FROM u CROSS JOIN z
    """,
    doc="Temperature-scaled source mixture (w_i ∝ p_i^0.5): each "
        "source's token share raised to alpha and renormalized, plus "
        "the realized sampling_factor = w_i/p_i a sampler (p03/p04) "
        "applies. One partial-agg groupBy over the corpus; all "
        "arithmetic on the metadata-scale per-source frame via "
        "broadcast one-row totals. "
        "operators/sampling.py temperature_mixture.",
    tags=("sampling", "mixing"),
)
def p05(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.sampling import (
        temperature_mixture,
    )

    return temperature_mixture(_docs(spark, sf_dir), alpha=0.5)


@register(
    "d12_semantic_dedup",
    f"""
    WITH e AS ({_VEC}),
    seed AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
        FROM e ORDER BY vec_id LIMIT 8
    ),
    a0 AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, s.cid,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                       list_sum(list_transform(range(1, len(e.v) + 1),
                                i -> (e.v[i] - s.c[i]) ^ 2)), s.cid) AS rn
            FROM e CROSS JOIN seed s
        ) WHERE rn = 1
    ),
    m0 AS (
        SELECT a.cid, j.i AS pos, ROUND(AVG(e.v[j.i]), 4) AS m
        FROM a0 a JOIN e USING (vec_id),
             unnest(range(1, len(e.v) + 1)) j(i)
        GROUP BY 1, 2
    ),
    c1 AS (
        SELECT s.cid, COALESCE(mm.c, s.c) AS c
        FROM seed s LEFT JOIN (
            SELECT cid, list(m ORDER BY pos) AS c FROM m0 GROUP BY cid
        ) mm USING (cid)
    ),
    a1 AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, s.cid,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                       list_sum(list_transform(range(1, len(e.v) + 1),
                                i -> (e.v[i] - s.c[i]) ^ 2)), s.cid) AS rn
            FROM e CROSS JOIN c1 s
        ) WHERE rn = 1
    ),
    m1 AS (
        SELECT a.cid, j.i AS pos, ROUND(AVG(e.v[j.i]), 4) AS m
        FROM a1 a JOIN e USING (vec_id),
             unnest(range(1, len(e.v) + 1)) j(i)
        GROUP BY 1, 2
    ),
    c2 AS (
        SELECT s.cid, COALESCE(mm.c, s.c) AS c
        FROM c1 s LEFT JOIN (
            SELECT cid, list(m ORDER BY pos) AS c FROM m1 GROUP BY cid
        ) mm USING (cid)
    ),
    a2 AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, s.cid,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                       list_sum(list_transform(range(1, len(e.v) + 1),
                                i -> (e.v[i] - s.c[i]) ^ 2)), s.cid) AS rn
            FROM e CROSS JOIN c2 s
        ) WHERE rn = 1
    ),
    j AS (SELECT a.vec_id, a.cid, e.v FROM a2 a JOIN e USING (vec_id)),
    dup AS (
        SELECT DISTINCT b.vec_id
        FROM j a JOIN j b ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) >= 0.45
    )
    SELECT j.vec_id, j.cid AS cluster_id,
           d.vec_id IS NULL AS is_kept
    FROM j LEFT JOIN dup d ON d.vec_id = j.vec_id
    """,
    doc="SemDeDup-style semantic dedup: rank-based seeds (k smallest "
        "ids) refined by two deterministic Lloyd rounds (s07's "
        "broadcast-centroid map-side argmin, per-dim means rounded "
        "to 4dp — the oracle replays the identical trajectory) "
        "partition the embedding space; exact cosine >= 0.45 prunes "
        "near-duplicates WITHIN clusters only, keeping each close "
        "group's smallest id. Candidate work is sum_c C(n_c,2) "
        "routed through the d08 GEMM machinery keyed by (cluster, "
        "block) — a hot cluster becomes bounded sub-block tasks, "
        "never one straggler. Cross-cluster recall is the standard "
        "coarse-quantizer trade (vs d08's fixed hyperplanes: learned "
        "cells). operators/similarity.py semantic_dedup.",
    tags=("dedup", "similarity", "scale"),
)
def d12(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.similarity import semantic_dedup

    return semantic_dedup(_emb(spark, sf_dir), k=8, threshold=0.45)


# s10 composes the three ANN oracles registered above as CTE
# subqueries — the audit's ground truth IS s01's oracle, verbatim.
# This import is mid-module ON PURPOSE: it must run AFTER the
# s01/s02/s04 @register calls earlier in this file; moving this
# block (or splitting the module) above them breaks the contract.
from nycdb_k8s_loader_spark.plans.catalog import QUERIES as _Q

for _dep in ("s01_ann_cosine_topk", "s04_ivf_cell_topk",
             "s02_ann_lsh_bucketed_topk"):
    assert _dep in _Q, f"s10 composes {_dep}; register it before this block"

_S10_ORACLE = f"""
    WITH truth AS ({_Q['s01_ann_cosine_topk'].oracle}),
    ivf AS ({_Q['s04_ivf_cell_topk'].oracle}),
    lsh AS ({_Q['s02_ann_lsh_bucketed_topk'].oracle}),
    hits_i AS (
        SELECT t.query_id, COUNT(*) AS h
        FROM truth t JOIN ivf i
          ON i.query_id = t.query_id AND i.neighbor_id = t.neighbor_id
        GROUP BY 1
    ),
    hits_l AS (
        SELECT t.query_id, COUNT(*) AS h
        FROM truth t JOIN lsh l
          ON l.query_id = t.query_id AND l.neighbor_id = t.neighbor_id
        GROUP BY 1
    ),
    base AS (SELECT query_id, COUNT(*) AS kt FROM truth GROUP BY 1)
    SELECT b.query_id, b.kt::BIGINT AS k_truth,
           COALESCE(hi.h, 0)::BIGINT AS ivf_hits,
           COALESCE(hl.h, 0)::BIGINT AS lsh_hits,
           ROUND(COALESCE(hi.h, 0) * 1.0 / b.kt, 4) AS recall_ivf,
           ROUND(COALESCE(hl.h, 0) * 1.0 / b.kt, 4) AS recall_lsh
    FROM base b
    LEFT JOIN hits_i hi ON hi.query_id = b.query_id
    LEFT JOIN hits_l hl ON hl.query_id = b.query_id
"""


@register(
    "s10_ann_recall_audit",
    _S10_ORACLE,
    doc="ANN index quality audit — overlap@k of each pruned path "
        "(s04 IVF nprobe=1, s02 hyperplane-LSH) against the s01 "
        "brute-force ground truth, per query: the measure-don't-guess "
        "query an index rollout gates on (recall dial: nprobe / "
        "bucket bits). Composes the registered operators directly; "
        "the oracle composes their oracle texts as CTEs, so the "
        "audit's truth is definitionally the audited queries'. All "
        "joins are Qxk-row frames — metadata-scale next to the "
        "searches themselves.",
    tags=("similarity", "audit"),
)
def s10(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = (
        _Q["s01_ann_cosine_topk"].fn(spark, sf_dir)
        .select("query_id", "neighbor_id")
    )
    ivf = (
        _Q["s04_ivf_cell_topk"].fn(spark, sf_dir)
        .select("query_id", "neighbor_id")
    )
    lsh = (
        _Q["s02_ann_lsh_bucketed_topk"].fn(spark, sf_dir)
        .select("query_id", "neighbor_id")
    )
    hits_i = (
        truth.join(ivf, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("__hi"))
    )
    hits_l = (
        truth.join(lsh, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("__hl"))
    )
    base = truth.groupBy("query_id").agg(F.count("*").alias("__kt"))
    hi = F.coalesce(F.col("__hi"), F.lit(0))
    hl = F.coalesce(F.col("__hl"), F.lit(0))
    return (
        base.join(hits_i, "query_id", "left")
        .join(hits_l, "query_id", "left")
        .select(
            "query_id",
            F.col("__kt").cast("long").alias("k_truth"),
            hi.cast("long").alias("ivf_hits"),
            hl.cast("long").alias("lsh_hits"),
            F.round(hi * F.lit(1.0) / F.col("__kt"), 4).alias("recall_ivf"),
            F.round(hl * F.lit(1.0) / F.col("__kt"), 4).alias("recall_lsh"),
        )
    )


@register(
    "c06_corpus_shuffle",
    """
    SELECT doc_id,
           row_number() OVER (
               ORDER BY md5('seed42' || doc_id::VARCHAR), doc_id
           )::BIGINT AS shuffle_pos
    FROM documents
    """,
    doc="Deterministic global corpus shuffle (training-order "
        "randomization before sharding/batching): dense 1-based "
        "position from a content-addressed pseudo-random total order "
        "(md5(seed||id), id tiebreak) — rerun/engine/partitioning "
        "invariant, re-seedable per epoch. One distributed_rank: "
        "range repartition on the uniform hash key + metadata-scale "
        "offset window, never a single-partition global sort. "
        "operators/sampling.py corpus_shuffle.",
    tags=("sampling", "pipeline", "ordering"),
)
def c06(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.sampling import corpus_shuffle

    return corpus_shuffle(_docs(spark, sf_dir))


@register(
    "p06_global_exact_sample",
    """
    SELECT doc_id, sample_rank FROM (
        SELECT doc_id,
               row_number() OVER (
                   ORDER BY md5(doc_id::VARCHAR), doc_id
               )::BIGINT AS sample_rank
        FROM documents
    ) WHERE sample_rank <= 100
    """,
    doc="Exact-N global sample by content-addressed hash order — the "
        "global twin of p02's per-stratum exact-k: deterministic "
        "COUNT (p01 keeps a deterministic fraction), and nested — "
        "the N=100 set is a prefix of the N=1000 set, so a growing "
        "eval/holdout split never churns. Same scale shape as c06 "
        "(one distributed_rank, map-side rank filter); no driver "
        "limit, no whole-corpus TakeOrdered. "
        "operators/sampling.py global_exact_sample.",
    tags=("sampling", "pipeline"),
)
def p06(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.sampling import (
        global_exact_sample,
    )

    return global_exact_sample(_docs(spark, sf_dir), n=100)


@register(
    "t14_benchmark_contamination",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS l
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               CASE WHEN len(l) >= 5
                    THEN l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' '
                         || l[i+3] || ' ' || l[i+4]
                    ELSE array_to_string(l, ' ') END AS w
        FROM toks,
             unnest(CASE WHEN len(l) >= 5 THEN range(1, len(l) - 3)
                         ELSE [CAST(1 AS BIGINT)] END) AS t(i)
    ),
    bench AS (
        SELECT DISTINCT s.w
        FROM sh s JOIN documents d USING (doc_id)
        WHERE d.source = 'src0'
    ),
    hits AS (
        SELECT s.doc_id, COUNT(*) AS n
        FROM sh s
        JOIN documents d USING (doc_id)
        JOIN bench b USING (w)
        WHERE d.source <> 'src0'
        GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(h.n, 0)::BIGINT AS n_shared_ngrams,
           h.n IS NOT NULL AS is_contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.source <> 'src0'
    """,
    doc="Eval-set decontamination — the GPT-3/PaLM n-gram-overlap "
        "rule (5-word grams here; 13 is the classic for real token "
        "streams): a training doc (source<>'src0') is contaminated "
        "when any of its distinct 5-grams appears in the benchmark "
        "corpus (source='src0'). The benchmark's distinct-gram set is "
        "eval-sized by definition and broadcasts; the training corpus "
        "streams through one hash join + per-doc count, linear in "
        "corpus grams. operators/dedup.py benchmark_contamination.",
    tags=("pipeline", "dedup", "contamination"),
)
def t14(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.dedup import (
        benchmark_contamination,
    )

    docs = _docs(spark, sf_dir)
    return benchmark_contamination(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        shingles=5,
    )


@register(
    "t15_repetition_scores",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           w -> w <> '') AS l
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               CASE WHEN len(l) >= 3
                    THEN l[i] || ' ' || l[i+1] || ' ' || l[i+2]
                    ELSE array_to_string(l, ' ') END AS w
        FROM toks,
             unnest(CASE WHEN len(l) >= 3 THEN range(1, len(l) - 1)
                         ELSE [CAST(1 AS BIGINT)] END) AS t(i)
    ),
    per AS (SELECT doc_id, w, COUNT(*) AS c FROM grams GROUP BY 1, 2),
    agg AS (
        SELECT doc_id, SUM(c)::BIGINT AS n_ngrams,
               COUNT(*) AS nd, MAX(c) AS topc
        FROM per GROUP BY 1
    )
    SELECT doc_id, n_ngrams,
           ROUND(1 - nd * 1.0 / n_ngrams, 4) AS dup_ngram_frac,
           ROUND(topc * 1.0 / n_ngrams, 4) AS top_ngram_frac
    FROM agg
    """,
    doc="Within-document repetition metrics — the Gopher/MassiveText "
        "repetition quality rules: duplicated-3-gram fraction and the "
        "top 3-gram's share per document flag boilerplate/spam before "
        "training. One explode into a (doc, gram) partial-agg count "
        "then a per-doc aggregate — both map-side combinable, no "
        "bodies past the gram strings. "
        "operators/textops.py repetition_scores.",
    tags=("pipeline", "text", "quality"),
)
def t15(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.textops import repetition_scores

    return repetition_scores(_docs(spark, sf_dir), shingles=3)


# d13 reuses d11's oracle VERBATIM: the from-state probe is pinned to
# produce identical verdicts (tests/test_operators.py::
# TestIncrementalDedupState), so the correctness contract is the same
# SQL. Requires d11 registered earlier in this module.
assert "d11_incremental_dedup" in _Q, "d13 reuses d11's oracle text"


@register(
    "d13_incremental_dedup_from_state",
    _Q["d11_incremental_dedup"].oracle,
    doc="The persisted-signature PRODUCTION form of d11: the corpus "
        "(even doc_ids) has its dedup state — content hashes, LSH "
        "band keys, shingle postings, no bodies — written once to a "
        "parquet table (cached per (sf_dir, source mtime)); the "
        "incoming batch (odd ids) probes THAT table via "
        "incremental_dedup_from_state, so corpus text is scanned "
        "zero times per increment (inputFiles-asserted in tests). "
        "Verdicts are identical to d11 by construction, hence the "
        "shared oracle. operators/dedup.py dedup_signature_state + "
        "incremental_dedup_from_state.",
    tags=("dedup", "pipeline", "incremental", "engine"),
)
def d13(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.dedup import (
        incremental_dedup_from_state,
    )

    batch = _docs(spark, sf_dir).filter(F.col("doc_id") % 2 == 1)
    state = _d11_pinned_state(spark, sf_dir)
    return incremental_dedup_from_state(
        state, batch, threshold=0.7, num_hashes=8, bands=4, shingles=3
    )


def _d11_pinned_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The even-doc_id corpus's dedup signature state at the pinned
    8/4/3 oracle parameterization, persisted to a per-(sf_dir, mtime)
    tmp table once and read back — shared by d13 (batch probe) and
    st12 (streaming probe)."""
    import hashlib
    import os
    import re as _re

    from nycdb_k8s_loader_spark.operators.dedup import (
        dedup_signature_state,
    )

    src = os.path.join(sf_dir, "documents.parquet")
    sig = hashlib.md5(
        f"{sf_dir}:{os.path.getmtime(src)}".encode()
    ).hexdigest()[:10]
    path = (
        "/tmp/dedup_state_"
        + _re.sub(r"\W+", "_", sf_dir).strip("_")
        + f"_{sig}"
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        corpus = _docs(spark, sf_dir).filter(F.col("doc_id") % 2 == 0)
        # explicit 8/4 pins the oracle parameterization (the operator
        # default is now the corpus-size-aware bands_for policy)
        dedup_signature_state(
            corpus, num_hashes=8, bands=4, shingles=3
        ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


@register(
    "t16_pii_scrub",
    """
    WITH aug AS (
        SELECT doc_id,
               text ||
               CASE doc_id % 5
                   WHEN 0 THEN ' Contact User' || doc_id
                               || '@Example.COM now'
                   WHEN 1 THEN ' call 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                               || ' today'
                   WHEN 2 THEN ' host 10.0.' || (doc_id % 256)::VARCHAR
                               || '.1 up'
                   ELSE ''
               END AS text
        FROM documents
    ),
    scanned AS (
        SELECT doc_id,
               len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT
                   AS n_emails,
               len(regexp_extract_all(text,
                   '\\b[0-9]{3}-[0-9]{4}\\b'))::BIGINT AS n_phones,
               len(regexp_extract_all(text,
                   '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b'))::BIGINT
                   AS n_ipv4,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                           '[EMAIL]', 'g'),
                       '\\b[0-9]{3}-[0-9]{4}\\b', '[PHONE]', 'g'),
                   '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',
                   '[IP]', 'g') AS redacted
        FROM aug
    )
    SELECT doc_id, n_emails, n_phones, n_ipv4,
           (n_emails + n_phones + n_ipv4) > 0 AS has_pii,
           redacted
    FROM scanned
    """,
    doc="PII detection + redaction — the scrub pass before any "
        "corpus release: count and mask email/phone/IPv4 spans "
        "(RE2-safe patterns, identical in Java regex and DuckDB RE2; "
        "masking cascade order pinned email→phone→IP; casing of "
        "non-PII text preserved verbatim — the appended spans are "
        "mixed-case to prove it). The synthetic corpus carries no "
        "PII, so deterministic spans are appended per doc_id%5 in "
        "BOTH engines — m-series' synthesize-in-query pattern. Pure "
        "codegen'd regex over the scan, no shuffle. "
        "operators/textops.py pii_scrub.",
    tags=("pipeline", "text", "privacy"),
)
def t16(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.textops import pii_scrub

    aug = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.pmod("doc_id", F.lit(5)) == 0,
                F.concat(F.lit(" Contact User"), F.col("doc_id").cast("string"),
                         F.lit("@Example.COM now")),
            )
            .when(
                F.pmod("doc_id", F.lit(5)) == 1,
                F.concat(F.lit(" call 555-"),
                         F.lpad(F.pmod("doc_id", F.lit(10000)).cast("string"),
                                4, "0"),
                         F.lit(" today")),
            )
            .when(
                F.pmod("doc_id", F.lit(5)) == 2,
                F.concat(F.lit(" host 10.0."),
                         F.pmod("doc_id", F.lit(256)).cast("string"),
                         F.lit(".1 up")),
            )
            .otherwise(F.lit(""))
        ).alias("text"),
    )
    return pii_scrub(aug)


@register(
    "d14_incremental_semantic_dedup",
    f"""
    WITH e AS ({_VEC}),
    ec AS (SELECT * FROM e WHERE vec_id % 2 = 0),
    eb AS (SELECT * FROM e WHERE vec_id % 2 = 1),
    seed AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
        FROM ec ORDER BY vec_id LIMIT 8
    ),
    a0 AS (
        SELECT vec_id, cid FROM (
            SELECT ec.vec_id, s.cid,
                   row_number() OVER (PARTITION BY ec.vec_id ORDER BY
                       list_sum(list_transform(range(1, len(ec.v) + 1),
                                i -> (ec.v[i] - s.c[i]) ^ 2)), s.cid) AS rn
            FROM ec CROSS JOIN seed s
        ) WHERE rn = 1
    ),
    m0 AS (
        SELECT a.cid, j.i AS pos, ROUND(AVG(ec.v[j.i]), 4) AS m
        FROM a0 a JOIN ec USING (vec_id),
             unnest(range(1, len(ec.v) + 1)) j(i)
        GROUP BY 1, 2
    ),
    c1 AS (
        SELECT s.cid, COALESCE(mm.c, s.c) AS c
        FROM seed s LEFT JOIN (
            SELECT cid, list(m ORDER BY pos) AS c FROM m0 GROUP BY cid
        ) mm USING (cid)
    ),
    a1 AS (
        SELECT vec_id, cid FROM (
            SELECT ec.vec_id, s.cid,
                   row_number() OVER (PARTITION BY ec.vec_id ORDER BY
                       list_sum(list_transform(range(1, len(ec.v) + 1),
                                i -> (ec.v[i] - s.c[i]) ^ 2)), s.cid) AS rn
            FROM ec CROSS JOIN c1 s
        ) WHERE rn = 1
    ),
    m1 AS (
        SELECT a.cid, j.i AS pos, ROUND(AVG(ec.v[j.i]), 4) AS m
        FROM a1 a JOIN ec USING (vec_id),
             unnest(range(1, len(ec.v) + 1)) j(i)
        GROUP BY 1, 2
    ),
    c2 AS (
        SELECT s.cid, COALESCE(mm.c, s.c) AS c
        FROM c1 s LEFT JOIN (
            SELECT cid, list(m ORDER BY pos) AS c FROM m1 GROUP BY cid
        ) mm USING (cid)
    ),
    cm AS (
        SELECT vec_id, cid, v FROM (
            SELECT ec.vec_id, s.cid, ec.v,
                   row_number() OVER (PARTITION BY ec.vec_id ORDER BY
                       list_sum(list_transform(range(1, len(ec.v) + 1),
                                i -> (ec.v[i] - s.c[i]) ^ 2)), s.cid) AS rn
            FROM ec CROSS JOIN c2 s
        ) WHERE rn = 1
    ),
    ba AS (
        SELECT vec_id, cid, v FROM (
            SELECT eb.vec_id, s.cid, eb.v,
                   row_number() OVER (PARTITION BY eb.vec_id ORDER BY
                       list_sum(list_transform(range(1, len(eb.v) + 1),
                                i -> (eb.v[i] - s.c[i]) ^ 2)), s.cid) AS rn
            FROM eb CROSS JOIN c2 s
        ) WHERE rn = 1
    ),
    dup AS (
        SELECT DISTINCT b.vec_id
        FROM ba b JOIN cm m ON m.cid = b.cid
        WHERE list_cosine_similarity(b.v, m.v) >= 0.45
    )
    SELECT b.vec_id, b.cid AS cluster_id,
           d.vec_id IS NULL AS is_kept
    FROM ba b LEFT JOIN dup d ON d.vec_id = b.vec_id
    """,
    doc="Incremental SEMANTIC dedup (the d11/d13 pattern applied to "
        "d12, round-7 verdict #7): even vec_ids form the standing "
        "corpus, odd the incoming batch. The corpus trains centroids "
        "(d12's exact Lloyd trajectory) ONCE into a persistable "
        "state of centroid rows + unit-normalized member rows "
        "(operators/similarity.py semantic_dedup_state); each batch "
        "then assigns map-side against the k*dim centroid literal "
        "and probes members through ONE shuffle_hash equi-join on "
        "cluster id — candidate work linear in the batch at the "
        "constant cluster size the scaled-k policy holds; corpus "
        "embeddings are never re-read, re-normalized, or "
        "re-clustered. TestIncrementalSemanticState pins "
        "state==inline verdict equality. "
        "operators/similarity.py incremental_semantic_dedup.",
    tags=("dedup", "pipeline", "incremental", "embedding"),
)
def d14(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.similarity import (
        incremental_semantic_dedup,
    )

    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    return incremental_semantic_dedup(corpus, batch, k=8, threshold=0.45)


@register(
    "st12_streaming_incremental_dedup",
    _Q["d11_incremental_dedup"].oracle,
    doc="d13's persisted-state probe run as a STREAM — continuous-"
        "ingestion dedup inline in the ingest path instead of a "
        "nightly batch: incoming docs arrive as a file stream, each "
        "micro-batch probes the published signature state through "
        "incremental_dedup_from_state inside foreachBatch (a micro-"
        "batch is a batch frame, so the probe's joins/distinct need "
        "no streaming state store), and verdicts publish through the "
        "idempotent versioned upsert sink keyed by doc_id — "
        "checkpoint replays of an at-least-once stream can't "
        "duplicate rows. Verdicts are split-invariant by "
        "construction (the state is fixed and intra-batch dups are "
        "out of the probe's contract), so the availableNow pass "
        "equals the batch twin — hence d11's shared oracle. "
        "streaming/pipeline.py foreach_batch_upsert + "
        "operators/dedup.py incremental_dedup_from_state.",
    tags=("streaming", "dedup", "incremental", "pipeline"),
)
def st12(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import tempfile

    from nycdb_k8s_loader_spark.operators.dedup import (
        incremental_dedup_from_state,
    )
    from nycdb_k8s_loader_spark.streaming.pipeline import (
        foreach_batch_upsert,
        read_upsert_sink,
    )

    state = _d11_pinned_state(spark, sf_dir)
    schema = _docs(spark, sf_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .filter(F.col("doc_id") % 2 == 1)
    )
    import os as _os

    # mtime in the key: a regenerated source dir must not replay an
    # old checkpoint/sink (the stream would consume zero files and
    # hand back stale verdicts)
    mtime = _os.path.getmtime(_os.path.join(sf_dir, "documents.parquet"))
    digest = hashlib.md5(f"{sf_dir}:{mtime}".encode()).hexdigest()[:8]
    tmp = f"{tempfile.gettempdir()}/spark_graft_st12_{digest}"
    upsert = foreach_batch_upsert(f"{tmp}/sink", ["doc_id"])

    def probe(mb, batch_id):
        upsert(
            incremental_dedup_from_state(
                state, mb, threshold=0.7,
                num_hashes=8, bands=4, shingles=3,
            ),
            batch_id,
        )

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
        "doc_id", "verdict"
    )


def _d14_pinned_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The even-vec_id corpus's SEMANTIC dedup state (k=8, full-corpus
    Lloyd — d14's oracle-replayable parameterization), persisted per
    (sf_dir, mtime) and read back — shared by st13's streaming probe."""
    import hashlib
    import os
    import re as _re

    from nycdb_k8s_loader_spark.operators.similarity import (
        semantic_dedup_state,
    )

    src = os.path.join(sf_dir, "embeddings.parquet")
    sig = hashlib.md5(
        f"{sf_dir}:{os.path.getmtime(src)}".encode()
    ).hexdigest()[:10]
    path = (
        "/tmp/semdedup_state_"
        + _re.sub(r"\W+", "_", sf_dir).strip("_")
        + f"_{sig}"
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        corpus = _emb(spark, sf_dir).filter(F.col("vec_id") % 2 == 0)
        semantic_dedup_state(corpus, k=8).write.mode(
            "overwrite"
        ).parquet(path)
    return spark.read.parquet(path)


@register(
    "st13_streaming_semantic_dedup",
    _Q["d14_incremental_semantic_dedup"].oracle,
    doc="d14's persisted-centroid probe run as a STREAM — embedding "
        "near-dup filtering inline in the ingest path: incoming "
        "vectors arrive as a file stream, each micro-batch assigns "
        "against the published centroid table and probes members "
        "through incremental_semantic_dedup_from_state inside "
        "foreachBatch, verdicts publishing through the idempotent "
        "versioned upsert sink keyed by vec_id. Verdicts are "
        "split-invariant (fixed state, intra-batch dups out of "
        "contract) so the availableNow pass equals the batch twin — "
        "d14's shared oracle. With st12 this closes the symmetry: "
        "BOTH dedup planes (lexical signatures, embedding clusters) "
        "run batch or streaming off the same published state.",
    tags=("streaming", "dedup", "incremental", "embedding"),
)
def st13(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os as _os
    import tempfile

    from nycdb_k8s_loader_spark.operators.similarity import (
        incremental_semantic_dedup_from_state,
    )
    from nycdb_k8s_loader_spark.streaming.pipeline import (
        foreach_batch_upsert,
        read_upsert_sink,
    )

    state = _d14_pinned_state(spark, sf_dir)
    schema = _emb(spark, sf_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
        .filter(F.col("vec_id") % 2 == 1)
    )
    mtime = _os.path.getmtime(_os.path.join(sf_dir, "embeddings.parquet"))
    digest = hashlib.md5(f"{sf_dir}:{mtime}".encode()).hexdigest()[:8]
    tmp = f"{tempfile.gettempdir()}/spark_graft_st13_{digest}"
    upsert = foreach_batch_upsert(f"{tmp}/sink", ["vec_id"])

    def probe(mb, batch_id):
        upsert(
            incremental_semantic_dedup_from_state(
                state, mb, threshold=0.45
            ),
            batch_id,
        )

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
        "vec_id", "cluster_id", "is_kept"
    )


@register(
    "s12_pq_adc_topk",
    f"""
    WITH e AS ({_VEC}),
    sub AS (
        SELECT vec_id, m, v[m*8+1 : m*8+8] AS sv
        FROM e, unnest(generate_series(0, 7)) AS t(m)
    ),
    seedids AS (
        SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
        FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT 16)
    ),
    c0 AS (
        SELECT s.m, si.cid, s.sv AS c
        FROM sub s JOIN seedids si USING (vec_id)
    ),
    a1 AS (
        SELECT vec_id, m, cid FROM (
            SELECT s.vec_id, s.m, c.cid,
                   row_number() OVER (PARTITION BY s.vec_id, s.m
                       ORDER BY list_sum(list_transform(
                           range(1, len(s.sv) + 1),
                           i -> (s.sv[i] - c.c[i]) ^ 2)), c.cid) AS rn
            FROM sub s JOIN c0 c ON c.m = s.m
        ) WHERE rn = 1
    ),
    dims AS (
        SELECT vec_id, m, generate_subscripts(sv, 1) AS pos,
               unnest(sv) AS val
        FROM sub
    ),
    m1 AS (
        SELECT a.m, a.cid, d.pos, ROUND(AVG(d.val), 4) AS mx
        FROM a1 a JOIN dims d ON d.vec_id = a.vec_id AND d.m = a.m
        GROUP BY 1, 2, 3
    ),
    c1 AS (
        SELECT c0.m, c0.cid, COALESCE(l.c, c0.c) AS c
        FROM c0 LEFT JOIN (
            SELECT m, cid, list(mx ORDER BY pos) AS c
            FROM m1 GROUP BY 1, 2
        ) l ON l.m = c0.m AND l.cid = c0.cid
    ),
    enc AS (
        SELECT vec_id, m, cid AS code FROM (
            SELECT s.vec_id, s.m, c.cid,
                   row_number() OVER (PARTITION BY s.vec_id, s.m
                       ORDER BY list_sum(list_transform(
                           range(1, len(s.sv) + 1),
                           i -> (s.sv[i] - c.c[i]) ^ 2)), c.cid) AS rn
            FROM sub s JOIN c1 c ON c.m = s.m
        ) WHERE rn = 1
    ),
    qt AS (
        SELECT s.vec_id AS query_id, c.m, c.cid,
               CAST(floor(list_sum(list_transform(
                   range(1, len(s.sv) + 1),
                   i -> (s.sv[i] - c.c[i]) ^ 2)) * 1000000 + 0.5)
                   AS BIGINT) AS dq
        FROM sub s JOIN c1 c ON c.m = s.m
        WHERE s.vec_id < 10
    ),
    scored AS (
        SELECT q.query_id, enc.vec_id AS neighbor_id,
               SUM(q.dq)::BIGINT AS micro
        FROM enc JOIN qt q ON q.m = enc.m AND q.cid = enc.code
        WHERE enc.vec_id <> q.query_id
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, rank, micro / 1000000.0 AS adc_dist
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY micro ASC, neighbor_id ASC)::BIGINT AS rank
        FROM scored
    ) WHERE rank <= 10
    """,
    doc="Product-quantization ANN with asymmetric-distance scoring "
        "(Jégou et al.) — the standard ring after IVF (s04/s06) when "
        "the float corpus exceeds the probe budget: 64-dim vectors "
        "compress to 8 one-byte codes (per-subspace k-means, trained "
        "in ONE distributed pass for all subspaces — the subspace "
        "index is just a grouping key); queries are never quantized "
        "— per subspace they precompute distances to all 16 "
        "codewords and each database vector scores as the SUM of 8 "
        "int64 table lookups (distances quantized via the s05 "
        "floor-plus-half rule, so the sum is aggregation-order "
        "independent and bit-identical cross-engine). Encode is one "
        "broadcast-codebook argmin; scoring is one broadcast "
        "equi-join on (subspace, code) + a map-side-combinable SUM — "
        "raw vectors never shuffle after encoding. Determinism: rank "
        "seeds + 4dp-rounded Lloyd means (d12's replayable "
        "trajectory), struct-min argmin ties to the smallest code. "
        "TestProductQuantization pins recall@10 vs the s01 "
        "brute-force truth. operators/similarity.py pq_topk.",
    tags=("similarity", "quantization", "pipeline"),
)
def s12(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.similarity import pq_topk

    return pq_topk(
        _emb(spark, sf_dir), query_ids=list(range(10)), k=10,
        m=8, codebook=16, lloyd_iters=1,
    )


# s13: the deployment form of s12 — ADC as candidate generator, exact
# re-rank on the candidates. The oracle REUSES s12's CTE chain (the
# s10 composition precedent): everything up to `scored` is identical,
# then candidates = ADC top-100, refined by exact cosine.
_S13_ORACLE = _Q["s12_pq_adc_topk"].oracle.split("SELECT query_id,")[0] + """,
    cand AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY micro ASC, neighbor_id ASC) AS rn
            FROM scored
        ) WHERE rn <= 100
    ),
    refined AS (
        SELECT c.query_id, c.neighbor_id,
               ROUND(list_cosine_similarity(q.v, n.v), 6) AS cos_sim
        FROM cand c
        JOIN e q ON q.vec_id = c.query_id
        JOIN e n ON n.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, rank, cos_sim FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id ASC)::BIGINT AS rank
        FROM refined
    ) WHERE rank <= 10
    """


@register(
    "s13_pq_rerank_topk",
    _S13_ORACLE,
    doc="PQ-ADC + exact re-rank — the IVFADC-refine deployment form "
        "of s12 (8-byte codes are lossy by design: raw ADC recall@10 "
        "measures ~0.34 on this fixture, the published PQ trade): "
        "the corpus-wide pass stays the ADC code stream, the exact "
        "cosine touches only the ADC top-100 candidates per query "
        "(metadata-scale — the candidate frame broadcasts against "
        "the embedding table, so only candidate vectors are read "
        "back), and recall@10 recovers to ~0.85 (pinned floor 0.7, "
        "TestProductQuantization). rerank_from is the recall dial, "
        "s10-style. Oracle: s12's CTE chain verbatim + candidate cut "
        "+ exact-cosine refine. operators/similarity.py "
        "pq_rerank_topk.",
    tags=("similarity", "quantization", "pipeline"),
)
def s13(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.similarity import (
        pq_rerank_topk,
    )

    return pq_rerank_topk(
        _emb(spark, sf_dir), query_ids=list(range(10)), k=10,
        rerank_from=100, m=8, codebook=16, lloyd_iters=1,
    )


# s14: IVF×PQ composed (IVFADC). The oracle reuses s12's CTE chain up
# to the code stream (training + encode verbatim), swaps the
# full-corpus scored CTE for s04's coarse-quantizer probe (cells →
# top-nprobe per query) and a membership-pruned ADC sum.
_S14_ORACLE = _Q["s12_pq_adc_topk"].oracle.split("qt AS")[0] + """
    qt AS (
        SELECT s.vec_id AS query_id, c.m, c.cid AS code,
               CAST(floor(list_sum(list_transform(
                   range(1, len(s.sv) + 1),
                   i -> (s.sv[i] - c.c[i]) ^ 2)) * 1000000 + 0.5)
                   AS BIGINT) AS dq
        FROM sub s JOIN c1 c ON c.m = s.m
        WHERE s.vec_id < 10
    ),
    el AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
           FROM embeddings),
    cent_dims AS (
        SELECT label, pos, ROUND(AVG(val), 6) AS avg_val
        FROM (
            SELECT label, generate_subscripts(v, 1) AS pos,
                   unnest(v) AS val
            FROM el
        ) GROUP BY label, pos
    ),
    cents AS (
        SELECT label, list(avg_val ORDER BY pos) AS cv
        FROM cent_dims GROUP BY label
    ),
    probes AS (
        SELECT query_id, cell FROM (
            SELECT q.vec_id AS query_id, c.label AS cell,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ROUND(list_cosine_similarity(q.v, c.cv),
                                      6) DESC, c.label ASC
                   ) AS rn
            FROM el q CROSS JOIN cents c
            WHERE q.vec_id < 10
        ) WHERE rn <= 2
    ),
    scored AS (
        SELECT p.query_id, enc.vec_id AS neighbor_id,
               SUM(q.dq)::BIGINT AS micro
        FROM enc
        JOIN el cm ON cm.vec_id = enc.vec_id
        JOIN probes p ON p.cell = cm.label
        JOIN qt q ON q.query_id = p.query_id AND q.m = enc.m
                 AND q.code = enc.code
        WHERE enc.vec_id <> p.query_id
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, rank, micro / 1000000.0 AS adc_dist
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY micro ASC, neighbor_id ASC)::BIGINT AS rank
        FROM scored
    ) WHERE rank <= 10
    """


@register(
    "s14_ivf_pq_topk",
    _S14_ORACLE,
    doc="IVFADC — IVF cell pruning composed with PQ asymmetric-"
        "distance scoring (Jégou et al. §IV), closing round-9's gap "
        "where s12's ADC stream scanned EVERY code row per query "
        "batch: each query probes its top-nprobe coarse cells "
        "(s04's broadcast centroid argmax), candidate ids come from "
        "ONE membership×probe broadcast join (Q·nprobe·N/C rows), "
        "and only those candidates' codes enter the ADC sum via a "
        "shuffle_hash equi-join on vec_id — at 1000 cells and "
        "nprobe=2 the scored stream is ~0.2% of the corpus. "
        "Codebooks, codes, and centroids are all persistable "
        "artifacts (pass codebooks= to skip training). Recall floor "
        "vs s01 brute force pinned in TestProductQuantization; "
        "candidate-count ≪ corpus pinned there too. Oracle: s12's "
        "training/encode CTEs verbatim + s04's probe chain + the "
        "pruned ADC sum. operators/similarity.py ivf_pq_topk.",
    tags=("similarity", "quantization", "ivf", "pipeline"),
)
def s14(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.similarity import ivf_pq_topk

    return ivf_pq_topk(
        _emb(spark, sf_dir), query_ids=list(range(10)), k=10,
        nprobe=2, m=8, codebook=16, lloyd_iters=1,
    )


# --- round-11: state-lifecycle compaction as oracle-backed rows --------------
# (r10 VERDICT next-round #1: the compact/retire family had pytest
# pins only — these rows put the compact==rebuild contract under the
# driver's per-round DuckDB signal.)

# d15's oracle IS d11's incremental-dedup oracle evaluated on the
# RETAINED universe: retire half the standing corpus (doc_id % 4 ==
# 2), keep the batch (odd ids).  Rewriting every table ref to a
# retained-docs CTE reuses d11's verified SQL verbatim — the
# compact(build(corpus), retired) == build(corpus \ retired) contract
# becomes "probing the compacted state == d11 on the retained
# universe", with zero hand-copied arithmetic.
_D15_ORACLE = (
    "WITH __retained AS (SELECT * FROM documents\n"
    "                    WHERE doc_id % 2 = 1 OR doc_id % 4 = 0),\n    "
    + _Q["d11_incremental_dedup"]
    .oracle.replace("documents", "__retained")
    .strip()
    .removeprefix("WITH")
    .lstrip()
)


@register(
    "d15_dedup_state_compact",
    _D15_ORACLE,
    doc="Takedown path for the persisted dedup state (operators/"
        "state_lifecycle.py dedup_signature_state_compact): build "
        "d13's signature state on the even-id corpus, RETIRE the "
        "doc_id % 4 == 2 half with one shuffle_hash anti join "
        "(linear in the state — the corpus is never re-read, the "
        "reference's analog is a wholesale table rebuild per load, "
        "load_dataset.py:209-241), then probe the odd-id batch "
        "through the compacted state. Signature rows are per-doc "
        "independent, so compact == rebuild EXACTLY (banding pinned "
        "8/4): the oracle is d11's SQL on the retained universe. A "
        "batch doc whose only exact/near duplicate was retired "
        "flips to keep — the verdict the pre-takedown state cannot "
        "produce.",
    tags=("dedup", "pipeline", "incremental", "lifecycle"),
)
def d15(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.dedup import (
        incremental_dedup_from_state,
    )
    from nycdb_k8s_loader_spark.operators.state_lifecycle import (
        dedup_signature_state_compact,
    )

    docs = _docs(spark, sf_dir)
    retired = docs.filter(F.col("doc_id") % 4 == 2).select("doc_id")
    compacted = dedup_signature_state_compact(
        _d11_pinned_state(spark, sf_dir), retired
    )
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    return incremental_dedup_from_state(
        compacted, batch, threshold=0.7,
        num_hashes=8, bands=4, shingles=3,
    )


@register(
    "c10_packing_injected_counts",
    """
    WITH toks AS (
        SELECT doc_id,
               doc_id // 128 AS shard,
               (length(trim(text)) // 4 + 1)::BIGINT AS n
        FROM documents
    ),
    c AS (
        SELECT shard, doc_id, n,
               coalesce(SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0)::BIGINT
                   AS cum_before
        FROM toks
    )
    SELECT shard,
           cum_before // 512 AS window_id,
           count(*)::BIGINT AS n_docs,
           sum(n)::BIGINT AS n_tokens,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM c GROUP BY shard, cum_before // 512
    """,
    doc="c02's sequence packing driven by an INJECTED token-count "
        "column instead of the built-in whitespace arithmetic — the "
        "pluggable-tokenizer contract (r10 verdict #6: production "
        "packing/sharding/mixing runs on BPE counts; a real "
        "tokenizer is an executor-side map producing exactly such a "
        "column, counted once and reused by every token-denominated "
        "op). The fixture count here is chars div 4 + 1 — a "
        "deterministic BPE-ish proxy that DIFFERS from the "
        "whitespace count on every row, so this row pins the "
        "injected path, not an alias of c02 (injecting the "
        "whitespace count reproduces c02 exactly — pytest "
        "TestTokenCountContract). Same per-shard cumulative window "
        "shape as c02. operators/textops.py pack_sequences"
        "(token_count_col=...).",
    tags=("text", "packing", "scale", "contract"),
)
def c10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nycdb_k8s_loader_spark.operators.textops import pack_sequences

    docs = _docs(spark, sf_dir).withColumn(
        "bpe_tokens",
        (F.floor(F.length(F.trim("text")) / 4) + 1).cast("long"),
    )
    return pack_sequences(
        docs, context_tokens=512, shard_docs=128,
        token_count_col="bpe_tokens",
    )
