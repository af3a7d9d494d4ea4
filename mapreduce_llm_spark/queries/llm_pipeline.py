"""LLM-data-pipeline queries (SURVEY.md §2C "LLM-data-pipeline
operators" + north-star additions from BASELINE.json): dedup families,
similarity search, text analysis, and the reference pipeline's own
operators (chunker, LLM map, cost pre-flight) as declared queries.

The driver corpus has no real duplicates (all 500 texts distinct), so
dedup queries deterministically *inject* them from driver data — union
the documents table with a transformed copy (uppercased for exact,
truncated for near-dup) — and then prove the operator finds exactly
those. Queries whose internals DuckDB can't express (xxhash64
signatures, the greedy chunker, the fake LLM) are declared rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_llm_spark.io import load_table
from mapreduce_llm_spark.operators.dedup import (
    exact_dedup,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from mapreduce_llm_spark.operators.similarity import (
    ann_topk_lsh,
    cosine_self_pairs,
    cosine_self_pairs_blocked,
    cosine_topk,
)
from mapreduce_llm_spark.operators.textstats import (
    LANG_STOPWORDS,
    detect_lang_col,
    fingerprint_col,
    punct_ratio_col,
    quality_score_col,
    token_count_col,
    word_count_col,
)
from mapreduce_llm_spark.queries.future_oracles import GRADUATED_ORACLES
from mapreduce_llm_spark.registry import query

# DuckDB twin of the engine's deterministic tokenizer
# (functions/tokens.py: ceil(len/4) per word, min 1)
# \s+ split to mirror words_col (Spark splits on \s+, not literal space;
# texts with tabs/newlines would otherwise diverge); list_sum over a
# BIGINT list is HUGEINT in DuckDB — cast back so the driver's value
# hash sees the same integer rendering as Spark's BIGINT; coalesce
# matches aggregate()'s 0 seed on empty texts.
_DUCK_TOKENS = (
    "CAST(coalesce(list_sum(list_transform("
    "list_filter(regexp_split_to_array(trim({col}), '\\s+'), w -> w <> ''), "
    "w -> greatest(1, CAST(ceil(length(w)/4.0) AS BIGINT)))), 0) AS BIGINT)"
)


def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ uppercased copy (ids offset by 1,000,000)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), F.upper("text").alias("text")
    )
    return d.unionByName(dup)


@query(
    "q_dedup_exact",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, upper(text) FROM documents
    )
    SELECT
        regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm_text,
        min(doc_id) AS survivor_id,
        count(*)    AS n_copies
    FROM corpus
    GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text over a corpus with one injected
    (case-mangled) duplicate per document: every group must collapse to
    n_copies=2 with the original id surviving."""
    return exact_dedup(_dup_corpus(spark, sf_dir), "text", "doc_id")


def _neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ truncated copy (last 5 words dropped, ids +1M) —
    guaranteed high-Jaccard near-duplicates."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    words = F.split(F.col("text"), " ")
    trunc = F.array_join(F.slice(words, 1, F.greatest(F.size(words) - 5, F.lit(1))), " ")
    dup = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        trunc.alias("text"),
        "lang",
        "source",
    )
    return d.unionByName(dup)


@query(
    "q_dedup_incremental",
    oracle="""
    WITH seen AS (
        SELECT DISTINCT regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS k
        FROM documents WHERE source = 'src0'
    ), newdocs AS (
        SELECT doc_id, text, source FROM documents WHERE source <> 'src0'
        UNION ALL
        SELECT doc_id + 1000000, upper(text), 'replay'
        FROM documents WHERE source = 'src0'
        UNION ALL
        SELECT doc_id + 2000000, upper(text), 'replay2'
        FROM documents WHERE source = 'src1'
    ), keyed AS (
        SELECT doc_id, source,
               regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS k
        FROM newdocs
    ), fresh AS (
        SELECT * FROM keyed kd
        WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.k = kd.k)
    ), surv AS (
        SELECT k, min(doc_id) AS doc_id FROM fresh GROUP BY k
    )
    SELECT f.doc_id, f.source
    FROM fresh f JOIN surv s ON f.k = s.k AND f.doc_id = s.doc_id
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot ingest dedup: src0 is the already-ingested
    corpus; the arriving batch is every other source plus a replayed
    copy of src0 (must all be dropped by the anti-join) and a
    case-mangled copy of src1 (must collapse to the src1 originals
    within the batch). Exercises both elimination paths of
    incremental_exact_dedup."""
    from mapreduce_llm_spark.operators.dedup import incremental_exact_dedup

    d = load_table(spark, sf_dir, "documents")
    seen = d.filter(F.col("source") == "src0")
    new = (
        d.filter(F.col("source") != "src0")
        .select("doc_id", "text", "source")
        .unionByName(
            seen.select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"),
                F.upper("text").alias("text"),
                F.lit("replay").alias("source"),
            )
        )
        .unionByName(
            d.filter(F.col("source") == "src1").select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"),
                F.upper("text").alias("text"),
                F.lit("replay2").alias("source"),
            )
        )
    )
    return incremental_exact_dedup(new, seen, "text", "doc_id").select(
        "doc_id", "source"
    )


@query("q_dedup_fuzzy")
def q_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (shingle→minhash→band→bucket-join→
    exact-Jaccard verify). Deterministic (fixed xxhash64 seeds) but the
    signatures aren't DuckDB-expressible → rows-only; the SQL-checked
    exact-Jaccard twin is q_dedup_ngram."""
    corpus = _neardup_corpus(spark, sf_dir)
    return minhash_near_dup_pairs(
        corpus, "text", "doc_id", threshold=0.5, num_hashes=32, bands=8
    ).orderBy("id_a", "id_b")


@query(
    "q_dedup_ngram",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text, lang, source FROM documents
        UNION ALL
        SELECT doc_id + 1000000,
               array_to_string(words[1:greatest(len(words) - 5, 1)], ' '),
               lang, source
        FROM (SELECT *, string_split(text, ' ') AS words FROM documents)
    ), sh AS (
        SELECT doc_id, lang, source,
               list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                              FOR i IN generate_series(1, len(words) - 2)]) AS shingles
        FROM (SELECT doc_id, lang, source,
                     list_filter(string_split(trim(lower(text)), ' '), w -> w <> '') AS words
              FROM corpus)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.shingles, b.shingles))), 4) AS jaccard_sim
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.5
    """,
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs, blocked on
    (lang, source) — the SQL-checkable verify stage of the fuzzy-dedup
    family; must recover exactly the injected truncated duplicates."""
    corpus = _neardup_corpus(spark, sf_dir)
    return ngram_jaccard_pairs(
        corpus, "text", "doc_id", ["lang", "source"], threshold=0.5
    )


@query("q_dedup_simhash")
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (64-bit fingerprints, 16-bit band
    blocking, hamming ≤ 3). Deterministic (sha1-derived word hashes)
    → rows-only (bit-vote internals not DuckDB-expressible)."""
    corpus = _neardup_corpus(spark, sf_dir)
    return simhash_near_dup_pairs(corpus, "text", "doc_id", max_hamming=3).orderBy(
        "id_a", "id_b"
    )


@query(
    "q_dedup_embed",
    oracle="""
    WITH n AS (
        SELECT vec_id, embedding,
               sqrt(list_dot_product(embedding, embedding)) AS nrm
        FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.embedding, b.embedding) / (a.nrm * b.nrm), 4)
               AS cosine_sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.embedding, b.embedding) / (a.nrm * b.nrm) >= 0.4
    """,
)
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs — exact all-pairs, computed
    block-partitioned (cosine_self_pairs_blocked): every unordered
    pair meets in exactly one of C(C+1)/2 block-pair groups, each
    scored by one BLAS matmul, with no driver-side collect anywhere
    in the plan. Compute is inherently O(n²) (exactness demands it);
    the approximate corpus-scale screen is the LSH-blocked
    q_sim_join."""
    e = load_table(spark, sf_dir, "embeddings")
    return cosine_self_pairs_blocked(e, threshold=0.4)


@query(
    "q_sim_search",
    oracle="""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
        SELECT e.vec_id,
               round(list_dot_product(e.embedding, q.qv)
                     / (sqrt(list_dot_product(e.embedding, e.embedding))
                        * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine_sim
        FROM embeddings e, q
    )
    SELECT vec_id, cosine_sim
    FROM scored
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """,
)
def q_sim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against the vec_id=0 embedding (the
    exact ANN baseline; TakeOrdered → no global sort)."""
    e = load_table(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return cosine_topk(e, list(qvec), k=10)


@query("q_sim_join")
def q_sim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-blocked similarity self-join: random-hyperplane buckets
    (fixed seed) then exact cosine within buckets — the scale path
    (approximate: cross-bucket pairs are missed by design → rows-only).
    """
    from mapreduce_llm_spark.operators.similarity import lsh_bucket, random_hyperplanes

    e = load_table(spark, sf_dir, "embeddings")
    planes = random_hyperplanes(64, 4, seed=42)
    bucketed = e.withColumn("bucket", lsh_bucket(F.col("embedding"), planes))
    return cosine_self_pairs(
        bucketed, threshold=0.3, block_col="bucket"
    ).orderBy("id_a", "id_b")


@query(
    "q_sim_rerank",
    oracle="""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    coarse AS (
        SELECT e.vec_id, e.embedding,
               round(list_dot_product(e.embedding[1:16], q.qv[1:16]), 4) AS c
        FROM embeddings e, q
    ),
    cand AS (
        SELECT vec_id, embedding FROM coarse ORDER BY c DESC, vec_id LIMIT 50
    )
    SELECT c.vec_id,
           round(list_dot_product(c.embedding, q.qv)
                 / (sqrt(list_dot_product(c.embedding, c.embedding))
                    * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine_sim
    FROM cand c, q
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """,
)
def q_sim_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN: coarse 16-dim dot-product top-50, exact cosine
    rerank to top-10. Deterministic (rounded scores + id tie-breaks)
    so it hash-checks against DuckDB, unlike the LSH/IVF probes."""
    from mapreduce_llm_spark.operators.similarity import cosine_topk_rerank

    e = load_table(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return cosine_topk_rerank(e, list(qvec), k=10, coarse_dims=16, n_candidates=50)


@query("q_sim_ann_topk")
def q_sim_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via sign-LSH multiprobe (query bucket + all
    hamming-1 neighbors — the recall lever; rows-only: recall is
    intentionally < 1 vs the exact q_sim_search). Recall ordering is
    pinned in test_lsh_multiprobe_recall_dominates_single_probe."""
    e = load_table(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return ann_topk_lsh(e, list(qvec), k=10, n_planes=4, seed=42, n_probe_bits=1)


@query(
    "q_text_stats",
    oracle=f"""
    SELECT
        doc_id,
        length(text)                                   AS n_chars,
        len(list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '')) AS n_words,
        {_DUCK_TOKENS.format(col='text')}              AS n_tokens,
        round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
              / CAST(length(text) AS DOUBLE), 4)       AS punct_ratio
    FROM documents
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document counting stats; n_tokens is the engine tokenizer as
    a JVM expression with an exact DuckDB twin."""
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        F.length(t).cast("long").alias("n_chars"),
        word_count_col(t).alias("n_words"),
        token_count_col(t).alias("n_tokens"),
        F.round(punct_ratio_col(t), 4).alias("punct_ratio"),
    )


@query(
    "q_text_quality",
    oracle="""
    WITH s AS (
        SELECT doc_id, lang, text,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> ''))  AS wc,
               (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                   / CAST(length(text) AS DOUBLE)                             AS punct
        FROM documents
    ), scored AS (
        SELECT doc_id, lang,
               round(greatest(0.0, least(1.0,
                   0.5 * least(wc / 50.0, 1.0)
                 + 0.5 * (CASE WHEN length(text) / CAST(wc AS DOUBLE) BETWEEN 3 AND 9
                               THEN 1.0 ELSE 0.5 END)
                 - punct)), 4) AS quality_score
        FROM s
    )
    SELECT lang,
           count(*)                        AS n_docs,
           round(avg(quality_score), 4)    AS avg_quality,
           round(min(quality_score), 4)    AS min_quality,
           round(max(quality_score), 4)    AS max_quality
    FROM scored
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score distribution per stored language — the filter a
    pretraining pipeline would threshold on."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("lang", quality_score_col(F.col("text")).alias("quality_score"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("quality_score"), 4).alias("avg_quality"),
            F.round(F.min("quality_score"), 4).alias("min_quality"),
            F.round(F.max("quality_score"), 4).alias("max_quality"),
        )
        .orderBy("lang")
    )


@query("q_text_fingerprint", oracle=GRADUATED_ORACLES["q_text_fingerprint"])
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID (stopword-vote heuristic) + rolling-hash document
    fingerprint. Since round 7 the fingerprint is md5-arithmetic
    (operators/textstats.word_hash_col — independently recomputable,
    the point of a fingerprint) and the stopword ratio is an exact
    int64 e4 (hits·1e4 div n), so every output column is a pure
    integer/string function of the text: the registered DuckDB twin
    (GRADUATED_ORACLES, flipped in round 8) replays the rolling hash
    with a modpow powers table and the first-wins stopword vote with
    a CASE ladder."""
    from mapreduce_llm_spark.operators.textstats import words_col

    d = load_table(spark, sf_dir, "documents")
    words = words_col(F.lower(F.col("text")))
    en_sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    n = F.size(words)
    hits = F.size(F.filter(words, lambda w: F.array_contains(en_sw, w)))
    return d.select(
        "doc_id",
        "lang",
        detect_lang_col(F.col("text")).alias("lang_detected"),
        fingerprint_col(F.col("text")).alias("fingerprint"),
        (hits * 10000).cast("long").alias("__h"),
        n.cast("long").alias("__n"),
    ).select(
        "doc_id",
        "lang",
        "lang_detected",
        "fingerprint",
        F.expr("__h div nullif(__n, 0)").alias("stopword_en_e4"),
    ).orderBy("doc_id")


@query("q_chunk_assign")
def q_chunk_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference chunker as a corpus operator (reference
    internal/cli/mapreduce.go:199-263): greedy token-packed chunks at a
    64-token budget over documents. Rows-only + property-tested
    (tests/test_chunker.py)."""
    from mapreduce_llm_spark.operators.chunker import chunk_documents

    d = load_table(spark, sf_dir, "documents")
    return chunk_documents(d, max_tokens=64).select(
        "doc_id", "chunk_id", "n_tokens", F.length("chunk_text").alias("chunk_chars")
    ).orderBy("doc_id", "chunk_id")


@query("q_llm_map")
def q_llm_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic filter over chunked documents with the deterministic
    FakeChatClient (keeps lines containing 'select') — the reference's
    kitchen-filter example shape (reference examples/product-ratings/
    prompt.txt:1) on driver data. Rows-only golden."""
    from mapreduce_llm_spark.operators.llm_map import FakeChatClient
    from mapreduce_llm_spark.operators.pipeline import map_reduce_llm

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = map_reduce_llm(
        d, "keep lines about select", FakeChatClient("select"), max_tokens_per_chunk=64
    )
    return out.orderBy("doc_id")


@query("q_mm_features")
def q_mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing as a declared operator: derive a
    deterministic media corpus from documents ids — even ids encoded
    as REAL PNG files (stdlib codec, lossless), odd ids as REAL
    baseline JPEG (operators/jpeg.py, DCT/entropy) — decode each
    through its genuine format stack, and extract per-media feature
    vectors (operators/multimodal.py). Rows-only: the binary
    payload/codec path isn't SQL-expressible."""
    from mapreduce_llm_spark.operators.multimodal import (
        extract_features,
        synthesize_media,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    even = d.filter(F.col("doc_id") % 2 == 0)
    odd = d.filter(F.col("doc_id") % 2 == 1)
    media = synthesize_media(even, codec="png").unionByName(
        synthesize_media(odd, codec="jpeg")
    )
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        "mean_intensity",
        F.round(F.element_at("features", 1), 6).alias("feat_0"),
        F.round(F.element_at("features", 16), 6).alias("feat_15"),
    ).orderBy("media_id")


@query(
    "q_cost_estimate",
    oracle=f"""
    WITH tok AS (
        SELECT CAST(sum({_DUCK_TOKENS.format(col='text')}) AS BIGINT)
            AS total_tokens FROM documents
    )
    SELECT model, total_tokens,
           round(total_tokens * cost_per_1m / 1000000.0, 6) AS est_cost_usd
    FROM tok, (VALUES ('gpt-5-nano', 0.05), ('gpt-5-mini', 0.25),
                      ('gpt-5', 1.25), ('gpt-5.1', 1.25)) AS m(model, cost_per_1m)
    ORDER BY model
    """,
)
def q_cost_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost pre-flight (reference internal/cli/estimation.go:27-44):
    corpus token total × the 4-model cost table."""
    from mapreduce_llm_spark.functions.tokens import MODEL_COSTS_PER_1M_INPUT_TOKENS

    d = load_table(spark, sf_dir, "documents")
    totals = d.agg(F.sum(token_count_col(F.col("text"))).alias("total_tokens"))
    costs = spark.createDataFrame(
        sorted(MODEL_COSTS_PER_1M_INPUT_TOKENS.items()),
        "model string, cost_per_1m double",
    )
    return (
        totals.crossJoin(costs)
        .select(
            "model",
            "total_tokens",
            F.round(F.col("total_tokens") * F.col("cost_per_1m") / 1_000_000.0, 6).alias(
                "est_cost_usd"
            ),
        )
        .orderBy("model")
    )


@query("q_sim_ivf")
def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10: k-means coarse cells, probe the 4 nearest of 16
    (rows-only: probing a subset trades recall for a 4/16 scan; with
    n_probe = n_cells it is exactly q_sim_search — pinned by test)."""
    from mapreduce_llm_spark.operators.similarity import ann_topk_ivf

    e = load_table(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return ann_topk_ivf(e, list(qvec), k=10, n_cells=16, n_probe=4, seed=42)


@query("q_pipeline_curate")
def q_pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline (operators/curation.py): quality +
    language filter → exact dedup → token-bounded chunking, as one
    composed flow over documents (rows-only: the tokenizer and chunk
    boundaries have no SQL twin; stage-level invariants are pinned in
    tests/test_curation.py)."""
    from mapreduce_llm_spark.operators.curation import curate_corpus

    d = load_table(spark, sf_dir, "documents")
    return curate_corpus(
        d, min_quality=0.3, min_words=5, max_tokens_per_chunk=256
    ).orderBy("doc_id", "chunk_id")


@query("q_mm_frames")
def q_mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize + frame-sampling chain: synthesize REAL PNG
    media, nearest-neighbor resize to 8×8 (decode → resize → re-encode
    PNG, operators/multimodal.py), split each payload into 4 frames
    with per-frame stats (the 1→N video-pipeline shape). Rows-only —
    binary payloads have no SQL twin; determinism comes from the
    deterministic synthesis and lossless codec."""
    from mapreduce_llm_spark.operators.multimodal import (
        resize_media,
        sample_frames,
        synthesize_media,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 200
    )
    media = resize_media(synthesize_media(d, codec="png"), out_w=8, out_h=8)
    return sample_frames(media, n_frames=4).orderBy("media_id", "frame_ix")


@query(
    "q_text_tfidf",
    oracle="""
    WITH words AS (
        SELECT doc_id, w AS word
        FROM (
            SELECT doc_id,
                   unnest(list_filter(string_split(trim(lower(text)), ' '),
                                      x -> x <> '')) AS w
            FROM documents
        )
    ), tf AS (
        SELECT doc_id, word, count(*) AS n
        FROM words GROUP BY doc_id, word
    ), df AS (
        SELECT word, count(DISTINCT doc_id) AS docs_with
        FROM words GROUP BY word
    ), total AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.word,
           round(tf.n * ln(CAST(total.n_docs AS DOUBLE) / df.docs_with), 4)
               AS tfidf
    FROM tf JOIN df ON tf.word = df.word CROSS JOIN total
    WHERE df.docs_with >= 3 AND tf.n >= 2
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF scores per (document, word) — the classic text-feature
    pipeline as three aggregations: term counts (shuffle on (doc,
    word)), document frequency (shuffle on word), and a broadcast
    scalar corpus size. The df side joins back broadcast when it fits;
    thresholds (df≥3, tf≥2) bound output like a real feature extractor.
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.trim(F.lower("text")), " "), lambda w: w != "")
        ).alias("word"),
    )
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("n"))
    df_ = words.groupBy("word").agg(F.countDistinct("doc_id").alias("docs_with"))
    total = F.broadcast(d.select(F.countDistinct("doc_id").alias("n_docs")))
    return (
        tf.join(df_, "word")
        .crossJoin(total)
        .filter((F.col("docs_with") >= 3) & (F.col("n") >= 2))
        .select(
            "doc_id",
            "word",
            F.round(
                F.col("n")
                * F.log(F.col("n_docs").cast("double") / F.col("docs_with")),
                4,
            ).alias("tfidf"),
        )
    )


@query("q_mm_audio")
def q_mm_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio multimodal shape: deterministic synthetic waveforms
    encoded as REAL PCM WAV files (stdlib codec) → RIFF parse →
    per-clip RMS/peak/zero-crossing features (rows-only — binary
    payloads have no SQL twin; determinism comes from the seeded
    synthesis)."""
    from mapreduce_llm_spark.operators.multimodal import (
        audio_features,
        synthesize_audio,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 200
    )
    return audio_features(synthesize_audio(d, codec="wav")).orderBy("media_id")
