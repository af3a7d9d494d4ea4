"""Round-8 registered surface — 47 oracle-backed analytics queries,
hash-proven through the driver-gate harness at sf0.01 AND sf0.1
before registration.

Determinism discipline: identical to analytics_r7/r7b/r7c — exact
integer/cents/e4-floor arithmetic everywhere, round(,4) only on
ln/sqrt-class outputs, md5-40 arithmetic for every cross-engine hash.

Plan-lint status (pre-flighted at sf0.001 before the flip): no
cartesian products, no Python crossings; the BroadcastNestedLoopJoin
hits are all allowlisted broadcast scalar/grid legs (NLJ_OK in
tests/test_plan_lint.py) — q_bigram_perplexity / q_bm25_search /
q_retrieval_eval (1-row N/avgdl corpus scalars), q_cuped_adjust
(1-row pooled-theta leg), q_erasure_cascade (1-row totals leg),
q_topk_overlap / q_kanonymity (3-row k-grid crosses),
q_histogram_error (1-row min/max/n bounds leg). The three q_stream_*
entries execute eagerly (memory/parquet sink) like the other
registered streaming queries.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from mapreduce_llm_spark.io import load_table
from mapreduce_llm_spark.queries.common import md5_40
from mapreduce_llm_spark.registry import query

QueryFn = Callable[[SparkSession, str], DataFrame]


@query(
    "q_stratified_kfold",
    oracle="""
    WITH f AS (
        SELECT CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10)
                         AS BIGINT) % 5 AS INT) AS fold,
               lang
        FROM documents
    ),
    c AS (SELECT fold, lang, count(*) AS n_docs FROM f GROUP BY fold, lang)
    SELECT fold, lang,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_docs * 10000 //
                sum(n_docs) OVER (PARTITION BY lang) AS BIGINT)
               AS share_of_lang_e4
    FROM c
    ORDER BY fold, lang
    """,
)
def q_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment with a
    stratification audit: fold = md5_40(doc_id) % 5 (no RNG — the
    q_shuffle_shards reproducibility contract), and the output is the
    fold × language balance sheet (each cell's basis-point share of
    its language) a training pipeline checks before trusting CV
    estimates. One keyed aggregate collapses the corpus to
    |folds × langs| cells; the share window runs on those cells."""
    f = load_table(spark, sf_dir, "documents").select(
        (md5_40(F.col("doc_id").cast("string")) % 5).cast("int").alias("fold"),
        "lang",
    )
    c = f.groupBy("fold", "lang").agg(F.count("*").alias("n_docs"))
    return c.select(
        "fold",
        "lang",
        "n_docs",
        F.expr(
            "CAST(n_docs * 10000 div sum(n_docs)"
            " OVER (PARTITION BY lang) AS BIGINT)"
        ).alias("share_of_lang_e4"),
    ).orderBy("fold", "lang")


@query(
    "q_quantile_normalize",
    oracle="""
    WITH r AS (
        SELECT doc_id, lang, n_chars,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY n_chars, doc_id) AS rk,
               count(*) OVER (PARTITION BY lang) AS n
        FROM documents
    )
    SELECT doc_id, lang,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(CASE WHEN n > 1 THEN (rk - 1) * 10000 // (n - 1)
                     ELSE 0 END AS BIGINT) AS qrank_e4,
           CAST(least((rk - 1) * 10 // n, 9) AS INT) AS decile
    FROM r
    WHERE doc_id % 10 = 0
    ORDER BY doc_id
    """,
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-rank normalization of document length within language —
    the rank-based feature transform (exact integer e4 quantile rank
    plus decile bucket) that replaces q_minmax_scale's range scaling
    when the distribution is heavy-tailed. Language is the textbook
    LOW-cardinality/HUGE-partition key (5 values), so the rank comes
    from operators/ranking.partitioned_row_number — range partition
    with the key prepended, local rank, per-key broadcast offset
    prefix-sum — never a 5-task keyed window over the whole corpus.
    The per-key totals join is |langs|-sized and broadcasts. Output is
    decimated (doc_id % 10) to keep the emitted sample bounded; ranks
    are computed over the FULL corpus."""
    from mapreduce_llm_spark.operators.ranking import partitioned_row_number

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    ranked = partitioned_row_number(
        d, ["lang"], [F.col("n_chars"), F.col("doc_id")], alias="rk"
    )
    # round-14 audit: totals stay on the direct documents scan — it
    # prunes to the lang column and beats a second full-row pass over
    # the ranking checkpoint (the derive-from-output rewrite measured
    # 1.45x in the round's full map and was reverted; the rewrite only
    # pays when the recomputed subtree holds a join/window/explode)
    totals = d.groupBy("lang").agg(F.count("*").alias("n"))
    return (
        ranked.join(F.broadcast(totals), "lang")
        .where(F.col("doc_id") % 10 == 0)
        .select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.expr(
                "CAST(CASE WHEN n > 1 THEN (rk - 1) * 10000 div (n - 1)"
                " ELSE 0 END AS BIGINT)"
            ).alias("qrank_e4"),
            F.expr("CAST(least((rk - 1) * 10 div n, 9) AS INT)").alias(
                "decile"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "q_source_overlap",
    oracle="""
    WITH fp AS (
        SELECT DISTINCT source,
               CAST('0x' || substr(md5(array_to_string(
                   list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                               w -> w <> ''), ' ')), 1, 10) AS BIGINT) AS fp
        FROM documents
    ),
    tot AS (SELECT source, count(*) AS n FROM fp GROUP BY source),
    pair AS (
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS n_shared
        FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT ta.source AS source_a, tb.source AS source_b,
           CAST(coalesce(p.n_shared, 0) AS BIGINT) AS n_shared,
           CAST(ta.n AS BIGINT) AS n_a,
           CAST(tb.n AS BIGINT) AS n_b,
           CAST(coalesce(p.n_shared, 0) * 10000 // least(ta.n, tb.n)
                AS BIGINT) AS overlap_e4
    FROM tot ta
    JOIN tot tb ON ta.source < tb.source
    LEFT JOIN pair p
      ON p.source_a = ta.source AND p.source_b = tb.source
    ORDER BY source_a, source_b
    """,
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: documents collapse to a 40-bit
    md5 fingerprint of their normalized word sequence, and every
    source pair sharing at least one fingerprint reports its shared
    count and overlap coefficient (shared / smaller side, e4) — with
    EVERY source pair present (zero-filled grid off the tiny per-source
    totals, so 'no contamination' is an asserted 0, not a missing row,
    and the gate is non-trivial at every scale) — the
    contamination matrix a corpus curator reads before mixing crawl
    snapshots (q_decontaminate answers train-vs-test; this maps
    source-vs-source). The pair join is blocked on the fingerprint
    key — sources never pair except through a shared hash, the
    inverted-index discipline of q_doc_knn."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.lower("text"), "[^a-z]+"), lambda w: w != F.lit("")
    )
    fp = docs.select(
        "source", md5_40(F.array_join(words, " ")).alias("fp")
    ).distinct()
    tot = fp.groupBy("source").agg(F.count("*").alias("n"))
    a = fp.select(F.col("source").alias("source_a"), "fp")
    b = fp.select(F.col("source").alias("source_b"), "fp")
    pair = (
        a.join(b, "fp")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared"))
    )
    ta = tot.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    tb = tot.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    grid = ta.join(tb, F.col("source_a") < F.col("source_b"))
    return (
        grid.join(F.broadcast(pair), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.coalesce(F.col("n_shared"), F.lit(0))
            .cast("long")
            .alias("n_shared"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.expr(
                "CAST(coalesce(n_shared, 0) * 10000 div least(n_a, n_b)"
                " AS BIGINT)"
            ).alias("overlap_e4"),
        )
        .orderBy("source_a", "source_b")
    )


@query(
    "q_ks_test",
    oracle="""
    WITH v AS (
        SELECT event_type,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 10)
                    AS BIGINT) % 2 AS variant,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
        FROM events
    ),
    c AS (
        SELECT event_type, vc,
               sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS ca,
               sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS cb
        FROM v GROUP BY event_type, vc
    ),
    cum AS (
        SELECT event_type,
               sum(ca) OVER (PARTITION BY event_type ORDER BY vc
                             ROWS UNBOUNDED PRECEDING) AS fa,
               sum(cb) OVER (PARTITION BY event_type ORDER BY vc
                             ROWS UNBOUNDED PRECEDING) AS fb,
               sum(ca) OVER (PARTITION BY event_type) AS na,
               sum(cb) OVER (PARTITION BY event_type) AS nb
        FROM c
    )
    SELECT event_type,
           CAST(max(na) AS BIGINT) AS n_a,
           CAST(max(nb) AS BIGINT) AS n_b,
           CAST(max(abs(fa * nb - fb * na)) AS BIGINT) AS d_num,
           CAST(max(abs(fa * nb - fb * na)) * 10000
                // (max(na) * max(nb)) AS BIGINT) AS d_e4
    FROM cum
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic per event type between
    the same md5-assigned variants as q_ab_welch (Welch reads the mean
    shift; KS reads the whole distribution) — EXACT integer
    arithmetic throughout: D = max |F_a − F_b| is evaluated as
    max |cum_a·n_b − cum_b·n_a| over the e2-quantized value grid, an
    integer cross-multiplication that never touches a float until the
    final e4 emission. One keyed aggregate collapses events to
    |type × distinct value| cells; the ECDF windows are keyed by
    type and run post-aggregation."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (md5_40(F.col("user_id").cast("string")) % 2).alias("variant"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("vc"),
    )
    c = ev.groupBy("event_type", "vc").agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("cb"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("vc")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    cum = c.select(
        "event_type",
        F.sum("ca").over(wcum).alias("fa"),
        F.sum("cb").over(wcum).alias("fb"),
        F.sum("ca").over(wall).alias("na"),
        F.sum("cb").over(wall).alias("nb"),
    )
    return (
        cum.groupBy("event_type")
        .agg(
            F.max("na").alias("n_a"),
            F.max("nb").alias("n_b"),
            F.max(F.abs(F.col("fa") * F.col("nb") - F.col("fb") * F.col("na"))
                  ).alias("d_num"),
        )
        .select(
            "event_type",
            "n_a",
            "n_b",
            "d_num",
            F.expr("CAST(d_num * 10000 div (n_a * n_b) AS BIGINT)").alias(
                "d_e4"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "q_jsd_sources",
    oracle="""
    WITH toks AS (
        SELECT source, w FROM (
            SELECT source,
                   unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
            FROM documents
        ) WHERE w <> ''
    ),
    c AS (SELECT source, w, count(*) AS c FROM toks GROUP BY source, w),
    tot AS (SELECT source, sum(c) AS n FROM c GROUP BY source),
    pair AS (
        SELECT a.source AS source_a, b.source AS source_b, a.w,
               CAST(a.c AS DOUBLE) / ta.n AS p,
               CAST(b.c AS DOUBLE) / tb.n AS q
        FROM c a
        JOIN c b ON a.w = b.w AND a.source < b.source
        JOIN tot ta ON ta.source = a.source
        JOIN tot tb ON tb.source = b.source
    )
    SELECT source_a, source_b,
           round(sum(0.5 * p * ln(p / ((p + q) * 0.5))
                     + 0.5 * q * ln(q / ((p + q) * 0.5))), 4) + 0.0
               AS jsd_r4
    FROM pair
    GROUP BY source_a, source_b
    ORDER BY source_a, source_b
    """,
)
def q_jsd_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between every source pair's word
    distribution — the symmetric, bounded drift metric that upgrades
    q_dist_drift's PSI when comparing crawl snapshots pairwise. Word
    counts collapse to |sources × vocab| cells first; the pair join
    is blocked on the word key (sources only meet through shared
    vocabulary — with a closed vocab every pair meets, but the join
    volume is |vocab|·|pairs|, never |docs|²). The JSD sum is the
    ln-class round(,4) emission with the −0.0 guard.

    NOTE on the word-blocked join: JSD's missing-word terms
    (p>0, q=0) contribute p·ln2/2 — with this corpus's closed 31-word
    vocabulary every source emits every word (asserted by the staging
    test via the hash itself), so the inner join is exact. The
    round-8 flip should keep the inner join and this note: on an open
    vocabulary the query must switch to a full-outer word frame."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(
                F.filter(
                    F.split(F.lower("text"), "[^a-z]+"),
                    lambda w: w != F.lit(""),
                )
            ).alias("w"),
        )
    )
    c = toks.groupBy("source", "w").agg(F.count("*").alias("c"))
    tot = c.groupBy("source").agg(F.sum("c").alias("n"))
    a = c.select(F.col("source").alias("source_a"), "w", F.col("c").alias("c_a"))
    b = c.select(F.col("source").alias("source_b"), "w", F.col("c").alias("c_b"))
    ta = tot.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    tb = tot.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    pair = (
        a.join(b, "w")
        .where(F.col("source_a") < F.col("source_b"))
        .join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.expr("CAST(c_a AS DOUBLE) / n_a").alias("p"),
            F.expr("CAST(c_b AS DOUBLE) / n_b").alias("q"),
        )
    )
    return (
        pair.groupBy("source_a", "source_b")
        .agg(
            F.expr(
                "round(sum(0.5D * p * ln(p / ((p + q) * 0.5D))"
                "          + 0.5D * q * ln(q / ((p + q) * 0.5D))), 4)"
            ).alias("jsd_r4")
        )
        .orderBy("source_a", "source_b")
    )


@query(
    "q_bigram_perplexity",
    oracle="""
    WITH ws AS (
        SELECT doc_id, source,
               list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                           w -> w <> '') AS ws
        FROM documents
    ),
    bg AS (
        SELECT doc_id, source, ws[i] AS w1, ws[i + 1] AS w2
        FROM ws, unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS t(i)
    ),
    train AS (SELECT w1, w2 FROM bg WHERE doc_id % 2 = 0),
    bcnt AS (SELECT w1, w2, count(*) AS bc FROM train GROUP BY w1, w2),
    ucnt AS (SELECT w1, count(*) AS uc FROM train GROUP BY w1),
    vocab AS (
        SELECT count(DISTINCT w) AS v FROM (
            SELECT w1 AS w FROM train UNION ALL SELECT w2 FROM train
        )
    ),
    test AS (
        SELECT b.source,
               ln((coalesce(bc, 0) + 1.0)
                  / (coalesce(uc, 0) + v)) AS logp
        FROM bg b
        LEFT JOIN bcnt ON bcnt.w1 = b.w1 AND bcnt.w2 = b.w2
        LEFT JOIN ucnt ON ucnt.w1 = b.w1
        CROSS JOIN vocab
        WHERE b.doc_id % 2 = 1
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(-sum(logp) / count(*), 4) + 0.0 AS mean_nll_r4
    FROM test
    GROUP BY source
    ORDER BY source
    """,
)
def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-1-smoothed bigram language model trained on the even-doc_id
    half of the corpus and evaluated on the odd half, reporting
    per-source mean negative log-likelihood — the LM-based quality
    score (the deterministic stand-in for "perplexity under a
    reference model") a data pipeline uses to rank sources, and the
    text twin of q_markov_loglik's event-transition scoring. Bigrams
    explode in-task; the model tables collapse to |vocab|² / |vocab|
    cells and broadcast onto the test stream; V is a 1-row broadcast
    leg. The NLL mean is the ln-class round(,4) emission."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.lower("text"), "[^a-z]+"), lambda w: w != F.lit("")
    )
    bg = docs.select(
        "doc_id",
        "source",
        words.alias("ws"),
    ).select(
        "doc_id",
        "source",
        F.explode(
            F.when(
                F.size("ws") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 1),
                    lambda i: F.struct(
                        F.element_at("ws", i).alias("w1"),
                        F.element_at("ws", i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<w1:string,w2:string>>")
            )
        ).alias("b"),
    ).select("doc_id", "source", "b.w1", "b.w2")
    train = bg.where(F.col("doc_id") % 2 == 0).select("w1", "w2")
    bcnt = train.groupBy("w1", "w2").agg(F.count("*").alias("bc"))
    ucnt = train.groupBy("w1").agg(F.count("*").alias("uc"))
    vocab = (
        train.select(F.col("w1").alias("w"))
        .unionAll(train.select(F.col("w2").alias("w")))
        .agg(F.count_distinct("w").alias("v"))
    )
    test = (
        bg.where(F.col("doc_id") % 2 == 1)
        # vocab-keyed count legs grow with the corpus (Heaps' law) -
        # AQE-decided (broadcast_lint)
        .join(bcnt, ["w1", "w2"], "left")
        .join(ucnt, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "source",
            F.expr(
                "ln((coalesce(bc, 0) + 1.0D) / (coalesce(uc, 0) + v))"
            ).alias("logp"),
        )
    )
    return (
        test.groupBy("source")
        .agg(
            F.count("*").alias("n_pairs"),
            F.expr("round(-sum(logp) / count(*), 4)").alias("mean_nll_r4"),
        )
        .orderBy("source")
    )


@query(
    "q_bm25_search",
    oracle="""
    WITH ws AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                           w -> w <> '') AS ws
        FROM documents
    ),
    dl AS (SELECT doc_id, len(ws) AS dl FROM ws),
    toks AS (
        SELECT doc_id, unnest(ws) AS w FROM ws
    ),
    tf AS (
        SELECT doc_id, w, count(*) AS tf FROM toks
        WHERE w IN ('dup', 'spark', 'merge')
        GROUP BY doc_id, w
    ),
    stats AS (
        SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        FROM dl
    ),
    df AS (
        SELECT w, count(DISTINCT doc_id) AS df FROM tf GROUP BY w
    ),
    scored AS (
        SELECT tf.doc_id,
               sum(ln((n - df + 0.5) / (df + 0.5) + 1.0)
                   * (tf * 2.2)
                   / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))) AS score
        FROM tf
        JOIN df USING (w)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats
        GROUP BY tf.doc_id
    )
    SELECT doc_id, round(score, 4) + 0.0 AS score_r4
    FROM scored
    ORDER BY round(score, 4) DESC, doc_id
    LIMIT 10
    """,
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 BM25 retrieval (k1 = 1.2, b = 0.75, the +1 idf variant)
    for the fixed query {dup, spark, merge} — the ranked-search
    composition over q_text_bm25's corpus statistics (that query
    audits the stats; this one answers a query with them). Term
    postings are filtered BEFORE any shuffle (3 terms), the df/corpus
    stats are tiny broadcast legs, and the final top-10 is
    TakeOrdered on the rounded score with doc_id tie-break (the house
    ties rule). Scoring chain is token-identical ln/rational double
    arithmetic under round(,4)."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.lower("text"), "[^a-z]+"), lambda w: w != F.lit("")
    )
    ws = docs.select("doc_id", words.alias("ws"))
    dl = ws.select("doc_id", F.size("ws").alias("dl"))
    toks = ws.select("doc_id", F.explode("ws").alias("w"))
    tf = (
        toks.where(F.col("w").isin("dup", "spark", "merge"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    stats = dl.agg(
        F.count("*").alias("n"),
        F.expr("CAST(sum(dl) AS DOUBLE) / count(*)").alias("avgdl"),
    )
    dfreq = tf.groupBy("w").agg(F.count_distinct("doc_id").alias("df"))
    scored = (
        # per-term document frequencies are a vocab leg - AQE-decided
        tf.join(dfreq, "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.expr(
                "sum(ln((n - df + 0.5) / (df + 0.5) + 1.0D)"
                "    * (tf * 2.2D)"
                "    / (tf + 1.2D * (0.25D + 0.75D * dl / avgdl)))"
            ).alias("score")
        )
    )
    return (
        scored.select("doc_id", F.expr("round(score, 4)").alias("score_r4"))
        .orderBy(F.col("score_r4").desc(), "doc_id")
        .limit(10)
    )


@query(
    "q_graph_linkpred",
    oracle="""
    WITH cp AS (
        SELECT DISTINCT o_custkey AS ck, l_partkey AS pk, l_suppkey AS sk
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    grp AS (
        SELECT pk, sk, count(*) AS c FROM cp GROUP BY pk, sk
    ),
    e AS (
        SELECT DISTINCT least(a.ck, b.ck) AS u, greatest(a.ck, b.ck) AS v
        FROM cp a
        JOIN cp b ON a.pk = b.pk AND a.sk = b.sk AND a.ck < b.ck
        JOIN grp g ON g.pk = a.pk AND g.sk = a.sk
        WHERE g.c <= 8
    ),
    adj AS (
        SELECT u AS x, v AS y FROM e UNION ALL SELECT v, u FROM e
    ),
    deg AS (SELECT x, count(*) AS d FROM adj GROUP BY x),
    cand AS (
        SELECT a.x AS u, b.y AS v, count(*) AS common
        FROM adj a JOIN adj b ON a.y = b.x AND a.x < b.y
        GROUP BY a.x, b.y
    ),
    new_pairs AS (
        SELECT c.* FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM e
                          WHERE e.u = c.u AND e.v = c.v)
    )
    SELECT u, v,
           CAST(common AS BIGINT) AS common,
           CAST(common * 10000 // (du.d + dv.d - common) AS BIGINT)
               AS jaccard_e4
    FROM new_pairs
    JOIN deg du ON du.x = u
    JOIN deg dv ON dv.x = v
    ORDER BY jaccard_e4 DESC, u, v
    LIMIT 20
    """,
)
def q_graph_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction on the customer co-purchase
    graph (customers joined when they bought the same part from the
    same supplier, pair expansion capped at 8 customers per
    part-supplier combo — the q_basket_pairs quadratic cap): for every
    2-hop-connected NON-edge, the common-neighbor count and neighbor
    Jaccard, top-20 — the "customers also like" / entity-resolution
    candidate generator. Candidates come only from the adjacency
    self-join through the shared middle node (volume Σ deg(m)², the
    graph-native blocking); existing edges leave via an anti-join;
    Jaccard is exact integer e4."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    cp = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("ck"),
            F.col("l_partkey").alias("pk"),
            F.col("l_suppkey").alias("sk"),
        )
        .distinct()
    )
    grp = cp.groupBy("pk", "sk").agg(F.count("*").alias("c"))
    capped = cp.join(
        grp.where(F.col("c") <= 8).select("pk", "sk"), ["pk", "sk"]
    )
    a = capped.select("pk", "sk", F.col("ck").alias("ck_a"))
    b = capped.select(
        F.col("pk").alias("pk2"), F.col("sk").alias("sk2"),
        F.col("ck").alias("ck_b"),
    )
    e = (
        a.join(
            b,
            (F.col("pk") == F.col("pk2"))
            & (F.col("sk") == F.col("sk2"))
            & (F.col("ck_a") < F.col("ck_b")),
        )
        .select(
            F.least("ck_a", "ck_b").alias("u"),
            F.greatest("ck_a", "ck_b").alias("v"),
        )
        .distinct()
    )
    adj = e.select(F.col("u").alias("x"), F.col("v").alias("y")).unionAll(
        e.select(F.col("v").alias("x"), F.col("u").alias("y"))
    )
    deg = adj.groupBy("x").agg(F.count("*").alias("d"))
    l = adj.select(F.col("x").alias("u"), F.col("y").alias("m"))
    r = adj.select(F.col("x").alias("m"), F.col("y").alias("v"))
    cand = (
        l.join(r, "m")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("common"))
    )
    new_pairs = cand.join(e, ["u", "v"], "left_anti")
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    return (
        new_pairs.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common",
            F.expr("CAST(common * 10000 div (du + dv - common) AS BIGINT)"
                   ).alias("jaccard_e4"),
        )
        .orderBy(F.col("jaccard_e4").desc(), "u", "v")
        .limit(20)
    )


@query(
    "q_rolling_ols",
    oracle="""
    WITH m AS (
        SELECT p_brand,
               (year(l_shipdate) - 1995) * 12 + month(l_shipdate) - 1 AS m,
               sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                   AS rev
        FROM lineitem JOIN part ON p_partkey = l_partkey
        GROUP BY p_brand, m
    ),
    w AS (
        SELECT p_brand, m,
               count(*) OVER win AS n,
               sum(m) OVER win AS sx,
               sum(rev) OVER win AS sy,
               sum(m * rev) OVER win AS sxy,
               sum(m * m) OVER win AS sxx
        FROM m
        WINDOW win AS (PARTITION BY p_brand ORDER BY m
                       ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
    )
    SELECT p_brand, CAST(m AS BIGINT) AS m,
           CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE) * 10000
                      / (n * sxx - sx * sx)) AS BIGINT) AS slope_e4
    FROM w
    WHERE n = 6
    ORDER BY p_brand, m
    """,
)
def q_rolling_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 6-month OLS slope of brand revenue against time — the
    trend detector a demand pipeline computes per series (the moving
    upgrade of q_corr_regr's static fit). The fact scan collapses to
    |brands × months| cells in one keyed aggregate; the rolling
    moment sums (n, Σx, Σy, Σxy, Σx²) are EXACT integers in a
    brand-keyed window, and the slope is a single floor(double·1e4)
    of the closed-form ratio — exempt from integer-div sign rules
    (Spark div truncates, DuckDB // floors, so a possibly-negative
    numerator must go through the double floor, not integer
    division). Windows shorter than 6 observed months are dropped."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_shipdate"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    m = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .select(
            "p_brand",
            (
                (F.year("l_shipdate") - 1995) * 12 + F.month("l_shipdate") - 1
            ).alias("m"),
            F.floor(F.col("l_extendedprice") * 100 + 0.5)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("p_brand", "m")
        .agg(F.sum("cents").alias("rev"))
    )
    win = (
        Window.partitionBy("p_brand").orderBy("m").rowsBetween(-5, 0)
    )
    w = m.select(
        "p_brand",
        "m",
        F.count("*").over(win).alias("n"),
        F.sum("m").over(win).alias("sx"),
        F.sum("rev").over(win).alias("sy"),
        F.sum(F.col("m") * F.col("rev")).over(win).alias("sxy"),
        F.sum(F.col("m") * F.col("m")).over(win).alias("sxx"),
    )
    return (
        w.where(F.col("n") == 6)
        .select(
            "p_brand",
            F.col("m").cast("long").alias("m"),
            F.expr(
                "CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE) * 10000"
                " / (n * sxx - sx * sx)) AS BIGINT)"
            ).alias("slope_e4"),
        )
        .orderBy("p_brand", "m")
    )


@query(
    "q_silhouette_lite",
    oracle="""
    WITH q AS (
        SELECT vec_id, label, i,
               CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000)
                    AS BIGINT) AS qi
        FROM embeddings, unnest(generate_series(0, 63)) AS t(i)
    ),
    cs AS (
        SELECT label, i, CAST(sum(qi) AS BIGINT) AS s
        FROM q GROUP BY label, i
    ),
    cn AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
    css AS (
        SELECT label, CAST(sum(s * s) AS BIGINT) AS ss2
        FROM cs GROUP BY label
    ),
    px AS (
        SELECT vec_id, CAST(sum(qi * qi) AS BIGINT) AS px2
        FROM q GROUP BY vec_id
    ),
    xs AS (
        SELECT q.vec_id, cs.label AS olabel,
               CAST(sum(q.qi * cs.s) AS BIGINT) AS xs
        FROM q JOIN cs ON q.i = cs.i
        GROUP BY q.vec_id, cs.label
    ),
    d2 AS (
        SELECT p.vec_id, e.label AS own, xs.olabel,
               (CAST(cn.n AS DOUBLE) * cn.n * px.px2
                - 2.0 * cn.n * xs.xs + css.ss2)
               / (CAST(cn.n AS DOUBLE) * cn.n) AS d2
        FROM xs
        JOIN embeddings e ON e.vec_id = xs.vec_id
        JOIN px ON px.vec_id = xs.vec_id
        JOIN cn ON cn.label = xs.olabel
        JOIN css ON css.label = xs.olabel
        JOIN embeddings p ON p.vec_id = xs.vec_id
    ),
    ab AS (
        SELECT vec_id, own,
               max(CASE WHEN olabel = own THEN d2 END) AS a2,
               min(CASE WHEN olabel <> own THEN d2 END) AS b2
        FROM d2 GROUP BY vec_id, own
    )
    SELECT own AS label,
           CAST(count(*) AS BIGINT) AS n_points,
           round(avg((sqrt(b2) - sqrt(a2))
                     / nullif(greatest(sqrt(a2), sqrt(b2)), 0.0)), 4) + 0.0
               AS mean_silhouette_r4
    FROM ab
    GROUP BY own
    ORDER BY label
    """,
)
def q_silhouette_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based silhouette score per cluster label over the
    embedding table — the clustering-quality readout
    (s = (b−a)/max(a,b) with a = distance to own centroid, b =
    distance to nearest other centroid), the QA companion to
    q_embed_centroids. Exact integer core via the q_pca_power
    discipline: components quantize to e3 integers BEFORE any
    accumulation, so centroid sums S, point norms Σx², and
    cross-products x·S are exact int64 and the squared distance
    appears as the integer identity ‖x − S/n‖² = (n²Σx² − 2n·x·S +
    ‖S‖²)/n² — the only floats are the final identical-chain
    divisions and sqrt under round(,4). Scale: the per-point work is
    a join against the |labels × dims| broadcast centroid frame
    (never point-vs-point), one keyed aggregate per leg."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    q = e.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("i", "x"),
    ).select(
        "vec_id",
        "label",
        "i",
        F.floor(F.col("x").cast("double") * 1000).cast("long").alias("qi"),
    )
    cs = q.groupBy(F.col("label").alias("clabel"), "i").agg(
        F.sum("qi").alias("s")
    )
    cn = e.groupBy(F.col("label").alias("clabel")).agg(
        F.count("*").alias("n")
    )
    css = cs.groupBy("clabel").agg(
        F.sum(F.col("s") * F.col("s")).alias("ss2")
    )
    px = q.groupBy("vec_id").agg(
        F.sum(F.col("qi") * F.col("qi")).alias("px2")
    )
    xs = (
        q.join(F.broadcast(cs), "i")
        .groupBy("vec_id", "clabel")
        .agg(F.sum(F.col("qi") * F.col("s")).alias("xs"))
    )
    own = e.select("vec_id", F.col("label").alias("own"))
    d2 = (
        xs.join(own, "vec_id")
        .join(px, "vec_id")
        .join(F.broadcast(cn), "clabel")
        .join(F.broadcast(css), "clabel")
        .select(
            "vec_id",
            "own",
            F.col("clabel").alias("olabel"),
            F.expr(
                "(CAST(n AS DOUBLE) * n * px2 - 2.0D * n * xs + ss2)"
                " / (CAST(n AS DOUBLE) * n)"
            ).alias("d2"),
        )
    )
    ab = d2.groupBy("vec_id", "own").agg(
        F.max(F.when(F.col("olabel") == F.col("own"), F.col("d2"))).alias("a2"),
        F.min(F.when(F.col("olabel") != F.col("own"), F.col("d2"))).alias("b2"),
    )
    return (
        ab.groupBy(F.col("own").alias("label"))
        .agg(
            F.count("*").alias("n_points"),
            F.expr(
                "round(avg((sqrt(b2) - sqrt(a2))"
                " / nullif(greatest(sqrt(a2), sqrt(b2)), 0.0D)), 4)"
            ).alias("mean_silhouette_r4"),
        )
        .orderBy("label")
    )


@query(
    "q_auc_mannwhitney",
    oracle="""
    WITH cell AS (
        SELECT l_linestatus AS ls,
               CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS dc,
               count(*) AS n,
               sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS pos
        FROM lineitem GROUP BY ls, dc
    ),
    rk AS (
        SELECT ls, dc, n, pos,
               coalesce(sum(n) OVER (PARTITION BY ls ORDER BY dc
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS cum_before,
               sum(n) OVER (PARTITION BY ls) AS nt,
               sum(pos) OVER (PARTITION BY ls) AS np
        FROM cell
    ),
    s AS (
        SELECT ls, max(nt) AS nt, max(np) AS np,
               sum(pos * (2 * cum_before + n + 1)) AS ranksum2
        FROM rk GROUP BY ls
    )
    SELECT ls AS l_linestatus,
           CAST(np AS BIGINT) AS n_pos,
           CAST(nt - np AS BIGINT) AS n_neg,
           CAST(CASE WHEN np > 0 AND np < nt THEN
                (ranksum2 - np * (np + 1)) * 1000000
                // (2 * np * (nt - np)) END AS BIGINT) AS auc_e6
    FROM s
    ORDER BY l_linestatus
    """,
)
def q_auc_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of discount as a predictor of the returned flag,
    per line status, via the Mann–Whitney rank identity with proper
    midrank tie handling — the model-evaluation metric every training
    pipeline reports, computed EXACTLY: the fact scan collapses to
    |status × distinct score| cells, tied blocks get the doubled
    midrank 2·cum_before + n + 1 (stays integer), and
    AUC = (R2 − n⁺(n⁺+1)) / (2·n⁺·n⁻) emits as an e6 integer with no
    float anywhere. ECDF windows are keyed and post-aggregation."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_linestatus").alias("ls"),
        F.floor(F.col("l_discount") * 100 + 0.5).cast("long").alias("dc"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    cell = li.groupBy("ls", "dc").agg(
        F.count("*").alias("n"), F.sum("y").alias("pos")
    )
    wb = (
        Window.partitionBy("ls")
        .orderBy("dc")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wall = Window.partitionBy("ls")
    rk = cell.select(
        "ls",
        "n",
        "pos",
        F.coalesce(F.sum("n").over(wb), F.lit(0)).alias("cum_before"),
        F.sum("n").over(wall).alias("nt"),
        F.sum("pos").over(wall).alias("np"),
    )
    return (
        rk.groupBy("ls")
        .agg(
            F.max("nt").alias("nt"),
            F.max("np").alias("np"),
            F.sum(
                F.col("pos") * (2 * F.col("cum_before") + F.col("n") + 1)
            ).alias("ranksum2"),
        )
        .select(
            F.col("ls").alias("l_linestatus"),
            F.col("np").alias("n_pos"),
            (F.col("nt") - F.col("np")).alias("n_neg"),
            F.expr(
                "CAST(CASE WHEN np > 0 AND np < nt THEN"
                " (ranksum2 - np * (np + 1)) * 1000000"
                " div (2 * np * (nt - np)) END AS BIGINT)"
            ).alias("auc_e6"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "q_calibration_ece",
    oracle="""
    WITH cell AS (
        SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS dc,
               count(*) AS n,
               sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS pos
        FROM lineitem GROUP BY dc
    ),
    b AS (
        SELECT dc, n, pos,
               dc * 1000000 // 20 AS conf_e6,
               pos * 1000000 // n AS acc_e6,
               sum(n) OVER () AS nt
        FROM cell
    )
    SELECT CAST(dc AS BIGINT) AS bin_cents,
           CAST(n AS BIGINT) AS n,
           CAST(pos AS BIGINT) AS pos,
           CAST(conf_e6 AS BIGINT) AS conf_e6,
           CAST(acc_e6 AS BIGINT) AS acc_e6,
           CAST(sum(n * abs(acc_e6 - conf_e6)) OVER () // max(nt) OVER ()
                AS BIGINT) AS ece_e6
    FROM b
    ORDER BY bin_cents
    """,
)
def q_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit of the toy predictor p̂ = discount/0.20
    against the returned flag: per score bin, confidence vs observed
    accuracy, plus the expected calibration error
    ECE = Σ n_b·|acc_b − conf_b| / N — the reliability-diagram data a
    model-QA pipeline emits next to the q_auc_mannwhitney AUC. Exact
    integer e6 arithmetic end-to-end (the abs argument is a
    difference of integer floors); the fact scan collapses to ≤ 21
    bins and all windows run on those bins."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_discount") * 100 + 0.5).cast("long").alias("dc"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    cell = li.groupBy("dc").agg(
        F.count("*").alias("n"), F.sum("y").alias("pos")
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    b = cell.select(
        "dc",
        "n",
        "pos",
        F.expr("dc * 1000000 div 20").alias("conf_e6"),
        F.expr("pos * 1000000 div n").alias("acc_e6"),
        F.sum("n").over(wall).alias("nt"),
    )
    return b.select(
        F.col("dc").alias("bin_cents"),
        "n",
        "pos",
        "conf_e6",
        "acc_e6",
        F.expr(
            "CAST(sum(n * abs(acc_e6 - conf_e6)) OVER "
            "(ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
            " div max(nt) OVER "
            "(ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
            " AS BIGINT)"
        ).alias("ece_e6"),
    ).orderBy("bin_cents")


@query(
    "q_histogram_equidepth",
    oracle="""
    WITH r AS (
        SELECT l_returnflag AS rf,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY floor(l_extendedprice * 100 + 0.5),
                                           l_orderkey, l_linenumber) AS rk,
               count(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
    )
    SELECT rf, CAST((rk - 1) * 8 // n AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(cents) AS BIGINT) AS lo_cents,
           CAST(max(cents) AS BIGINT) AS hi_cents
    FROM r
    GROUP BY rf, bucket
    ORDER BY rf, bucket
    """,
)
def q_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) 8-bucket histogram of line price per
    return flag — the optimizer-statistics / drift-baseline histogram
    q_agg_histogram's fixed-width bins can't give on skewed data.
    Return flag is the LOW-cardinality/HUGE-partition key (3 values),
    so ranks come from operators/ranking.partitioned_row_number and
    the bucket is the exact integer split (rk−1)·8 div n — written
    identically on both sides instead of ntile so the bucket
    definition is one formula, not an engine built-in's convention.
    Per-key totals broadcast; the bucket aggregate is keyed."""
    from mapreduce_llm_spark.operators.ranking import partitioned_row_number

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("rf"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = partitioned_row_number(
        li,
        ["rf"],
        [F.col("cents"), F.col("l_orderkey"), F.col("l_linenumber")],
        alias="rk",
    )
    # round-14 audit: totals stay on the direct lineitem scan (prunes
    # to one column; see q_quantile_normalize for the rule)
    totals = li.groupBy("rf").agg(F.count("*").alias("n"))
    return (
        ranked.join(F.broadcast(totals), "rf")
        .select(
            "rf",
            F.expr("CAST((rk - 1) * 8 div n AS INT)").alias("bucket"),
            "cents",
        )
        .groupBy("rf", "bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
        .orderBy("rf", "bucket")
    )


@query(
    "q_feature_matrix",
    oracle="""
    WITH o AS (
        SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders WHERE o_custkey % 10 = 0
    ),
    r AS (
        SELECT *,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY d DESC, o_orderkey DESC) AS rd
        FROM o
    ),
    agg AS (
        SELECT o_custkey,
               count(*) AS n_orders,
               sum(cents) AS total_cents,
               min(d) AS first_d,
               max(d) AS last_d
        FROM o GROUP BY o_custkey
    ),
    last2 AS (
        SELECT o_custkey,
               max(CASE WHEN rd = 1 THEN cents END) AS last_cents,
               max(CASE WHEN rd = 2 THEN cents END) AS prev_cents,
               max(CASE WHEN rd = 1 THEN d END) AS d1,
               max(CASE WHEN rd = 2 THEN d END) AS d2
        FROM r WHERE rd <= 2 GROUP BY o_custkey
    )
    SELECT a.o_custkey,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(total_cents AS BIGINT) AS total_cents,
           CAST(last_cents AS BIGINT) AS last_cents,
           CAST(prev_cents AS BIGINT) AS prev_cents,
           CAST(date_diff('day', d2, d1) AS BIGINT) AS last_gap_days,
           CAST(date_diff('day', first_d, last_d) * 10000 // (n_orders - 1)
                AS BIGINT) AS mean_gap_e4
    FROM agg a JOIN last2 USING (o_custkey)
    WHERE n_orders >= 4
    ORDER BY o_custkey
    """,
)
def q_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer feature-store row (the training-matrix build step
    of a churn/LTV pipeline): order count, lifetime spend, last and
    previous order values, days between the last two orders, and mean
    inter-order gap — all exact integers from ONE pass over orders:
    a keyed aggregate plus a keyed top-2-by-recency window (rows
    filtered to rd ≤ 2 before the pivot), joined on the customer key.
    The %10 customer sample prunes at the scan (pushed predicate);
    customers with < 4 orders drop after aggregation."""
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_custkey") % 10 == 0)
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("d"),
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("long")
            .alias("cents"),
        )
    )
    agg = o.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.sum("cents").alias("total_cents"),
        F.min("d").alias("first_d"),
        F.max("d").alias("last_d"),
    )
    wd = Window.partitionBy("o_custkey").orderBy(
        F.col("d").desc(), F.col("o_orderkey").desc()
    )
    last2 = (
        o.withColumn("rd", F.row_number().over(wd))
        .where(F.col("rd") <= 2)
        .groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("rd") == 1, F.col("cents"))).alias("last_cents"),
            F.max(F.when(F.col("rd") == 2, F.col("cents"))).alias("prev_cents"),
            F.max(F.when(F.col("rd") == 1, F.col("d"))).alias("d1"),
            F.max(F.when(F.col("rd") == 2, F.col("d"))).alias("d2"),
        )
    )
    return (
        agg.join(last2, "o_custkey")
        .where(F.col("n_orders") >= 4)
        .select(
            "o_custkey",
            "n_orders",
            "total_cents",
            "last_cents",
            "prev_cents",
            F.datediff("d1", "d2").cast("long").alias("last_gap_days"),
            F.expr(
                "CAST(datediff(last_d, first_d) * 10000 div (n_orders - 1)"
                " AS BIGINT)"
            ).alias("mean_gap_e4"),
        )
        .orderBy("o_custkey")
    )


_LINKPRED_EDGES_SQL = """
    cp AS (
        SELECT DISTINCT o_custkey AS ck, l_partkey AS pk, l_suppkey AS sk
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    grp AS (
        SELECT pk, sk, count(*) AS c FROM cp GROUP BY pk, sk
    ),
    e AS MATERIALIZED (
        SELECT DISTINCT least(a.ck, b.ck) AS u, greatest(a.ck, b.ck) AS v
        FROM cp a
        JOIN cp b ON a.pk = b.pk AND a.sk = b.sk AND a.ck < b.ck
        JOIN grp g ON g.pk = a.pk AND g.sk = a.sk
        WHERE g.c <= 8
    ),
    adj AS MATERIALIZED (
        SELECT u AS x, v AS y FROM e UNION ALL SELECT v, u FROM e
    )
"""


def _copurchase_adj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer co-purchase adjacency (both directions), capped at 8
    customers per (part, supplier) combo — shared by q_graph_linkpred /
    q_graph_labelprop / q_graph_twohop, mirrored by
    _LINKPRED_EDGES_SQL on the oracle side."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    # round-14 optimization (guide §2.4, the q_basket_pairs idiom):
    # one collect_set shuffle per (part, supplier) + in-task C(k,2)
    # pair expansion replaces distinct → count-cap join → self-join
    # (4-5 exchanges, two passes over the order⋈lineitem join).
    # size(collect_set(ck)) ≤ 8 is exactly the old count-of-distinct-
    # customers cap, sort_array gives u < v directly, and the final
    # distinct dedups pairs across groups — the edge SET is unchanged.
    e = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("ck"),
            F.col("l_partkey").alias("pk"),
            F.col("l_suppkey").alias("sk"),
        )
        .groupBy("pk", "sk")
        .agg(F.sort_array(F.collect_set("ck")).alias("cks"))
        .where(F.size("cks") <= 8)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(cks, (x, i) -> "
                    "transform(slice(cks, i + 2, size(cks)), "
                    "y -> struct(x AS u, y AS v))))"
                )
            ).alias("pair")
        )
        .select("pair.u", "pair.v")
        .distinct()
    )
    return e.select(F.col("u").alias("x"), F.col("v").alias("y")).unionAll(
        e.select(F.col("v").alias("x"), F.col("u").alias("y"))
    )


@query(
    "q_graph_labelprop",
    oracle=f"""
    WITH {_LINKPRED_EDGES_SQL},
    l0 AS (SELECT DISTINCT x AS n, x AS l FROM adj),
    c1 AS (
        SELECT t.n, t.l, count(*) AS c FROM (
            SELECT a.x AS n, l0.l FROM adj a JOIN l0 ON l0.n = a.y
            UNION ALL SELECT n, l FROM l0
        ) t GROUP BY t.n, t.l
    ),
    l1 AS MATERIALIZED (
        SELECT n, l FROM (
            SELECT n, l, row_number() OVER (PARTITION BY n
                                            ORDER BY c DESC, l) AS rn
            FROM c1
        ) WHERE rn = 1
    ),
    c2 AS (
        SELECT t.n, t.l, count(*) AS c FROM (
            SELECT a.x AS n, l1.l FROM adj a JOIN l1 ON l1.n = a.y
            UNION ALL SELECT n, l FROM l1
        ) t GROUP BY t.n, t.l
    ),
    l2 AS MATERIALIZED (
        SELECT n, l FROM (
            SELECT n, l, row_number() OVER (PARTITION BY n
                                            ORDER BY c DESC, l) AS rn
            FROM c2
        ) WHERE rn = 1
    )
    SELECT l AS community, CAST(count(*) AS BIGINT) AS n_members
    FROM l2
    GROUP BY l
    ORDER BY n_members DESC, community
    LIMIT 20
    """,
)
def q_graph_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two synchronous label-propagation rounds on the customer
    co-purchase graph (labels start as node ids; each round every node
    adopts the most frequent label among its neighbors plus itself,
    ties to the smallest label — fully deterministic, no RNG ordering)
    and the top-20 resulting community sizes. The community detector
    that complements q_graph_components (LPA splits dense graphs that
    are one giant component) and q_graph_kcore (cores are not
    communities). Each round is one keyed label-count aggregate plus
    an argmax window keyed by node; the fixed round count keeps it
    oracle-replayable (unrolled MATERIALIZED CTE levels — the
    pagerank inlining gotcha)."""
    adj = _copurchase_adj(spark, sf_dir)
    lbl = adj.select(F.col("x").alias("n")).distinct().select(
        "n", F.col("n").alias("l")
    )
    for _ in range(2):
        nbr = adj.join(
            lbl.select(F.col("n").alias("y"), "l"), "y"
        ).select(F.col("x").alias("n"), "l")
        votes = nbr.unionAll(lbl.select("n", "l")).groupBy("n", "l").agg(
            F.count("*").alias("c")
        )
        w = Window.partitionBy("n").orderBy(F.col("c").desc(), "l")
        lbl = (
            votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("n", "l")
        )
    return (
        lbl.groupBy(F.col("l").alias("community"))
        .agg(F.count("*").alias("n_members"))
        .orderBy(F.col("n_members").desc(), "community")
        .limit(20)
    )


@query(
    "q_graph_twohop",
    oracle=f"""
    WITH {_LINKPRED_EDGES_SQL},
    hop2 AS (
        SELECT DISTINCT n, m FROM (
            SELECT a.x AS n, b.y AS m
            FROM adj a JOIN adj b ON a.y = b.x
            WHERE a.x <> b.y
            UNION ALL
            SELECT x, y FROM adj
        )
    ),
    sz AS (SELECT n, count(*) AS reach FROM hop2 GROUP BY n)
    SELECT length(bin(reach)) AS bucket,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(reach) AS BIGINT) AS min_reach,
           CAST(max(reach) AS BIGINT) AS max_reach
    FROM sz
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def q_graph_twohop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop reach distribution on the customer co-purchase graph —
    |N≤2(v)| per node, bucketed by bit-length (the q_graph_degree
    idiom one hop further out): the blast-radius statistic that sizes
    neighborhood-expansion joins (a 2-hop feature or GNN sampler at
    100 TB lives or dies by this tail). Candidates come from the
    adjacency self-join through the middle node (Σ deg(m)², the same
    blocked volume as q_graph_linkpred) followed by one distinct and
    one keyed count — no row ever pairs with a non-neighbor."""
    adj = _copurchase_adj(spark, sf_dir)
    l = adj.select(F.col("x").alias("n"), F.col("y").alias("m0"))
    r = adj.select(F.col("x").alias("m0"), F.col("y").alias("m"))
    two = (
        l.join(r, "m0")
        .where(F.col("n") != F.col("m"))
        .select("n", "m")
        .unionAll(adj.select(F.col("x").alias("n"), F.col("y").alias("m")))
        .distinct()
    )
    sz = two.groupBy("n").agg(F.count("*").alias("reach"))
    return (
        sz.groupBy(F.length(F.bin("reach")).alias("bucket"))
        .agg(
            F.count("*").alias("n_nodes"),
            F.min("reach").alias("min_reach"),
            F.max("reach").alias("max_reach"),
        )
        .orderBy("bucket")
    )


@query(
    "q_retrieval_eval",
    oracle="""
    WITH ws AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                           w -> w <> '') AS ws
        FROM documents
    ),
    dl AS (SELECT doc_id, len(ws) AS dl FROM ws),
    toks AS (SELECT doc_id, unnest(ws) AS w FROM ws),
    tf AS (
        SELECT doc_id, w, count(*) AS tf FROM toks
        WHERE w IN ('dup', 'spark', 'merge')
        GROUP BY doc_id, w
    ),
    stats AS (
        SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        FROM dl
    ),
    df AS (SELECT w, count(DISTINCT doc_id) AS df FROM tf GROUP BY w),
    scored AS (
        SELECT tf.doc_id,
               sum(ln((n - df + 0.5) / (df + 0.5) + 1.0)
                   * (tf * 2.2)
                   / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))) AS score
        FROM tf
        JOIN df USING (w)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats
        GROUP BY tf.doc_id
    ),
    top10 AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY round(score, 4) DESC, doc_id)
                   AS rnk
        FROM scored
        ORDER BY round(score, 4) DESC, doc_id
        LIMIT 10
    ),
    rel AS (
        SELECT doc_id, count(*) AS rel FROM toks
        WHERE w = 'dup' GROUP BY doc_id
    ),
    hits AS (
        SELECT t.rnk, coalesce(r.rel, 0) AS rel
        FROM top10 t LEFT JOIN rel r USING (doc_id)
    ),
    m AS (
        SELECT sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS n_hits,
               min(CASE WHEN rel > 0 THEN rnk END) AS first_hit,
               sum(rel / (ln(rnk + 1.0) / ln(2.0))) AS dcg
        FROM hits
    ),
    ideal AS (
        SELECT row_number() OVER (ORDER BY rel DESC, doc_id) AS rnk, rel
        FROM rel ORDER BY rel DESC, doc_id LIMIT 10
    ),
    im AS (
        SELECT sum(rel / (ln(rnk + 1.0) / ln(2.0))) AS idcg FROM ideal
    ),
    nr AS (SELECT count(*) AS n_relevant FROM rel)
    SELECT CAST(n_hits * 1000 AS BIGINT) AS p_at10_e4,
           CAST(coalesce(10000 // first_hit, 0) AS BIGINT) AS mrr_e4,
           round(dcg / idcg, 4) + 0.0 AS ndcg10_r4,
           CAST(n_relevant AS BIGINT) AS n_relevant
    FROM m CROSS JOIN im CROSS JOIN nr
    """,
)
def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation of the q_bm25_search ranking
    against exact term relevance (docs containing 'dup', graded by
    term frequency): precision@10, MRR, and nDCG@10 — the offline
    eval a RAG / search pipeline runs on every index build. The
    ranking leg IS the staged BM25 query (same plan); relevance and
    ideal-ranking legs are keyed aggregates collapsing to ≤ |corpus|
    rows and 1-row broadcast metric legs. nDCG's log2 chain is the
    ln-class round(,4) emission; precision/MRR are exact integers."""
    top = q_bm25_search(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score_r4").desc(), "doc_id"))
        .alias("rnk"),
    )
    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.lower("text"), "[^a-z]+"), lambda w: w != F.lit("")
    )
    rel = (
        docs.select("doc_id", F.explode(words).alias("w"))
        .where(F.col("w") == "dup")
        .groupBy("doc_id")
        .agg(F.count("*").alias("rel"))
    )
    # rel scales with the corpus (every doc containing the probe term)
    hits = top.join(rel, "doc_id", "left").select(
        "rnk", F.coalesce("rel", F.lit(0)).alias("rel")
    )
    m = hits.agg(
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0)).alias("n_hits"),
        F.min(F.when(F.col("rel") > 0, F.col("rnk"))).alias("first_hit"),
        F.expr("sum(rel / (ln(rnk + 1.0D) / ln(2.0D)))").alias("dcg"),
    )
    ideal = rel.select(
        "rel",
        F.row_number()
        .over(Window.orderBy(F.col("rel").desc(), "doc_id"))
        .alias("rnk"),
    ).where(F.col("rnk") <= 10)
    im = ideal.agg(
        F.expr("sum(rel / (ln(rnk + 1.0D) / ln(2.0D)))").alias("idcg")
    )
    nr = rel.agg(F.count("*").alias("n_relevant"))
    return (
        m.crossJoin(F.broadcast(im))
        .crossJoin(F.broadcast(nr))
        .select(
            F.expr("CAST(n_hits * 1000 AS BIGINT)").alias("p_at10_e4"),
            F.expr("CAST(coalesce(10000 div first_hit, 0) AS BIGINT)"
                   ).alias("mrr_e4"),
            F.expr("round(dcg / idcg, 4)").alias("ndcg10_r4"),
            F.col("n_relevant").cast("long").alias("n_relevant"),
        )
    )


@query(
    "q_stream_ohlc",
    oracle="""
    WITH ranked AS (
        SELECT time_bucket(INTERVAL '15 minutes', ts) AS bucket_start,
               value,
               row_number() OVER (
                   PARTITION BY time_bucket(INTERVAL '15 minutes', ts)
                   ORDER BY ts, event_id
               ) AS rn_first,
               row_number() OVER (
                   PARTITION BY time_bucket(INTERVAL '15 minutes', ts)
                   ORDER BY ts DESC, event_id DESC
               ) AS rn_last
        FROM events
    )
    SELECT CAST(bucket_start AS TIMESTAMP) AS bucket_start,
           round(max(CASE WHEN rn_first = 1 THEN value END), 4) AS open,
           round(max(value), 4)                                 AS high,
           round(min(value), 4)                                 AS low,
           round(max(CASE WHEN rn_last = 1 THEN value END), 4)  AS close,
           count(*)                                             AS n_ticks
    FROM ranked
    GROUP BY bucket_start
    ORDER BY bucket_start
    """,
)
def q_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming 15-minute OHLC bars executed FOR REAL through the
    micro-batch runtime (streaming/pipeline.ohlc_stream: min_by/max_by
    open/close inside ONE watermarked aggregation — the hypertable
    continuous-aggregate shape, one state row per live bar) and driven
    to completion in complete mode; the DuckDB oracle recomputes the
    bars from the raw table, so the hash gate proves the incremental
    multi-batch fold equals the batch answer exactly — the q_ts_ohlc
    batch query's streaming twin, previously engine-tested
    (tests/test_streaming.py) but not externally declared. No float
    accumulation anywhere: open/high/low/close pick actual values."""
    from mapreduce_llm_spark.queries.streaming_queries import (
        _publish_stream_source,
        _run_ids,
    )
    import os as _os

    from mapreduce_llm_spark.streaming.pipeline import (
        ohlc_stream,
        run_to_memory,
        stream_events,
    )

    src = _publish_stream_source(spark, sf_dir)
    name = f"q_stream_ohlc_mem_{next(_run_ids)}_{_os.getpid()}"
    got = run_to_memory(
        ohlc_stream(stream_events(spark, src, max_files_per_trigger=2)),
        name,
        output_mode="complete",
    )
    return got.select(
        "bucket_start", "open", "high", "low", "close", "n_ticks"
    ).orderBy("bucket_start")


@query(
    "q_stream_upsert",
    oracle="""
    SELECT
        time_bucket(INTERVAL '1 hour', ts)   AS bucket_start,
        event_type,
        count(*)                             AS n_events,
        round(sum(value), 4)                 AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keyed exactly-once-effect SINK path externally verified:
    the watermarked tumbling aggregation streams in UPDATE mode into
    streaming/pipeline.upsert_parquet_sink — every micro-batch MERGEs
    its changed (bucket, type) rows into a parquet snapshot through
    an anti-join upsert with an atomic staging swap — and the query
    returns the FINAL SNAPSHOT, which the oracle proves equals the
    batch aggregation. What's under check is the sink contract: keys
    updated across many micro-batches land exactly once with their
    final values (a replayed/duplicated update must overwrite, not
    duplicate). The memory-sink twin q_stream_tumbling proves the
    fold; this proves the durable keyed materialization of it."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from mapreduce_llm_spark.queries.streaming_queries import (
        _publish_stream_source,
        _run_ids,
    )
    from mapreduce_llm_spark.streaming.pipeline import (
        stream_events,
        tumbling_counts_stream,
        upsert_parquet_sink,
    )

    src = _publish_stream_source(spark, sf_dir)
    scratch = _tempfile.mkdtemp(prefix=f"q_stream_upsert_{next(_run_ids)}_")
    snapshot = _os.path.join(scratch, "snapshot")
    checkpoint = _os.path.join(scratch, "checkpoint")
    try:
        updates = tumbling_counts_stream(
            stream_events(spark, src, max_files_per_trigger=2)
        )
        writer = upsert_parquet_sink(
            updates, snapshot, keys=["bucket_start", "event_type"]
        )
        query = writer.option("checkpointLocation", checkpoint).start()
        try:
            query.processAllAvailable()
        finally:
            query.stop()
        final = (
            spark.read.parquet(snapshot)
            .select(
                "bucket_start",
                "event_type",
                "n_events",
                F.round("sum_value", 4).alias("sum_value"),
            )
            .orderBy("bucket_start", "event_type")
        )
        # materialize before the scratch dir disappears
        return spark.createDataFrame(
            final.collect(), schema=final.schema
        ).orderBy("bucket_start", "event_type")
    finally:
        _shutil.rmtree(scratch, ignore_errors=True)


@query(
    "q_langid_confusion",
    oracle=r"""
    WITH ws AS (
        SELECT doc_id, lang,
               list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                           w -> w <> '') AS words
        FROM documents
    ),
    votes AS (
        SELECT doc_id, lang,
            len(list_filter(words, w -> list_contains(
                ['the','and','of','to','in','is','that','for','with','as'],
                w))) AS h_en,
            len(list_filter(words, w -> list_contains(
                ['el','la','de','que','y','en','los','del','se','por'], w)))
                AS h_es,
            len(list_filter(words, w -> list_contains(
                ['le','la','de','et','les','des','en','un','du','une'], w)))
                AS h_fr,
            len(list_filter(words, w -> list_contains(
                ['der','die','und','in','den','von','zu','das','mit','sich'],
                w))) AS h_de
        FROM ws
    ),
    pred AS (
        SELECT lang,
               CASE WHEN h_de > greatest(h_en, h_es, h_fr) THEN 'de'
                    WHEN h_fr > greatest(h_en, h_es)       THEN 'fr'
                    WHEN h_es > h_en                       THEN 'es'
                    WHEN h_en > 0                          THEN 'en'
                    ELSE 'und' END AS lang_detected
        FROM votes
    ),
    c AS (
        SELECT lang, lang_detected, count(*) AS n_docs
        FROM pred GROUP BY lang, lang_detected
    )
    SELECT lang, lang_detected,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_docs * 10000 //
                sum(n_docs) OVER (PARTITION BY lang) AS BIGINT)
               AS share_of_lang_e4
    FROM c
    ORDER BY lang, lang_detected
    """,
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the engine's stopword-vote language
    detector (operators/textstats.detect_lang_col — first-wins dict
    order en→es→fr→de, 'und' when nothing hits) against the corpus's
    labeled lang column — the model-QA readout that turns
    q_text_langid's per-doc prediction into an evaluable error
    profile (which languages leak into which). One keyed aggregate to
    |langs|² cells; the per-true-language share window runs on those
    cells. The oracle replays the exact vote ladder the
    q_text_fingerprint staging proved."""
    from mapreduce_llm_spark.operators.textstats import detect_lang_col

    d = load_table(spark, sf_dir, "documents").select(
        "lang", detect_lang_col(F.col("text")).alias("lang_detected")
    )
    c = d.groupBy("lang", "lang_detected").agg(F.count("*").alias("n_docs"))
    return c.select(
        "lang",
        "lang_detected",
        "n_docs",
        F.expr(
            "CAST(n_docs * 10000 div sum(n_docs)"
            " OVER (PARTITION BY lang) AS BIGINT)"
        ).alias("share_of_lang_e4"),
    ).orderBy("lang", "lang_detected")


@query(
    "q_stl_outliers",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, count(*) AS n
        FROM events GROUP BY d
    ),
    ma AS (
        SELECT d, n,
               sum(n) OVER w AS s7,
               count(*) OVER w AS c7,
               isodow(d) AS dow
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
        SELECT d, dow, 7 * n - s7 AS d7 FROM ma WHERE c7 = 7
    ),
    med AS (
        SELECT dow, CAST(2 * median(d7) AS BIGINT) AS med2
        FROM det GROUP BY dow
    ),
    dev AS (
        SELECT det.dow, d7, med2,
               abs(2 * d7 - med2) AS absdev2
        FROM det JOIN med ON det.dow = med.dow
    ),
    mad AS (
        SELECT dow, CAST(2 * median(absdev2) AS BIGINT) AS mad4
        FROM dev GROUP BY dow
    )
    SELECT dev.dow AS dow,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(max(med2) AS BIGINT) AS med2,
           CAST(max(mad4) AS BIGINT) AS mad4,
           CAST(sum(CASE WHEN 2 * absdev2 > 3 * mad4 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev JOIN mad ON dev.dow = mad.dow
    GROUP BY dev.dow
    ORDER BY dow
    """,
)
def q_stl_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite robust anomaly screen on the daily event series:
    detrend by a centered 7-day moving average, split by ISO weekday,
    and flag days whose detrended value sits more than 3 robust MADs
    from that weekday's median — the trend/seasonal/residual
    decomposition q_seasonality (profile) and q_anomaly_mad (flat
    MAD) don't compose on their own. EVERY statistic stays an exact
    scaled integer: detrended = 7n − Σ₇ (scale 7), medians are
    emitted ×2 (the even-count midpoint is the only fraction, and
    both engines interpolate identically on integers — the
    q_win_median precedent), deviations ×2, MAD ×4, and the 3-MAD
    cut is the cross-multiplied integer test 2·|dev| > 3·mad4. The
    day series is one keyed aggregate (≤ |days| rows); everything
    after runs on that frame. Spark weekday()+1 = DuckDB isodow
    (CLAUDE.md)."""
    daily = (
        load_table(spark, sf_dir, "events")
        .select(F.col("ts").cast("date").alias("d"))
        .groupBy("d")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    ma = daily.select(
        "d",
        "n",
        F.sum("n").over(w).alias("s7"),
        F.count("*").over(w).alias("c7"),
        (F.weekday("d") + 1).alias("dow"),
    )
    det = ma.where(F.col("c7") == 7).select(
        "d", "dow", (7 * F.col("n") - F.col("s7")).alias("d7")
    )
    med = det.groupBy("dow").agg(
        F.expr("CAST(2 * percentile(d7, 0.5D) AS BIGINT)").alias("med2")
    )
    dev = det.join(F.broadcast(med), "dow").select(
        "dow",
        "med2",
        F.abs(2 * F.col("d7") - F.col("med2")).alias("absdev2"),
    )
    mad = dev.groupBy("dow").agg(
        F.expr("CAST(2 * percentile(absdev2, 0.5D) AS BIGINT)").alias("mad4")
    )
    return (
        dev.join(F.broadcast(mad), "dow")
        .groupBy("dow")
        .agg(
            F.count("*").alias("n_days"),
            F.max("med2").alias("med2"),
            F.max("mad4").alias("mad4"),
            F.sum(
                F.when(2 * F.col("absdev2") > 3 * F.col("mad4"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
        .select(
            F.col("dow").cast("long").alias("dow"),
            "n_days", "med2", "mad4", "n_outliers",
        )
        .orderBy("dow")
    )


@query(
    "q_pca_project",
    oracle="""
    WITH q AS (
        SELECT vec_id, i,
               CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000)
                    AS BIGINT) AS qi
        FROM embeddings, unnest(generate_series(0, 63)) AS t(i)
    ),
    c AS MATERIALIZED (
        SELECT a.i AS i, CAST(sum(a.qi * b.qi) AS BIGINT) AS v1
        FROM q a JOIN q b USING (vec_id)
        WHERE b.i = 0
        GROUP BY a.i
    ),
    p AS (
        SELECT q.vec_id,
               CAST(sum(q.qi * c.v1) AS BIGINT) AS proj
        FROM q JOIN c USING (i)
        GROUP BY q.vec_id
    )
    SELECT CASE WHEN proj < 0 THEN -1 WHEN proj > 0 THEN 1 ELSE 0 END
               AS sign,
           CAST(length(bin(abs(proj))) AS INT) AS magnitude_bits,
           CAST(count(*) AS BIGINT) AS n_vectors
    FROM p
    GROUP BY sign, magnitude_bits
    ORDER BY sign, magnitude_bits
    """,
)
def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection of every embedding onto the dominant direction
    estimate v1 = C·e₀ from q_pca_power's exact integer Gram matrix,
    histogrammed by sign × bit-length — the dimensionality-reduction
    APPLY step that completes the power-iteration family (q_pca_power
    fits; this transforms), bit-exact end to end: e3-quantized
    components, int64 v1 (64 cells, broadcast), int64 dot products
    (|p| ≤ 64·2e3·1e7 ≪ 2^63). The projection is one broadcast join
    on the dim key plus a keyed sum per vector — a linear scan at any
    corpus size, the same shuffle-constant shape as the Gram build."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = e.select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    ).select(
        "vec_id",
        "i",
        F.floor(F.col("x").cast("double") * 1000).cast("long").alias("qi"),
    )
    qb = q.where(F.col("i") == 0).select(
        "vec_id", F.col("qi").alias("q0")
    )
    c = (
        q.join(qb, "vec_id")
        .groupBy("i")
        .agg(F.sum(F.col("qi") * F.col("q0")).alias("v1"))
    )
    p = (
        q.join(F.broadcast(c), "i")
        .groupBy("vec_id")
        .agg(F.sum(F.col("qi") * F.col("v1")).alias("proj"))
    )
    return (
        p.select(
            F.when(F.col("proj") < 0, -1)
            .when(F.col("proj") > 0, 1)
            .otherwise(0)
            .alias("sign"),
            F.length(F.bin(F.abs("proj"))).cast("int").alias("magnitude_bits"),
        )
        .groupBy("sign", "magnitude_bits")
        .agg(F.count("*").alias("n_vectors"))
        .orderBy("sign", "magnitude_bits")
    )


@query(
    "q_erasure_cascade",
    oracle="""
    WITH del_c AS (
        SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
    ),
    del_o AS (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM del_c)
    ),
    keep_c AS (
        SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 <> 0
    ),
    keep_o AS (
        SELECT o_orderkey AS k FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM del_c)
    ),
    keep_l AS (
        SELECT l_orderkey * 10 + l_linenumber AS k FROM lineitem
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM del_o)
    ),
    stats AS (
        SELECT 'customer' AS tbl,
               (SELECT count(*) FROM del_c) AS n_deleted,
               (SELECT count(*) FROM keep_c) AS n_remaining,
               (SELECT CAST(sum(CAST('0x' || substr(md5(CAST(k AS VARCHAR)),
                                                    1, 10) AS BIGINT))
                        AS BIGINT) FROM keep_c) AS survivors_checksum
        UNION ALL
        SELECT 'lineitem',
               (SELECT count(*) FROM lineitem) -
                   (SELECT count(*) FROM keep_l),
               (SELECT count(*) FROM keep_l),
               (SELECT CAST(sum(CAST('0x' || substr(md5(CAST(k AS VARCHAR)),
                                                    1, 10) AS BIGINT))
                        AS BIGINT) FROM keep_l)
        UNION ALL
        SELECT 'orders',
               (SELECT count(*) FROM del_o),
               (SELECT count(*) FROM keep_o),
               (SELECT CAST(sum(CAST('0x' || substr(md5(CAST(k AS VARCHAR)),
                                                    1, 10) AS BIGINT))
                        AS BIGINT) FROM keep_o)
    )
    SELECT tbl, CAST(n_deleted AS BIGINT) AS n_deleted,
           CAST(n_remaining AS BIGINT) AS n_remaining,
           survivors_checksum
    FROM stats
    ORDER BY tbl
    """,
)
def q_erasure_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade audit: a deterministic deletion
    list (every 97th customer) propagates through the FK chain
    customer → orders → lineitem via anti-joins, and the output
    reports, per table, how many rows the erasure removes, how many
    survive, and a layout-invariant md5-40 checksum of the surviving
    key set — the re-runnable evidence artifact a GDPR/CCPA erasure
    job must produce at 100 TB (the checksum lets an auditor verify
    the exact survivor set on a replica without row-by-row
    comparison, the q_group_checksum idiom). Deletes are anti-joins
    on the FK keys (broadcast: the deletion list is tiny relative to
    facts); no table is ever rewritten to compute its audit."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    del_c = cust.where(F.col("c_custkey") % 97 == 0)
    keep_c = cust.where(F.col("c_custkey") % 97 != 0).select(
        F.col("c_custkey").alias("k")
    )
    # del_c / del_o are ~1% slices of SF-scaling tables: joins left
    # AQE-decided (broadcast at bench SF, shuffle at 100 TB) — the
    # forced-broadcast class the round-9 verdict demoted.
    del_o = orders.join(
        del_c, orders["o_custkey"] == del_c["c_custkey"]
    ).select("o_orderkey")
    keep_o = orders.join(
        del_c,
        orders["o_custkey"] == del_c["c_custkey"],
        "left_anti",
    ).select(F.col("o_orderkey").alias("k"))
    keep_l = li.join(
        del_o,
        li["l_orderkey"] == del_o["o_orderkey"],
        "left_anti",
    ).select((F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("k"))

    def audit(tbl: str, deleted_cnt, kept: DataFrame) -> DataFrame:
        cs = kept.agg(
            F.count("*").alias("n_remaining"),
            F.sum(md5_40(F.col("k").cast("string"))).alias(
                "survivors_checksum"
            ),
        )
        return deleted_cnt.crossJoin(cs).select(
            F.lit(tbl).alias("tbl"),
            F.col("n_deleted").cast("long").alias("n_deleted"),
            F.col("n_remaining").cast("long").alias("n_remaining"),
            "survivors_checksum",
        )

    a_c = audit("customer", del_c.agg(F.count("*").alias("n_deleted")), keep_c)
    n_li = li.agg(F.count("*").alias("n_total"))
    del_l_cnt = (
        n_li.crossJoin(keep_l.agg(F.count("*").alias("n_keep")))
        .select((F.col("n_total") - F.col("n_keep")).alias("n_deleted"))
    )
    a_l = audit("lineitem", del_l_cnt, keep_l)
    a_o = audit("orders", del_o.agg(F.count("*").alias("n_deleted")), keep_o)
    return a_c.unionAll(a_l).unionAll(a_o).orderBy("tbl")


# ---------------------------------------------------------------------------
# Tranche 4 — md5-replay sketch QA (hash-strength twins for families that
# are rows-only because their PRODUCTION hashes have no DuckDB twin:
# minhash/simhash banding, count-min, bloom), plus experimentation
# (CUPED, diff-in-differences), a join-key skew audit, lag features, and
# the left-outer stream-stream join hash gate.
# ---------------------------------------------------------------------------


@query(
    "q_minhash_eval",
    oracle=r"""
    WITH ws AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                           w -> w <> '') AS words
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, s
        FROM ws, unnest(
            CASE WHEN len(words) >= 3
                 THEN list_transform(generate_series(1, len(words) - 2),
                      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
                 ELSE [] END) AS t(s)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    m AS (
        SELECT doc_id, i,
               min(CAST('0x' || substr(
                       md5(CAST(i AS VARCHAR) || ':' || s), 1, 10)
                   AS BIGINT)) AS mh
        FROM sh, unnest(generate_series(0, 11)) AS t(i)
        GROUP BY doc_id, i
    ),
    bk AS (
        SELECT doc_id, i // 4 AS band,
               string_agg(CAST(mh AS VARCHAR), ':' ORDER BY i) AS bkey
        FROM m GROUP BY doc_id, i // 4
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bk a JOIN bk b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    est AS (
        SELECT c.doc_a, c.doc_b,
               sum(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS n_match
        FROM cand c
        JOIN m ma ON ma.doc_id = c.doc_a
        JOIN m mb ON mb.doc_id = c.doc_b AND mb.i = ma.i
        GROUP BY c.doc_a, c.doc_b
    ),
    inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT e.doc_a, e.doc_b,
           CAST(e.n_match * 10000 // 12 AS BIGINT) AS est_jaccard_e4,
           CAST(coalesce(i.n_inter, 0) * 10000 //
                (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)) AS BIGINT)
               AS jaccard_e4
    FROM est e
    LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
    JOIN sizes za ON za.doc_id = e.doc_a
    JOIN sizes zb ON zb.doc_id = e.doc_b
    ORDER BY e.doc_a, e.doc_b
    """,
)
def q_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH ESTIMATOR QA at hash strength: a 12-hash md5-40
    minhash signature over 3-word shingles, banded 3×4, bucket-joined
    into candidate pairs, and each candidate's signature-estimated
    Jaccard printed NEXT TO its exact shingle Jaccard — the accuracy
    readout for the production LSH (operators/dedup.minhash_lsh_pairs
    stays rows-only because xxhash64 has no DuckDB twin; this twin
    swaps in the house md5-40 so DuckDB replays the ENTIRE band→bucket
    →estimate pipeline bit-for-bit, CLAUDE.md cross-engine hashing).
    Scale shape is the production one: signatures are 12 rows per doc
    (never the shingle set), candidates come only from band-key
    equality (no all-pairs), and the exact-Jaccard leg joins shingles
    only for the surviving candidate pairs."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            r"filter(split(trim(lower(text)), '\\s+'), w -> w != '')"
        ).alias("words"),
    )
    sh = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(words) >= 3 THEN array_distinct("
                " transform(sequence(0, size(words) - 3),"
                "  i -> concat_ws(' ', slice(words, i + 1, 3))))"
                " ELSE array() END"
            )
        ).alias("s"),
    )
    # round-14 optimization audit: measured, then left UNmaterialized —
    # the signature aggregate's final exchange (hashpartitioning
    # (doc_id, i)) is byte-identical across its three consumers, so
    # ReuseExchange already computes the min-hash pass once; forcing
    # eager localCheckpoints on sh/m instead measured 1.16× SLOWER
    # (4.56 → 5.31 s isolated A/B): the shingle-string frame is large,
    # and block write + full-row rescans cost more than the pipelined
    # recompute of the cheap explode legs.
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    # round-15 re-examination, measured and NOT adopted: shingles
    # repeat 9.6× across documents (260,388 occurrences / 27,213
    # distinct at sf0.1), so hashing each DISTINCT shingle once into a
    # 12-long array and joining back looked like a 10× CPU cut on the
    # signature pass. In-session A/B (5 alternating passes, results
    # asserted row-identical, anchors 0.355/0.375): 4.20 → 6.57 s —
    # 1.57× SLOWER. The arithmetic: 3.1M md5s over ~30-byte strings is
    # ~0.5 s of SINGLE-core work spread over every core by the
    # pipelined aggregate, while the join-back adds two exchanges of
    # the fat shingle-string table below a subtree that three
    # consumers re-plan. The per-occurrence hash inside the partial
    # aggregate IS the right shape; "compute floor" here means the
    # pipeline is already bandwidth-bound, not hash-bound.
    m = (
        sh.select("doc_id", "s", F.explode(F.sequence(F.lit(0), F.lit(11))).alias("i"))
        .groupBy("doc_id", "i")
        .agg(
            F.min(
                F.expr(
                    "CAST(conv(substring(md5(concat(cast(i AS STRING), ':', s)),"
                    " 1, 10), 16, 10) AS BIGINT)"
                )
            ).alias("mh")
        )
    )
    bk = m.groupBy("doc_id", F.expr("i div 4").alias("band")).agg(
        F.expr(
            "concat_ws(':', transform(array_sort(collect_list(struct(i, mh))),"
            " x -> cast(x.mh AS STRING)))"
        ).alias("bkey")
    )
    a, b = bk.alias("a"), bk.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ma, mb = m.alias("ma"), m.alias("mb")
    est = (
        cand.join(ma, F.col("ma.doc_id") == F.col("doc_a"))
        .join(
            mb,
            (F.col("mb.doc_id") == F.col("doc_b")) & (F.col("mb.i") == F.col("ma.i")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(
                F.when(F.col("ma.mh") == F.col("mb.mh"), 1).otherwise(0)
            ).alias("n_match")
        )
    )
    sa, sb = sh.alias("sa"), sh.alias("sb")
    inter = (
        cand.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(
            sb,
            (F.col("sb.doc_id") == F.col("doc_b")) & (F.col("sb.s") == F.col("sa.s")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    za = sizes.select(F.col("doc_id").alias("za_id"), F.col("n_sh").alias("n_sh_a"))
    zb = sizes.select(F.col("doc_id").alias("zb_id"), F.col("n_sh").alias("n_sh_b"))
    return (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(za, F.col("za_id") == F.col("doc_a"))
        .join(zb, F.col("zb_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.expr("CAST(n_match * 10000 div 12 AS BIGINT)").alias(
                "est_jaccard_e4"
            ),
            F.expr(
                "CAST(coalesce(n_inter, 0) * 10000 div"
                " (n_sh_a + n_sh_b - coalesce(n_inter, 0)) AS BIGINT)"
            ).alias("jaccard_e4"),
        )
        .orderBy("doc_a", "doc_b")
    )


@query(
    "q_simhash_pairs",
    oracle=r"""
    WITH ws AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                           w -> w <> '') AS words
        FROM documents
    ),
    wc AS (
        SELECT doc_id, w, count(*) AS c
        FROM ws, unnest(words) AS t(w)
        GROUP BY doc_id, w
    ),
    wh AS (
        SELECT doc_id, c,
               CAST('0x' || substr(md5(w), 1, 10) AS BIGINT) AS h
        FROM wc
    ),
    bits AS (
        SELECT doc_id, b,
               sum(c * (2 * ((h >> b) & 1) - 1)) AS s
        FROM wh, unnest(generate_series(0, 39)) AS t(b)
        GROUP BY doc_id, b
    ),
    sig AS (
        SELECT doc_id,
               sum(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << b)
                        ELSE 0 END) AS simhash
        FROM bits GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, simhash, band,
               (simhash >> (10 * band)) & 1023 AS bval
        FROM sig, unnest(generate_series(0, 3)) AS t(band)
    ),
    sized AS (
        SELECT *, count(*) OVER (PARTITION BY band, bval) AS bsz
        FROM bands
    ),
    keep AS (SELECT * FROM sized WHERE bsz <= 64),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sig_a, b.simhash AS sig_b
        FROM keep a JOIN keep b
          ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(sig_a, sig_b)) <= 2
    ORDER BY doc_a, doc_b
    """,
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates at hash strength: a 40-bit simhash
    per document (per-bit majority vote of md5-40 word hashes weighted
    by term frequency), banded into 4×10-bit keys, bucket-joined under
    the production max_bucket_size=64 cap, and kept at hamming ≤ 2 —
    the md5-replay twin of the production operators/dedup.simhash_pairs
    (rows-only: xxhash64 bits have no DuckDB twin), so the ENTIRE
    bit-vote → band → capped-bucket → hamming-filter pipeline gets one
    bit-exact external record (CLAUDE.md md5-40 idiom). Scale shape
    mirrors production: one keyed aggregate to 40 vote cells per doc,
    signatures (not term vectors) join, candidates come only from
    10-bit band-key equality, and the bucket cap bounds every bucket's
    pair fan-out exactly as the production operator does on template-
    heavy corpora (this corpus clusters: uncapped ≤ 8 yields 612k
    pairs at sf0.1; capped ≤ 2 yields 825 true near-dups)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            r"filter(split(trim(lower(text)), '\\s+'), w -> w != '')"
        ).alias("words"),
    )
    wc = (
        d.select("doc_id", F.explode("words").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    wh = wc.select(
        "doc_id", "c", md5_40(F.col("w")).alias("h")
    )
    bits = (
        wh.select(
            "doc_id", "c", "h",
            F.explode(F.sequence(F.lit(0), F.lit(39))).alias("b"),
        )
        .groupBy("doc_id", "b")
        .agg(
            F.sum(
                F.expr("c * (2 * ((h >> b) & 1) - 1)")
            ).alias("s")
        )
    )
    sig = bits.groupBy("doc_id").agg(
        F.sum(
            F.expr(
                "CASE WHEN s >= 0 THEN shiftleft(CAST(1 AS BIGINT), b)"
                " ELSE CAST(0 AS BIGINT) END"
            )
        ).alias("simhash")
    )
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band"),
    ).withColumn("bval", F.expr("(simhash >> (10 * band)) & 1023"))
    keep = bands.withColumn(
        "bsz", F.count("*").over(Window.partitionBy("band", "bval"))
    ).where(F.col("bsz") <= 64)
    a, b = keep.alias("a"), keep.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
        .where(F.expr("bit_count(sig_a ^ sig_b) <= 2"))
        .select(
            "doc_a",
            "doc_b",
            F.expr("CAST(bit_count(sig_a ^ sig_b) AS BIGINT)").alias("hamming"),
        )
        .orderBy("doc_a", "doc_b")
    )


@query(
    "q_countmin_err",
    oracle=r"""
    WITH ws AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                           w -> w <> '') AS words
        FROM documents
    ),
    tc AS (
        SELECT w, count(*) AS true_n
        FROM ws, unnest(words) AS t(w)
        GROUP BY w
    ),
    hashed AS (
        SELECT w, true_n, r,
               CAST('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || w), 1, 10)
                    AS BIGINT) % 64 AS bucket
        FROM tc, unnest(generate_series(0, 3)) AS t(r)
    ),
    cells AS (
        SELECT r, bucket, sum(true_n) AS cell_n
        FROM hashed GROUP BY r, bucket
    ),
    est AS (
        SELECT h.w, h.true_n, min(c.cell_n) AS est_n
        FROM hashed h
        JOIN cells c ON c.r = h.r AND c.bucket = h.bucket
        GROUP BY h.w, h.true_n
    )
    SELECT w AS word,
           CAST(true_n AS BIGINT) AS true_n,
           CAST(est_n AS BIGINT) AS est_n,
           CAST(est_n - true_n AS BIGINT) AS overcount
    FROM est
    ORDER BY true_n DESC, word
    LIMIT 20
    """,
)
def q_countmin_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch accuracy audit, bit-exact: a d=4 × w=64 CMS
    over the corpus term stream (row hashes = md5-40(r:w) % 64, cells
    = exact integer sums of colliding term counts, estimate = min over
    rows) with the top-20 true-frequency terms' estimates and
    overcounts — the external record for the sketch family whose
    production HLL/CMS internals are legitimately oracle-less. CMS
    guarantees est ≥ true and E[overcount] ≤ 2N/w; the overcount
    column exhibits the bound on real data. Scale: the sketch is 256
    integer cells regardless of corpus size (mergeable map-side
    partials — the reason a 100 TB term census ships KB not TB);
    the word-level join is |vocab| × 4 rows, never the token stream."""
    d = load_table(spark, sf_dir, "documents").select(
        F.expr(
            r"filter(split(trim(lower(text)), '\\s+'), w -> w != '')"
        ).alias("words")
    )
    tc = (
        d.select(F.explode("words").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("true_n"))
    )
    hashed = tc.select(
        "w",
        "true_n",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("r"),
    ).withColumn(
        "bucket",
        md5_40(F.expr("concat(cast(r AS STRING), ':', w)")) % 64,
    )
    cells = hashed.groupBy("r", "bucket").agg(F.sum("true_n").alias("cell_n"))
    est = (
        hashed.join(cells, ["r", "bucket"])
        .groupBy("w", "true_n")
        .agg(F.min("cell_n").alias("est_n"))
    )
    return (
        est.select(
            F.col("w").alias("word"),
            F.col("true_n").cast("long").alias("true_n"),
            F.col("est_n").cast("long").alias("est_n"),
            (F.col("est_n") - F.col("true_n")).cast("long").alias("overcount"),
        )
        .orderBy(F.desc("true_n"), "word")
        .limit(20)
    )


@query(
    "q_bloom_prefilter",
    oracle="""
    WITH keys AS (SELECT DISTINCT o_custkey AS k FROM orders),
    pos AS (
        SELECT DISTINCT
               CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':'
                                       || CAST(k AS VARCHAR)), 1, 10)
                    AS BIGINT) % 65536 AS p
        FROM keys, unnest(generate_series(0, 2)) AS t(i)
    ),
    probe AS (
        SELECT c.c_custkey, c.c_mktsegment, i,
               CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':'
                                       || CAST(c.c_custkey AS VARCHAR)), 1, 10)
                    AS BIGINT) % 65536 AS p
        FROM customer c, unnest(generate_series(0, 2)) AS t(i)
    ),
    hits AS (
        SELECT pr.c_custkey, pr.c_mktsegment,
               count(*) AS n_hit
        FROM probe pr JOIN pos ON pos.p = pr.p
        GROUP BY pr.c_custkey, pr.c_mktsegment
    ),
    verdict AS (
        SELECT c.c_custkey, c.c_mktsegment,
               CASE WHEN coalesce(h.n_hit, 0) = 3 THEN 1 ELSE 0 END
                   AS bloom_pass,
               CASE WHEN k.k IS NOT NULL THEN 1 ELSE 0 END AS truly_in
        FROM customer c
        LEFT JOIN hits h ON h.c_custkey = c.c_custkey
        LEFT JOIN keys k ON k.k = c.c_custkey
    )
    SELECT c_mktsegment,
           count(*)                                   AS n_customers,
           CAST(sum(truly_in) AS BIGINT)              AS n_in_orders,
           CAST(sum(bloom_pass) AS BIGINT)            AS n_bloom_pass,
           CAST(sum(bloom_pass) - sum(truly_in) AS BIGINT)
               AS n_false_pos
    FROM verdict
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join-prefilter audit, bit-exact: a 65536-bit / 3
    md5-40-hash Bloom filter built from the DISTINCT orders.o_custkey
    set, probed by every customer, and scored per market segment —
    true members, bloom passes, and false positives (bloom_pass ≥
    truly_in always; the gap is the wasted shuffle a Bloom-prefiltered
    join would still carry). This is the external record for the
    runtime-filter family (Spark's own bloom pushdown is
    engine-internal and unobservable); the md5 replay proves the exact
    bit positions and the FP accounting. Scale: the filter is a fixed
    64 K-position set (broadcastable KBs regardless of fact size), the
    probe is 3 hashes per row, and membership is a position equi-join
    — never a key-set shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    keys = orders.select(F.col("o_custkey").alias("k")).distinct()
    pos = (
        keys.select(
            F.explode(F.sequence(F.lit(0), F.lit(2))).alias("i"), "k"
        )
        .select(
            (
                md5_40(F.expr("concat(cast(i AS STRING), ':', cast(k AS STRING))"))
                % 65536
            ).alias("p")
        )
        .distinct()
    )
    probe = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("i"),
    ).withColumn(
        "p",
        md5_40(F.expr("concat(cast(i AS STRING), ':', cast(c_custkey AS STRING))"))
        % 65536,
    )
    hits = (
        probe.join(F.broadcast(pos), "p")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("*").alias("n_hit"))
    )
    verdict = (
        cust.select("c_custkey", "c_mktsegment")
        .join(hits.select("c_custkey", "n_hit"), "c_custkey", "left")
        .join(
            keys.select(F.col("k").alias("c_custkey"), F.lit(1).alias("in_o")),
            "c_custkey",
            "left",
        )
        .select(
            "c_mktsegment",
            F.when(F.coalesce(F.col("n_hit"), F.lit(0)) == 3, 1)
            .otherwise(0)
            .alias("bloom_pass"),
            F.when(F.col("in_o").isNotNull(), 1).otherwise(0).alias("truly_in"),
        )
    )
    return (
        verdict.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("truly_in").cast("long").alias("n_in_orders"),
            F.sum("bloom_pass").cast("long").alias("n_bloom_pass"),
            (F.sum("bloom_pass") - F.sum("truly_in"))
            .cast("long")
            .alias("n_false_pos"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q_skew_audit",
    oracle="""
    WITH fams AS (
        SELECT 'lineitem.l_partkey' AS family, l_partkey AS k FROM lineitem
        UNION ALL
        SELECT 'lineitem.l_suppkey', l_suppkey FROM lineitem
        UNION ALL
        SELECT 'orders.o_custkey', o_custkey FROM orders
        UNION ALL
        SELECT 'events.user_id', user_id FROM events
    ),
    counts AS (
        SELECT family, k, count(*) AS cnt
        FROM fams GROUP BY family, k
    ),
    tot2 AS (
        SELECT family, sum(cnt) AS n_rows, count(*) AS n_keys,
               max(cnt) AS max_cnt
        FROM counts GROUP BY family
    ),
    top AS (
        SELECT c.family, min(c.k) AS top_key
        FROM counts c JOIN tot2 t
          ON t.family = c.family AND c.cnt = t.max_cnt
        GROUP BY c.family
    ),
    hot AS (
        SELECT c.family,
               sum(CASE WHEN c.cnt * t.n_keys > 2 * t.n_rows
                        THEN 1 ELSE 0 END) AS n_hot_keys
        FROM counts c JOIN tot2 t ON t.family = c.family
        GROUP BY c.family
    )
    SELECT t.family,
           CAST(t.n_rows AS BIGINT)  AS n_rows,
           CAST(t.n_keys AS BIGINT)  AS n_keys,
           CAST(t.max_cnt AS BIGINT) AS max_cnt,
           CAST(t.max_cnt * 10000 // t.n_rows AS BIGINT) AS max_share_bp,
           p.top_key,
           CAST(h.n_hot_keys AS BIGINT) AS n_hot_keys
    FROM tot2 t
    JOIN top p ON p.family = t.family
    JOIN hot h ON h.family = t.family
    ORDER BY t.family
    """,
)
def q_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew audit across the four join-key families a
    planner actually shuffles on (l_partkey, l_suppkey, o_custkey,
    events.user_id): rows, distinct keys, the hottest key and its
    basis-point share, and the count of keys above 2× the mean
    (integer-multiply test cnt·n_keys > 2·n_rows — no division, no
    float). This is the diagnostic that decides between plain hash
    join, AQE skew split, and operators/skew.salted_join — measured,
    not guessed. Scale: each family collapses to per-key counts with
    map-side partials (the same shuffle the audited join would do,
    once), and everything after runs on |keys| rows; the four family
    scans stay independent (no cross-family shuffle)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    fams = (
        li.select(F.lit("lineitem.l_partkey").alias("family"),
                  F.col("l_partkey").alias("k"))
        .unionAll(li.select(F.lit("lineitem.l_suppkey"),
                            F.col("l_suppkey")))
        .unionAll(orders.select(F.lit("orders.o_custkey"),
                                F.col("o_custkey")))
        .unionAll(ev.select(F.lit("events.user_id"), F.col("user_id")))
    )
    counts = fams.groupBy("family", "k").agg(F.count("*").alias("cnt"))
    tot = counts.groupBy("family").agg(
        F.sum("cnt").alias("n_rows"),
        F.count("*").alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
    )
    top = (
        counts.join(F.broadcast(tot), "family")
        .where(F.col("cnt") == F.col("max_cnt"))
        .groupBy("family")
        .agg(F.min("k").alias("top_key"))
    )
    hot = (
        counts.join(F.broadcast(tot), "family")
        .groupBy("family")
        .agg(
            F.sum(
                F.when(
                    F.col("cnt") * F.col("n_keys") > 2 * F.col("n_rows"), 1
                ).otherwise(0)
            ).alias("n_hot_keys")
        )
    )
    return (
        tot.join(top, "family")
        .join(hot, "family")
        .select(
            "family",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_keys").cast("long").alias("n_keys"),
            F.col("max_cnt").cast("long").alias("max_cnt"),
            F.expr("CAST(max_cnt * 10000 div n_rows AS BIGINT)").alias(
                "max_share_bp"
            ),
            "top_key",
            F.col("n_hot_keys").cast("long").alias("n_hot_keys"),
        )
        .orderBy("family")
    )


@query(
    "q_cuped_adjust",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 10)
                    AS BIGINT) % 2 AS variant,
               sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                        THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                        ELSE 0 END) AS x,
               sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                        THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                        ELSE 0 END) AS y
        FROM events GROUP BY user_id
    ),
    pooled AS (
        SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx, sum(x * y) AS sxy
        FROM per_user
    ),
    theta AS (
        SELECT n, sx,
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)
                   AS th
        FROM pooled
    ),
    per_variant AS (
        SELECT variant, count(*) AS nv, sum(x) AS sxv, sum(y) AS syv
        FROM per_user GROUP BY variant
    )
    SELECT v.variant,
           CAST(v.nv AS BIGINT) AS n_users,
           CAST(floor(CAST(v.syv AS DOUBLE) / v.nv * 100) AS BIGINT)
               AS mean_post_e2,
           CAST(floor((CAST(v.syv AS DOUBLE) / v.nv
                       - t.th * (CAST(v.sxv AS DOUBLE) / v.nv
                                 - CAST(t.sx AS DOUBLE) / t.n)) * 100)
                AS BIGINT) AS mean_adj_e2,
           CAST(floor(t.th * 1000000) AS BIGINT) AS theta_e6
    FROM per_variant v CROSS JOIN theta t
    ORDER BY v.variant
    """,
)
def q_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al., WSDM
    2013 — public method): users md5-split into two variants, the
    post-period metric (value cents after 2024-01-16) adjusted by the
    pre-period covariate with the pooled theta = cov(x,y)/var(x).
    Moments are EXACT int64 sums of e2-quantized cents; theta and the
    adjusted means are one token-identical double chain on both
    engines (identical operands ⇒ identical IEEE doubles ⇒ identical
    e2/e6 floors — the q_ab_welch discipline). Degenerate var(x)
    nullifs. Scale: one keyed per-user aggregate, one 5-integer pooled
    row broadcast back over the 2-row variant table — the covariate
    sweep never re-scans the events fact."""
    ev = load_table(spark, sf_dir, "events")
    cut = "TIMESTAMP '2024-01-16 00:00:00'"
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.expr(
                f"CASE WHEN ts < {cut}"
                " THEN CAST(floor(value * 100 + 0.5) AS BIGINT)"
                " ELSE CAST(0 AS BIGINT) END"
            )
        ).alias("x"),
        F.sum(
            F.expr(
                f"CASE WHEN ts >= {cut}"
                " THEN CAST(floor(value * 100 + 0.5) AS BIGINT)"
                " ELSE CAST(0 AS BIGINT) END"
            )
        ).alias("y"),
    ).select(
        (md5_40(F.col("user_id").cast("string")) % 2).alias("variant"),
        "x",
        "y",
    )
    pooled = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("x * y")).alias("sxy"),
    )
    theta = pooled.select(
        "n",
        "sx",
        F.expr(
            "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
            " / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
            "          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0D)"
        ).alias("th"),
    )
    per_variant = per_user.groupBy("variant").agg(
        F.count("*").alias("nv"),
        F.sum("x").alias("sxv"),
        F.sum("y").alias("syv"),
    )
    return (
        per_variant.crossJoin(F.broadcast(theta))
        .select(
            "variant",
            F.col("nv").cast("long").alias("n_users"),
            F.expr(
                "CAST(floor(CAST(syv AS DOUBLE) / nv * 100) AS BIGINT)"
            ).alias("mean_post_e2"),
            F.expr(
                "CAST(floor((CAST(syv AS DOUBLE) / nv"
                " - th * (CAST(sxv AS DOUBLE) / nv"
                "          - CAST(sx AS DOUBLE) / n)) * 100) AS BIGINT)"
            ).alias("mean_adj_e2"),
            F.expr("CAST(floor(th * 1000000) AS BIGINT)").alias("theta_e6"),
        )
        .orderBy("variant")
    )


@query(
    "q_did_estimator",
    oracle="""
    WITH panel AS (
        SELECT c.c_mktsegment,
               CAST('0x' || substr(md5(CAST(c.c_custkey AS VARCHAR)), 1, 10)
                    AS BIGINT) % 2 AS treated,
               CASE WHEN o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
                    THEN 1 ELSE 0 END AS post,
               CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    cells AS (
        SELECT c_mktsegment,
               sum(CASE WHEN treated = 1 AND post = 0 THEN cents END) AS s_tp0,
               sum(CASE WHEN treated = 1 AND post = 0 THEN 1 END)     AS n_tp0,
               sum(CASE WHEN treated = 1 AND post = 1 THEN cents END) AS s_tp1,
               sum(CASE WHEN treated = 1 AND post = 1 THEN 1 END)     AS n_tp1,
               sum(CASE WHEN treated = 0 AND post = 0 THEN cents END) AS s_cp0,
               sum(CASE WHEN treated = 0 AND post = 0 THEN 1 END)     AS n_cp0,
               sum(CASE WHEN treated = 0 AND post = 1 THEN cents END) AS s_cp1,
               sum(CASE WHEN treated = 0 AND post = 1 THEN 1 END)     AS n_cp1
        FROM panel GROUP BY c_mktsegment
    )
    SELECT c_mktsegment,
           CAST(n_tp0 + n_tp1 + n_cp0 + n_cp1 AS BIGINT) AS n_orders,
           CAST(floor(CAST(s_tp0 AS DOUBLE) / n_tp0 * 100) AS BIGINT)
               AS mean_treat_pre_e2,
           CAST(floor(CAST(s_tp1 AS DOUBLE) / n_tp1 * 100) AS BIGINT)
               AS mean_treat_post_e2,
           CAST(floor(CAST(s_cp0 AS DOUBLE) / n_cp0 * 100) AS BIGINT)
               AS mean_ctrl_pre_e2,
           CAST(floor(CAST(s_cp1 AS DOUBLE) / n_cp1 * 100) AS BIGINT)
               AS mean_ctrl_post_e2,
           CAST(floor((CAST(s_tp1 AS DOUBLE) / n_tp1
                       - CAST(s_tp0 AS DOUBLE) / n_tp0
                       - (CAST(s_cp1 AS DOUBLE) / n_cp1
                          - CAST(s_cp0 AS DOUBLE) / n_cp0)) * 100)
                AS BIGINT) AS did_e2
    FROM cells
    ORDER BY c_mktsegment
    """,
)
def q_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator per market segment:
    md5-parity customer cohorts (treated/control), pre/post split at
    1998-01-01, cell means of order value cents, and DiD = (ΔT − ΔC)
    — the standard causal-panel readout, exact to the representation:
    integer cent sums per cell, one token-identical double division
    chain, e2 floors (CLAUDE.md divergence classes all avoided). NULL
    cells (a segment with an empty cohort-period) propagate NULL
    rather than crash — sum(CASE…END) with no ELSE. Scale: one fact
    join to the customer dim, one keyed aggregate to |segments| × 8
    integers; nothing downstream touches fact rows."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    panel = orders.join(
        cust, cust["c_custkey"] == orders["o_custkey"]
    ).select(
        "c_mktsegment",
        (md5_40(F.col("c_custkey").cast("string")) % 2).alias("treated"),
        F.expr(
            "CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'"
            " THEN 1 ELSE 0 END"
        ).alias("post"),
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    cells = panel.groupBy("c_mktsegment").agg(
        *[
            F.sum(
                F.expr(
                    f"CASE WHEN treated = {t} AND post = {p} THEN {v} END"
                )
            ).alias(f"{a}_{'t' if t else 'c'}p{p}")
            for t in (1, 0)
            for p in (0, 1)
            for a, v in (("s", "cents"), ("n", "1"))
        ]
    )
    return cells.select(
        "c_mktsegment",
        F.expr("CAST(n_tp0 + n_tp1 + n_cp0 + n_cp1 AS BIGINT)").alias(
            "n_orders"
        ),
        F.expr(
            "CAST(floor(CAST(s_tp0 AS DOUBLE) / n_tp0 * 100) AS BIGINT)"
        ).alias("mean_treat_pre_e2"),
        F.expr(
            "CAST(floor(CAST(s_tp1 AS DOUBLE) / n_tp1 * 100) AS BIGINT)"
        ).alias("mean_treat_post_e2"),
        F.expr(
            "CAST(floor(CAST(s_cp0 AS DOUBLE) / n_cp0 * 100) AS BIGINT)"
        ).alias("mean_ctrl_pre_e2"),
        F.expr(
            "CAST(floor(CAST(s_cp1 AS DOUBLE) / n_cp1 * 100) AS BIGINT)"
        ).alias("mean_ctrl_post_e2"),
        F.expr(
            "CAST(floor((CAST(s_tp1 AS DOUBLE) / n_tp1"
            " - CAST(s_tp0 AS DOUBLE) / n_tp0"
            " - (CAST(s_cp1 AS DOUBLE) / n_cp1"
            "    - CAST(s_cp0 AS DOUBLE) / n_cp0)) * 100) AS BIGINT)"
        ).alias("did_e2"),
    ).orderBy("c_mktsegment")


@query(
    "q_lag_features",
    oracle="""
    WITH sampled AS (
        SELECT o_custkey, o_orderkey, o_orderdate,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders WHERE o_custkey % 50 = 0
    ),
    feat AS (
        SELECT o_custkey, o_orderkey, cents,
               lag(cents, 1) OVER w AS lag1_cents,
               lag(cents, 2) OVER w AS lag2_cents,
               sum(cents) OVER (w ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
                   AS prev3_sum,
               count(*) OVER (w ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
                   AS prev3_n,
               date_diff('day',
                         CAST(lag(o_orderdate, 1) OVER w AS DATE),
                         CAST(o_orderdate AS DATE)) AS days_since_prev
        FROM sampled
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    )
    SELECT o_custkey, o_orderkey, cents, lag1_cents, lag2_cents,
           CAST(prev3_sum * 100 // nullif(prev3_n, 0) AS BIGINT)
               AS prev3_avg_e2c,
           CAST(days_since_prev AS BIGINT) AS days_since_prev
    FROM feat
    ORDER BY o_custkey, o_orderkey
    """,
)
def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series feature generation for a per-customer model: lag-1/
    lag-2 order values, the exact rolling mean of the previous three
    orders (integer sum·100 // count — no float), and days since the
    previous order, over a deterministic 2% customer sample
    (o_custkey % 50). The training-pipeline shape: keyed windows
    ordered by event time with a unique tie-break, NULL (not zero) for
    features that don't exist yet — exactly what a leakage-safe
    feature store emits. Scale: the sample predicate pushes to the
    scan BEFORE the window shuffle, windows partition by customer
    (bounded rows per key), and every frame is O(1) state."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(-3, -1)
    sampled = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_custkey") % 50 == 0)
        .select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
                "cents"
            ),
        )
    )
    feat = sampled.select(
        "o_custkey",
        "o_orderkey",
        "cents",
        F.lag("cents", 1).over(w).alias("lag1_cents"),
        F.lag("cents", 2).over(w).alias("lag2_cents"),
        F.sum("cents").over(wf).alias("prev3_sum"),
        F.count("*").over(wf).alias("prev3_n"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag("o_orderdate", 1).over(w).cast("date"),
        ).alias("days_since_prev"),
    )
    return feat.select(
        "o_custkey",
        "o_orderkey",
        "cents",
        "lag1_cents",
        "lag2_cents",
        F.expr(
            "CAST(prev3_sum * 100 div nullif(prev3_n, 0) AS BIGINT)"
        ).alias("prev3_avg_e2c"),
        F.col("days_since_prev").cast("long").alias("days_since_prev"),
    ).orderBy("o_custkey", "o_orderkey")


@query(
    "q_stream_left_join",
    oracle="""
    WITH p AS (
        SELECT user_id AS pu, ts AS pts, value AS pv
        FROM events WHERE event_type = 'purchase'
    ),
    a AS (
        SELECT user_id AS au, ts AS ats, event_type AS atype
        FROM events WHERE event_type <> 'purchase'
    ),
    j AS (
        SELECT pu, pts, pv, atype
        FROM p LEFT JOIN a
          ON au = pu AND ats <= pts AND ats >= pts - INTERVAL 30 MINUTE
    )
    SELECT coalesce(atype, '(none)') AS a_type,
           count(*) AS n_pairs,
           count(DISTINCT CAST(pu AS VARCHAR) || ':'
                 || CAST(epoch_us(pts) AS VARCHAR)) AS n_purchases,
           CAST(sum(CAST(floor(pv * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_value_cents
    FROM j
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream join under the hash gate: purchases
    left-joined to the same user's preceding 30-minute activity with
    watermarks on both sides
    (streaming/pipeline.unattributed_purchases_stream), replayed file-
    by-file and FLUSHED by two far-future sentinel micro-batches that
    push both watermarks past every real purchase — the state-store
    eviction that emits null-extended rows is exactly what's under
    external check, because an outer join that never flushes looks
    identical to an inner join. The completed replay, sentinels
    excluded, must equal DuckDB's batch left join, summarized per
    attribution type (matched pair counts, distinct purchases, exact
    cent sums). Scale: state is bounded at watermark + horizon per
    side (the condition bounds event time on BOTH ends); the sentinel
    trick is the hermetic-test analogue of production's continuous
    watermark advance."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from mapreduce_llm_spark.queries.streaming_queries import (
        _publish_stream_source,
        _run_ids,
    )
    from mapreduce_llm_spark.streaming.pipeline import (
        run_to_memory,
        stream_events,
        unattributed_purchases_stream,
    )

    base = _publish_stream_source(spark, sf_dir)
    src = _tempfile.mkdtemp(prefix=f"q_stream_loj_{next(_run_ids)}_")
    files = sorted(f for f in _os.listdir(base) if f.endswith(".parquet"))
    t0 = _os.path.getmtime(_os.path.join(base, files[0]))
    for i, f in enumerate(files):
        dst = _os.path.join(src, f)
        _shutil.copy(_os.path.join(base, f), dst)
        _os.utime(dst, (t0 + i, t0 + i))
    max_ts = (
        load_table(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
    )
    import datetime as _dt

    for i, days in enumerate((10, 11)):
        sent_ts = max_ts + _dt.timedelta(days=days)
        table = _pa.table(
            {
                "event_id": _pa.array(
                    [9_000_000 + 2 * i, 9_000_001 + 2 * i], _pa.int64()
                ),
                "ts": _pa.array([sent_ts] * 2, _pa.timestamp("us")),
                "user_id": _pa.array([999_901 + i] * 2, _pa.int64()),
                "event_type": _pa.array(["purchase", "click"], _pa.string()),
                "value": _pa.array([0.0, 0.0], _pa.float64()),
                "props": _pa.array(["", ""], _pa.string()),
            }
        )
        p = _os.path.join(src, f"zz{i}.parquet")
        _pq.write_table(table, p)
        _os.utime(p, (t0 + 100 + i, t0 + 100 + i))
    name = f"q_stream_loj_mem_{next(_run_ids)}_{_os.getpid()}"
    got = run_to_memory(
        unattributed_purchases_stream(
            stream_events(spark, src, max_files_per_trigger=1)
        ),
        name,
        output_mode="append",
    ).filter(F.col("p_user") < 999_900)
    summary = (
        got.groupBy(
            F.coalesce(F.col("a_type"), F.lit("(none)")).alias("a_type")
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct(
                F.expr("concat(cast(p_user AS STRING), ':',"
                       " cast(unix_micros(p_ts) AS STRING))")
            ).alias("n_purchases"),
            F.sum(
                F.expr("CAST(floor(p_value * 100 + 0.5) AS BIGINT)")
            ).cast("long").alias("sum_value_cents"),
        )
        .orderBy("a_type")
    )
    # materialize before the scratch source disappears
    out = spark.createDataFrame(summary.collect(), schema=summary.schema)
    _shutil.rmtree(src, ignore_errors=True)
    return out.orderBy("a_type")


# ---------------------------------------------------------------------------
# Tranche 5 — planner/layout/storage audits (CBO cardinality, RLE/dict
# compression advisory, timestamp delta-encoding), ranking drift,
# positional inverted index, PQ/k-means exact-replay vector steps, and
# the hourly load profile.
# ---------------------------------------------------------------------------


@query(
    "q_join_card_audit",
    oracle="""
    WITH legs AS (
        SELECT 'lineitem*orders/orderkey' AS join_id, l_orderkey AS k,
               1 AS side FROM lineitem
        UNION ALL
        SELECT 'lineitem*orders/orderkey', o_orderkey, 2 FROM orders
        UNION ALL
        SELECT 'lineitem*part/partkey', l_partkey, 1 FROM lineitem
        UNION ALL
        SELECT 'lineitem*part/partkey', p_partkey, 2 FROM part
        UNION ALL
        SELECT 'orders*customer/custkey', o_custkey, 1 FROM orders
        UNION ALL
        SELECT 'orders*customer/custkey', c_custkey, 2 FROM customer
    ),
    hist AS (
        SELECT join_id, k,
               sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS na,
               sum(CASE WHEN side = 2 THEN 1 ELSE 0 END) AS nb
        FROM legs GROUP BY join_id, k
    ),
    agg AS (
        SELECT join_id,
               sum(na)                     AS n_left,
               sum(nb)                     AS n_right,
               sum(CASE WHEN na > 0 THEN 1 ELSE 0 END) AS d_left,
               sum(CASE WHEN nb > 0 THEN 1 ELSE 0 END) AS d_right,
               sum(na * nb)                AS exact_card
        FROM hist GROUP BY join_id
    )
    SELECT join_id,
           CAST(n_left AS BIGINT)  AS n_left,
           CAST(n_right AS BIGINT) AS n_right,
           CAST(d_left AS BIGINT)  AS d_left,
           CAST(d_right AS BIGINT) AS d_right,
           CAST(exact_card AS BIGINT) AS exact_card,
           CAST(n_left * n_right // greatest(d_left, d_right) AS BIGINT)
               AS uniform_est,
           CAST((n_left * n_right // greatest(d_left, d_right))
                * 10000 // nullif(exact_card, 0) AS BIGINT) AS est_ratio_bp
    FROM agg
    ORDER BY join_id
    """,
)
def q_join_card_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation audit — the CBO sanity check run
    WITHOUT executing any join: per-key histograms of both sides give
    the exact equi-join output size (Σ nₐ·n_b over shared keys), which
    the audit compares against the textbook uniform-distribution
    estimate |A|·|B|/max(dₐ,d_b) that cost-based optimizers (and
    Spark's CBO stats) actually use. est_ratio_bp ≈ 10000 means the
    uniform assumption holds; large deviations mark joins where AQE /
    salting / broadcast decisions need real histograms. Scale: one
    union scan → one keyed count aggregate per join (map-side
    partials); the audited joins are never materialized, so the audit
    costs one shuffle per join regardless of output size."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    cust = load_table(spark, sf_dir, "customer")

    def leg(join_id: str, df: DataFrame, key: str, side: int) -> DataFrame:
        return df.select(
            F.lit(join_id).alias("join_id"),
            F.col(key).alias("k"),
            F.lit(side).alias("side"),
        )

    legs = (
        leg("lineitem*orders/orderkey", li, "l_orderkey", 1)
        .unionAll(leg("lineitem*orders/orderkey", orders, "o_orderkey", 2))
        .unionAll(leg("lineitem*part/partkey", li, "l_partkey", 1))
        .unionAll(leg("lineitem*part/partkey", part, "p_partkey", 2))
        .unionAll(leg("orders*customer/custkey", orders, "o_custkey", 1))
        .unionAll(leg("orders*customer/custkey", cust, "c_custkey", 2))
    )
    hist = legs.groupBy("join_id", "k").agg(
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("side") == 2, 1).otherwise(0)).alias("nb"),
    )
    agg = hist.groupBy("join_id").agg(
        F.sum("na").alias("n_left"),
        F.sum("nb").alias("n_right"),
        F.sum(F.when(F.col("na") > 0, 1).otherwise(0)).alias("d_left"),
        F.sum(F.when(F.col("nb") > 0, 1).otherwise(0)).alias("d_right"),
        F.sum(F.expr("na * nb")).alias("exact_card"),
    )
    return agg.select(
        "join_id",
        F.col("n_left").cast("long").alias("n_left"),
        F.col("n_right").cast("long").alias("n_right"),
        F.col("d_left").cast("long").alias("d_left"),
        F.col("d_right").cast("long").alias("d_right"),
        F.col("exact_card").cast("long").alias("exact_card"),
        F.expr(
            "CAST(n_left * n_right div greatest(d_left, d_right) AS BIGINT)"
        ).alias("uniform_est"),
        F.expr(
            "CAST((n_left * n_right div greatest(d_left, d_right))"
            " * 10000 div nullif(exact_card, 0) AS BIGINT)"
        ).alias("est_ratio_bp"),
    ).orderBy("join_id")


@query(
    "q_compress_advisory",
    oracle="""
    WITH src AS (
        SELECT year(o_orderdate) AS part_year, o_orderdate, o_orderkey,
               o_orderstatus, o_orderpriority,
               CAST(o_custkey AS VARCHAR) AS o_custkey_s
        FROM orders
    ),
    cols AS (
        SELECT part_year, o_orderdate, o_orderkey,
               'o_orderstatus' AS col, o_orderstatus AS v FROM src
        UNION ALL
        SELECT part_year, o_orderdate, o_orderkey,
               'o_orderpriority', o_orderpriority FROM src
        UNION ALL
        SELECT part_year, o_orderdate, o_orderkey,
               'o_custkey', o_custkey_s FROM src
    ),
    runs AS (
        SELECT col, part_year, v,
               CASE WHEN lag(v) OVER w IS DISTINCT FROM v
                    THEN 1 ELSE 0 END AS is_run_start
        FROM cols
        WINDOW w AS (PARTITION BY col, part_year
                     ORDER BY o_orderdate, o_orderkey)
    ),
    stats AS (
        SELECT col,
               count(*)             AS n_rows,
               count(DISTINCT v)    AS n_distinct,
               sum(is_run_start)    AS n_runs
        FROM runs GROUP BY col
    )
    SELECT col,
           CAST(n_rows AS BIGINT)     AS n_rows,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           CAST(n_runs AS BIGINT)     AS n_runs,
           CAST(n_runs * 10000 // n_rows AS BIGINT) AS run_ratio_bp,
           CASE WHEN n_runs * 8 < n_rows THEN 'RLE'
                WHEN n_distinct * 100 < n_rows THEN 'DICT'
                ELSE 'PLAIN' END AS advisory
    FROM stats
    ORDER BY col
    """,
)
def q_compress_advisory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-encoding advisory for the date-partitioned write layout:
    with orders laid out one partition per year and sorted by
    (o_orderdate, o_orderkey) inside each — the write_range_sorted
    layout — count each column's partition-local RLE runs and global
    distinct cardinality, and emit the encoding a parquet writer
    should pick (RLE when the sorted layout makes runs 8× shorter than
    rows, dictionary when cardinality is < 1% of rows, plain
    otherwise). This is the measured version of the guess behind every
    'sort before write' recommendation. Scale: run counting uses ONLY
    keyed windows (partition = the write partition, exactly the rows
    one writer task sees — the window shuffle IS the write shuffle);
    no global sort anywhere."""
    src = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("part_year"),
        "o_orderdate",
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.col("o_custkey").cast("string").alias("o_custkey_s"),
    )
    cols = (
        src.select(
            "part_year", "o_orderdate", "o_orderkey",
            F.lit("o_orderstatus").alias("col"),
            F.col("o_orderstatus").alias("v"),
        )
        .unionAll(
            src.select(
                "part_year", "o_orderdate", "o_orderkey",
                F.lit("o_orderpriority"), F.col("o_orderpriority"),
            )
        )
        .unionAll(
            src.select(
                "part_year", "o_orderdate", "o_orderkey",
                F.lit("o_custkey"), F.col("o_custkey_s"),
            )
        )
    )
    runs = cols.select(
        "col",
        "v",
        F.expr(
            "CASE WHEN NOT (lag(v) OVER (PARTITION BY col, part_year"
            " ORDER BY o_orderdate, o_orderkey) <=> v)"
            " THEN 1 ELSE 0 END"
        ).alias("is_run_start"),
    )
    stats = runs.groupBy("col").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("v").alias("n_distinct"),
        F.sum("is_run_start").alias("n_runs"),
    )
    return stats.select(
        "col",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.col("n_runs").cast("long").alias("n_runs"),
        F.expr("CAST(n_runs * 10000 div n_rows AS BIGINT)").alias(
            "run_ratio_bp"
        ),
        F.expr(
            "CASE WHEN n_runs * 8 < n_rows THEN 'RLE'"
            " WHEN n_distinct * 100 < n_rows THEN 'DICT'"
            " ELSE 'PLAIN' END"
        ).alias("advisory"),
    ).orderBy("col")


@query(
    "q_topk_overlap",
    oracle="""
    WITH rev AS (
        SELECT p.p_brand,
               CASE WHEN o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
                    THEN 1 ELSE 0 END AS period,
               CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    ranked AS (
        SELECT period, p_brand,
               row_number() OVER (PARTITION BY period
                                  ORDER BY sum(cents) DESC, p_brand) AS rnk
        FROM rev GROUP BY period, p_brand
    ),
    ks AS (SELECT unnest([5, 10, 20]) AS k),
    pre AS (SELECT k, p_brand, rnk FROM ranked, ks
            WHERE period = 0 AND rnk <= k),
    post AS (SELECT k, p_brand, rnk FROM ranked, ks
             WHERE period = 1 AND rnk <= k),
    ov AS (
        SELECT pre.k,
               count(*) AS n_common,
               max(abs(pre.rnk - post.rnk)) AS max_displacement
        FROM pre JOIN post ON post.k = pre.k AND post.p_brand = pre.p_brand
        GROUP BY pre.k
    )
    SELECT ks.k,
           CAST(coalesce(ov.n_common, 0) AS BIGINT) AS n_common,
           CAST(coalesce(ov.n_common, 0) * 10000 //
                (2 * ks.k - coalesce(ov.n_common, 0)) AS BIGINT)
               AS jaccard_e4,
           CAST(ov.max_displacement AS BIGINT) AS max_displacement
    FROM ks LEFT JOIN ov ON ov.k = ks.k
    ORDER BY ks.k
    """,
)
def q_topk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-drift metric between the pre- and post-1998 brand
    revenue leaderboards: Jaccard overlap of the top-k sets and the
    worst rank displacement among common members, at k = 5/10/20 —
    the monitoring readout that tells a recommender/report owner
    whether 'top brands' is stable across a data refresh. Revenue is
    exact cents; ranks use the deterministic (revenue DESC, brand)
    tie-break. Scale: one keyed aggregate to |period × brands| cells;
    ranking windows run on those cells, never on fact rows; the
    overlap join is at most k rows per side."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    orders = load_table(spark, sf_dir, "orders")
    rev = (
        li.join(part, part["p_partkey"] == li["l_partkey"])
        .join(orders, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            "p_brand",
            F.expr(
                "CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'"
                " THEN 1 ELSE 0 END"
            ).alias("period"),
            F.expr(
                "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
            ).alias("cents"),
        )
    )
    ranked = (
        rev.groupBy("period", "p_brand")
        .agg(F.sum("cents").alias("s"))
        .select(
            "period",
            "p_brand",
            F.row_number()
            .over(
                Window.partitionBy("period").orderBy(
                    F.desc("s"), F.col("p_brand")
                )
            )
            .alias("rnk"),
        )
    )
    ks = spark.range(1).select(
        F.explode(F.array(F.lit(5), F.lit(10), F.lit(20))).alias("k")
    )
    pre = ks.crossJoin(ranked.where(F.col("period") == 0)).where(
        F.col("rnk") <= F.col("k")
    )
    post = (
        ks.crossJoin(ranked.where(F.col("period") == 1))
        .where(F.col("rnk") <= F.col("k"))
        .select(
            F.col("k").alias("k2"),
            F.col("p_brand").alias("b2"),
            F.col("rnk").alias("rnk2"),
        )
    )
    ov = (
        pre.join(
            post,
            (F.col("k2") == F.col("k")) & (F.col("b2") == F.col("p_brand")),
        )
        .groupBy("k")
        .agg(
            F.count("*").alias("n_common"),
            F.max(F.expr("abs(rnk - rnk2)")).alias("max_displacement"),
        )
    )
    return (
        ks.join(ov, "k", "left")
        .select(
            "k",
            F.coalesce(F.col("n_common"), F.lit(0))
            .cast("long")
            .alias("n_common"),
            F.expr(
                "CAST(coalesce(n_common, 0) * 10000 div"
                " (2 * k - coalesce(n_common, 0)) AS BIGINT)"
            ).alias("jaccard_e4"),
            F.col("max_displacement").cast("long").alias("max_displacement"),
        )
        .orderBy("k")
    )


@query(
    "q_inverted_positions",
    oracle=r"""
    WITH ws AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                           w -> w <> '') AS words
        FROM documents
    ),
    postings AS (
        SELECT doc_id,
               unnest(words) AS w,
               unnest(generate_series(1, len(words))) AS pos
        FROM ws
    ),
    stats AS (
        SELECT w,
               count(DISTINCT doc_id) AS df,
               count(*) AS cf,
               sum(CAST('0x' || substr(md5(w || ':'
                        || CAST(doc_id AS VARCHAR) || ':'
                        || CAST(pos AS VARCHAR)), 1, 10) AS BIGINT))
                   AS postings_checksum
        FROM postings GROUP BY w
    )
    SELECT w AS word,
           CAST(df AS BIGINT) AS df,
           CAST(cf AS BIGINT) AS cf,
           CAST(postings_checksum AS BIGINT) AS postings_checksum
    FROM stats
    ORDER BY df DESC, word
    LIMIT 25
    """,
)
def q_inverted_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted index audit: for the 25 highest-df terms,
    document frequency, collection frequency, and an order-free
    md5-40 checksum over every (term, doc, position) posting — the
    artifact a phrase-query / proximity-search index build must get
    bit-exact, externally proven without emitting the (banned) list
    cells themselves. The checksum is a SUM of 40-bit terms, so it is
    associative-safe under any partitioning (CLAUDE.md md5-arithmetic
    idiom: signed-64 sums of 40-bit terms stay exact to ~8.4M postings
    per term; beyond that the same sum moves to DECIMAL(38,0)
    unchanged — the q_ab_welch escalation path). Scale: one
    posexplode scan → one keyed aggregate with map-side partials;
    the top-25 cut is a TakeOrdered, not a global sort."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            r"filter(split(trim(lower(text)), '\\s+'), w -> w != '')"
        ).alias("words"),
    )
    postings = d.select(
        "doc_id", F.posexplode("words").alias("pos0", "w")
    ).select("doc_id", "w", (F.col("pos0") + 1).alias("pos"))
    stats = postings.groupBy("w").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count("*").alias("cf"),
        F.sum(
            md5_40(
                F.expr(
                    "concat(w, ':', cast(doc_id AS STRING), ':',"
                    " cast(pos AS STRING))"
                )
            )
        ).alias("postings_checksum"),
    )
    return (
        stats.select(
            F.col("w").alias("word"),
            F.col("df").cast("long").alias("df"),
            F.col("cf").cast("long").alias("cf"),
            F.col("postings_checksum").cast("long").alias("postings_checksum"),
        )
        .orderBy(F.desc("df"), "word")
        .limit(25)
    )


@query(
    "q_delta_encode",
    oracle="""
    WITH deltas AS (
        SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS d_us
        FROM events
    ),
    bucketed AS (
        SELECT length(bin(d_us)) AS n_bits
        FROM deltas WHERE d_us IS NOT NULL
    )
    SELECT CAST(n_bits AS BIGINT) AS n_bits,
           count(*) AS n_deltas,
           CAST(sum(n_bits) AS BIGINT) AS sum_bits,
           CAST(count(*) * 64 - sum(n_bits) AS BIGINT) AS saved_bits
    FROM bucketed
    GROUP BY n_bits
    ORDER BY n_bits
    """,
)
def q_delta_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp delta-encoding audit for the event stream: per-user
    consecutive µs gaps, bucketed by their exact binary width
    (length(bin(Δ)) — integer-exact on both engines, no float log2),
    with the bit savings vs storing raw 64-bit timestamps — the
    measured case for delta+varint encoding in a time-series layout
    (the Gorilla-paper premise, audited on real data). Scale: one
    keyed window (per-user, bounded rows) and one small aggregate;
    the histogram is at most 64 rows regardless of corpus size."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    deltas = ev.select(
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.lag(F.unix_micros(F.col("ts").cast("timestamp"))).over(w)
        ).alias("d_us")
    ).where(F.col("d_us").isNotNull())
    bucketed = deltas.select(
        F.length(F.bin(F.col("d_us"))).cast("long").alias("n_bits")
    )
    return (
        bucketed.groupBy("n_bits")
        .agg(
            F.count("*").alias("n_deltas"),
            F.sum("n_bits").cast("long").alias("sum_bits"),
            (F.count("*") * 64 - F.sum("n_bits"))
            .cast("long")
            .alias("saved_bits"),
        )
        .orderBy("n_bits")
    )


@query(
    "q_hourly_profile",
    oracle="""
    WITH h AS (
        SELECT event_type, hour(ts) AS hr,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    c AS (
        SELECT event_type, hr, count(*) AS n_events,
               sum(cents) AS sum_cents
        FROM h GROUP BY event_type, hr
    ),
    m AS (
        SELECT *,
               sum(n_events) OVER (PARTITION BY event_type) AS type_total,
               max(n_events) OVER (PARTITION BY event_type) AS type_peak
        FROM c
    )
    SELECT event_type,
           CAST(hr AS BIGINT) AS hr,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(sum_cents AS BIGINT) AS sum_cents,
           CAST(n_events * 10000 // type_total AS BIGINT) AS share_bp,
           CASE WHEN n_events = type_peak THEN 1 ELSE 0 END AS is_peak
    FROM m
    ORDER BY event_type, hr
    """,
)
def q_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day load profile per event type: volume, exact cent
    value, basis-point share of the type's traffic, and a peak-hour
    flag — the capacity-planning readout that sizes streaming
    executors and decides trigger intervals per workload. Scale: one
    keyed aggregate to ≤ |types| × 24 cells; the share/peak windows
    run on those cells only."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").alias("hr"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    c = ev.groupBy("event_type", "hr").agg(
        F.count("*").alias("n_events"), F.sum("cents").alias("sum_cents")
    )
    wt = Window.partitionBy("event_type")
    m = c.withColumn("type_total", F.sum("n_events").over(wt)).withColumn(
        "type_peak", F.max("n_events").over(wt)
    )
    return m.select(
        "event_type",
        F.col("hr").cast("long").alias("hr"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_cents").cast("long").alias("sum_cents"),
        F.expr("CAST(n_events * 10000 div type_total AS BIGINT)").alias(
            "share_bp"
        ),
        F.expr(
            "CASE WHEN n_events = type_peak THEN 1 ELSE 0 END"
        ).alias("is_peak"),
    ).orderBy("event_type", "hr")


@query(
    "q_kmeans_step",
    oracle="""
    WITH q AS (
        SELECT vec_id, dim, qv
        FROM (
            SELECT vec_id,
                   unnest(generate_series(1, len(embedding))) AS dim,
                   unnest(list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)))
                       AS qv
            FROM embeddings
        )
    ),
    seeds AS (
        SELECT vec_id AS seed_vec,
               row_number() OVER (
                   ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
                                                1, 10) AS BIGINT),
                            vec_id) - 1 AS cidx
        FROM embeddings
        ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 10)
                      AS BIGINT), vec_id
        LIMIT 4
    ),
    cdims AS (
        SELECT s.cidx, q.dim, q.qv AS cq
        FROM seeds s JOIN q ON q.vec_id = s.seed_vec
    ),
    dists AS (
        SELECT q.vec_id, c.cidx,
               CAST(sum((q.qv - c.cq) * (q.qv - c.cq)) AS BIGINT) AS dist
        FROM q JOIN cdims c ON c.dim = q.dim
        GROUP BY q.vec_id, c.cidx
    ),
    assign AS (
        SELECT vec_id,
               min(dist * 4 + cidx) // 4 AS dist_before,
               min(dist * 4 + cidx) % 4  AS cluster
        FROM dists GROUP BY vec_id
    ),
    upd AS (
        SELECT a.cluster, q.dim,
               CAST(floor(CAST(sum(q.qv) AS DOUBLE) / count(*)) AS BIGINT)
                   AS mean_e3
        FROM q JOIN assign a ON a.vec_id = q.vec_id
        GROUP BY a.cluster, q.dim
    )
    SELECT a.cluster AS cidx,
           count(*) AS n_assigned,
           CAST(sum(a.dist_before) AS BIGINT) AS inertia_before,
           min(u1.mean_e3) AS mean_dim1_e3,
           min(uc.checksum) AS centroid_checksum
    FROM assign a
    JOIN (SELECT cluster, mean_e3 FROM upd WHERE dim = 1) u1
      ON u1.cluster = a.cluster
    JOIN (SELECT cluster,
                 CAST(sum(CAST('0x' || substr(md5(CAST(cluster AS VARCHAR)
                          || ':' || CAST(dim AS VARCHAR) || ':'
                          || CAST(mean_e3 AS VARCHAR)), 1, 10) AS BIGINT))
                      AS BIGINT) AS checksum
          FROM upd GROUP BY cluster) uc
      ON uc.cluster = a.cluster
    GROUP BY a.cluster
    ORDER BY cidx
    """,
)
def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd (k-means) iteration, BIT-exact: k = 4 centroids
    seeded deterministically (the 4 vec_ids with the smallest
    md5-40 — no RNG), assignment by exact integer L2 on e3-quantized
    components with a lowest-index tie-break, and the UPDATE step's
    new centroids emitted as an md5-40 checksum over their 64 floored
    per-dim means plus the first mean in the clear — the
    iterative-ML companion to q_pca_power's power iteration: the
    oracle replays assignment AND update exactly, which a float
    k-means can never get. Scale: distances flow through one (vec ×
    k) aggregate with the 256-cell centroid table broadcast; the
    update is one keyed aggregate to k × 64 cells; nothing iterates
    driver-side."""
    e = load_table(spark, sf_dir, "embeddings")
    # round-15 adjudication (VERDICT r14 item 1): the round-14 eager
    # checkpoint of this 64×-row explode measured 0.88× WITHOUT it in
    # the in-session A/B (tools/ab_session.py, medians 1.53 vs 1.34 s
    # over 5 alternating passes) — the recomputed posexplode over the
    # pruned 2-column parquet scan is cheaper than writing + rescanning
    # a frame 1.5× the base data volume. Reverted to the lazy form (the
    # bare-pruned-scan rule from the r14 q_histogram_error revert).
    q = (
        e.select(
            "vec_id", F.posexplode("embedding").alias("dim0", "x")
        )
        .select(
            "vec_id",
            (F.col("dim0") + 1).alias("dim"),
            F.floor(F.col("x").cast("double") * 1000)
            .cast("bigint")
            .alias("qv"),
        )
    )
    seeds = (
        e.select("vec_id", md5_40(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id")
        .limit(4)
        .select(
            F.col("vec_id").alias("seed_vec"),
            (
                F.row_number().over(Window.orderBy("h", "vec_id")) - 1
            ).alias("cidx"),
        )
    )
    cdims = seeds.join(q, q["vec_id"] == seeds["seed_vec"]).select(
        "cidx", "dim", F.col("qv").alias("cq")
    )
    dists = (
        q.join(F.broadcast(cdims), "dim")
        .groupBy("vec_id", "cidx")
        .agg(F.sum(F.expr("(qv - cq) * (qv - cq)")).alias("dist"))
    )
    assign = dists.groupBy("vec_id").agg(
        F.min(F.expr("dist * 4 + cidx")).alias("pk")
    ).select(
        "vec_id",
        F.expr("pk div 4").alias("dist_before"),
        F.expr("pk % 4").alias("cluster"),
    )
    upd = (
        q.join(assign.select("vec_id", "cluster"), "vec_id")
        .groupBy("cluster", "dim")
        .agg(
            F.expr(
                "CAST(floor(CAST(sum(qv) AS DOUBLE) / count(*)) AS BIGINT)"
            ).alias("mean_e3")
        )
    )
    u1 = upd.where(F.col("dim") == 1).select(
        "cluster", F.col("mean_e3").alias("mean_dim1_e3")
    )
    uc = upd.groupBy("cluster").agg(
        F.sum(
            md5_40(
                F.expr(
                    "concat(cast(cluster AS STRING), ':',"
                    " cast(dim AS STRING), ':', cast(mean_e3 AS STRING))"
                )
            )
        ).alias("centroid_checksum")
    )
    return (
        assign.groupBy("cluster")
        .agg(
            F.count("*").alias("n_assigned"),
            F.sum("dist_before").cast("long").alias("inertia_before"),
        )
        .join(u1, "cluster")
        .join(uc, "cluster")
        .select(
            F.col("cluster").alias("cidx"),
            F.col("n_assigned").cast("long").alias("n_assigned"),
            "inertia_before",
            "mean_dim1_e3",
            "centroid_checksum",
        )
        .orderBy("cidx")
    )


@query(
    "q_embed_pq",
    oracle="""
    WITH q AS (
        SELECT vec_id, (dim - 1) // 16 AS subspace, dim, qv
        FROM (
            SELECT vec_id,
                   unnest(generate_series(1, len(embedding))) AS dim,
                   unnest(list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)))
                       AS qv
            FROM embeddings
        )
    ),
    seeds AS (
        SELECT vec_id AS seed_vec,
               row_number() OVER (
                   ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
                                                1, 10) AS BIGINT),
                            vec_id) - 1 AS cidx
        FROM embeddings
        ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 10)
                      AS BIGINT), vec_id
        LIMIT 4
    ),
    cdims AS (
        SELECT s.cidx, q.subspace, q.dim, q.qv AS cq
        FROM seeds s JOIN q ON q.vec_id = s.seed_vec
    ),
    dists AS (
        SELECT q.vec_id, q.subspace, c.cidx,
               CAST(sum((q.qv - c.cq) * (q.qv - c.cq)) AS BIGINT) AS dist
        FROM q JOIN cdims c ON c.dim = q.dim AND c.subspace = q.subspace
        GROUP BY q.vec_id, q.subspace, c.cidx
    ),
    codes AS (
        SELECT vec_id, subspace,
               min(dist * 4 + cidx) // 4 AS dist,
               min(dist * 4 + cidx) % 4  AS code
        FROM dists GROUP BY vec_id, subspace
    )
    SELECT CAST(subspace AS BIGINT) AS subspace,
           CAST(code AS BIGINT) AS code,
           count(*) AS n_assigned,
           CAST(sum(dist) AS BIGINT) AS distortion
    FROM codes
    GROUP BY subspace, code
    ORDER BY subspace, code
    """,
)
def q_embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook audit, BIT-exact: the 64-dim
    embeddings split into 4 × 16-dim subspaces, a 4-entry codebook
    per subspace seeded from the md5-40-smallest vectors, every
    vector assigned its nearest code per subspace by exact integer
    L2 on e3 components (lowest-index tie-break), and the code
    histogram + total quantization distortion emitted per (subspace,
    code) — the PQ compression QA a billion-vector ANN index runs
    before trusting 8-bit codes (Jégou et al., TPAMI 2011 — public
    method). Scale: the codebook is 4 × 4 × 16 integers broadcast;
    assignment is one keyed aggregate per (vec, subspace); the
    output is ≤ 16 cells however many vectors exist."""
    e = load_table(spark, sf_dir, "embeddings")
    # round-15 adjudication (VERDICT r14 item 1): the round-14 eager
    # checkpoint of the quantized explode measured a wash in-session
    # (1.02× without, medians 1.10 vs 1.12 s) — no demonstrated win, so
    # the simpler lazy form stands (same bare-pruned-scan rationale as
    # q_kmeans_step; the explode rescan streams off a 2-column scan).
    q = (
        e.select("vec_id", F.posexplode("embedding").alias("dim0", "x"))
        .select(
            "vec_id",
            (F.col("dim0") + 1).alias("dim"),
            F.expr("CAST(dim0 div 16 AS INT)").alias("subspace"),
            F.floor(F.col("x").cast("double") * 1000)
            .cast("bigint")
            .alias("qv"),
        )
    )
    seeds = (
        e.select("vec_id", md5_40(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id")
        .limit(4)
        .select(
            F.col("vec_id").alias("seed_vec"),
            (
                F.row_number().over(Window.orderBy("h", "vec_id")) - 1
            ).alias("cidx"),
        )
    )
    cdims = seeds.join(q, q["vec_id"] == seeds["seed_vec"]).select(
        "cidx", "subspace", "dim", F.col("qv").alias("cq")
    )
    dists = (
        q.join(F.broadcast(cdims), ["subspace", "dim"])
        .groupBy("vec_id", "subspace", "cidx")
        .agg(F.sum(F.expr("(qv - cq) * (qv - cq)")).alias("dist"))
    )
    codes = dists.groupBy("vec_id", "subspace").agg(
        F.min(F.expr("dist * 4 + cidx")).alias("pk")
    ).select(
        "vec_id",
        "subspace",
        F.expr("pk div 4").alias("dist"),
        F.expr("pk % 4").alias("code"),
    )
    return (
        codes.groupBy("subspace", "code")
        .agg(
            F.count("*").alias("n_assigned"),
            F.sum("dist").cast("long").alias("distortion"),
        )
        .select(
            F.col("subspace").cast("long").alias("subspace"),
            F.col("code").cast("long").alias("code"),
            F.col("n_assigned").cast("long").alias("n_assigned"),
            "distortion",
        )
        .orderBy("subspace", "code")
    )


# ---------------------------------------------------------------------------
# Tranche 6 — containment-based quote detection, numeric-precision and
# privacy audits, and the optimizer-histogram error comparison.
# ---------------------------------------------------------------------------


@query(
    "q_shingle_containment",
    oracle="""
    WITH ws AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                           w -> w <> '') AS ws
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, sh
        FROM (
            SELECT doc_id,
                   unnest([array_to_string(ws[i:i+4], ' ')
                           FOR i IN generate_series(1, greatest(len(ws) - 4,
                                                                0))]) AS sh
            FROM ws
        )
    ),
    sizes AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
    df AS (
        SELECT sh FROM (SELECT sh, count(*) AS nd FROM sh GROUP BY sh)
        WHERE nd BETWEEN 2 AND 20
    ),
    capped AS (SELECT s.doc_id, s.sh FROM sh s JOIN df USING (sh)),
    pair AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM capped a JOIN capped b USING (sh)
        WHERE a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    scored AS (
        SELECT p.doc_a, p.doc_b,
               CAST(p.inter AS BIGINT)                      AS n_common,
               CAST(p.inter * 10000 // sa.ns AS BIGINT)     AS contain_a_e4,
               CAST(p.inter * 10000 // sb.ns AS BIGINT)     AS contain_b_e4,
               CAST(p.inter * 10000 //
                    (sa.ns + sb.ns - p.inter) AS BIGINT)    AS jaccard_e4
        FROM pair p
        JOIN sizes sa ON sa.doc_id = p.doc_a
        JOIN sizes sb ON sb.doc_id = p.doc_b
    )
    SELECT * FROM scored
    WHERE greatest(contain_a_e4, contain_b_e4) >= 5000
    ORDER BY doc_a, doc_b
    """,
)
def q_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment detection — the quote/subset relation
    Jaccard misses: a short document fully contained in a long one has
    containment(A→B) = |A∩B|/|A| near 1 while Jaccard stays small, the
    signal for quotation, boilerplate inclusion, and train-test
    contamination by excerpt (Broder's containment, SEQUENCES '97 —
    public method). Pairs come only from the df-capped 5-word shingle
    inverted index (q_doc_knn's discipline: no all-pairs, hub shingles
    dropped); kept where either direction's containment ≥ 0.5, with
    both containments AND Jaccard so the asymmetry is visible. Exact
    integer e4 everywhere."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "filter(split(lower(text), '[^a-z]+'), w -> w != '')"
        ).alias("ws"),
    )
    # round-14 optimization: (1) shingles are carried as xxhash64
    # fingerprints — the inverted-index join/groupBy keys shrink from
    # ~30-byte strings to 8-byte longs (the ngram_jaccard_pairs
    # discipline; counts change only on a 64-bit collision between two
    # distinct shingles of the same pair, birthday bound ≪ 1e-8, and
    # the string-exact DuckDB oracle still hash-matches); (2) the
    # fingerprinted frame — now two narrow columns — is checkpointed
    # once: it feeds FOUR consumers (sizes, the df cap, both join
    # sides), each of which previously re-ran the tokenize + 5-shingle
    # explode from parquet. (Materializing the STRING shingle frame in
    # q_minhash_eval measured slower — it's the narrow fingerprint
    # form that makes the checkpoint pay.)
    sh = (
        d.select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(ws) >= 5 THEN array_distinct("
                    " transform(sequence(0, size(ws) - 5),"
                    "  i -> concat_ws(' ', slice(ws, i + 1, 5))))"
                    " ELSE array() END"
                )
            ).alias("s"),
        )
        .select("doc_id", F.xxhash64("s").alias("sh"))
        .localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("ns"))
    df_ok = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("nd"))
        .where(F.col("nd").between(2, 20))
        .select("sh")
    )
    capped = sh.join(df_ok, "sh")
    a = capped.select(F.col("doc_id").alias("doc_a"), "sh")
    b = capped.select(F.col("doc_id").alias("doc_b"), "sh")
    pair = (
        a.join(b, "sh")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("ns").alias("nsa"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("ns").alias("nsb"))
    return (
        pair.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("inter").cast("long").alias("n_common"),
            F.expr("CAST(inter * 10000 div nsa AS BIGINT)").alias(
                "contain_a_e4"
            ),
            F.expr("CAST(inter * 10000 div nsb AS BIGINT)").alias(
                "contain_b_e4"
            ),
            F.expr(
                "CAST(inter * 10000 div (nsa + nsb - inter) AS BIGINT)"
            ).alias("jaccard_e4"),
        )
        .where(F.expr("greatest(contain_a_e4, contain_b_e4) >= 5000"))
        .orderBy("doc_a", "doc_b")
    )


@query(
    "q_float_downcast_audit",
    oracle="""
    WITH cols AS (
        SELECT 'l_extendedprice' AS col, l_extendedprice AS v FROM lineitem
        UNION ALL
        SELECT 'l_discount', l_discount FROM lineitem
        UNION ALL
        SELECT 'l_quantity', l_quantity FROM lineitem
        UNION ALL
        SELECT 'o_totalprice', o_totalprice FROM orders
    ),
    audit AS (
        SELECT col, v,
               CAST(CAST(v AS REAL) AS DOUBLE) AS v32,
               abs(v - CAST(CAST(v AS REAL) AS DOUBLE)) AS err
        FROM cols
    )
    SELECT col,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN v <> v32 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_lossy,
           CAST(sum(CASE WHEN v <> v32 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS lossy_bp,
           CAST(floor(max(err) * 100000000) AS BIGINT) AS max_abs_err_e8
    FROM audit
    GROUP BY col
    ORDER BY col
    """,
)
def q_float_downcast_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-precision audit for a float32 downcast — the exact
    question a training pipeline asks before storing features or
    embeddings in fp32/fp16: per column, how many values survive the
    round-trip double→float→double bit-exactly and the worst absolute
    error. Both engines implement IEEE 754 float casts, so the audit
    itself is deterministic cross-engine (the e8 floor of max |err| is
    one token-identical chain). Money columns (2-decimal doubles in
    the 1e2–1e6 range) are the canonical lossy case; discounts in
    [0, 0.1] mostly survive. Scale: one union scan, one keyed
    aggregate, four output rows."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cols = (
        li.select(F.lit("l_extendedprice").alias("col"),
                  F.col("l_extendedprice").alias("v"))
        .unionAll(li.select(F.lit("l_discount"), F.col("l_discount")))
        .unionAll(li.select(F.lit("l_quantity"), F.col("l_quantity")))
        .unionAll(orders.select(F.lit("o_totalprice"), F.col("o_totalprice")))
    )
    audit = cols.select(
        "col",
        "v",
        F.expr("CAST(CAST(v AS FLOAT) AS DOUBLE)").alias("v32"),
        F.expr("abs(v - CAST(CAST(v AS FLOAT) AS DOUBLE))").alias("err"),
    )
    return (
        audit.groupBy("col")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col("v") != F.col("v32"), 1).otherwise(0))
            .cast("long")
            .alias("n_lossy"),
            F.expr(
                "CAST(sum(CASE WHEN v <> v32 THEN 1 ELSE 0 END) * 10000"
                " div count(*) AS BIGINT)"
            ).alias("lossy_bp"),
            F.expr(
                "CAST(floor(max(abs(v - CAST(CAST(v AS FLOAT) AS DOUBLE)))"
                " * 100000000) AS BIGINT)"
            ).alias("max_abs_err_e8"),
        )
        .orderBy("col")
    )


@query(
    "q_kanonymity",
    oracle="""
    WITH g AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS gsz
        FROM customer GROUP BY c_nationkey, c_mktsegment
    ),
    ks AS (SELECT unnest([2, 5, 10]) AS k)
    SELECT ks.k,
           CAST((SELECT count(*) FROM g) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN g.gsz < ks.k THEN 1 ELSE 0 END) AS BIGINT)
               AS n_small_groups,
           CAST(sum(CASE WHEN g.gsz < ks.k THEN g.gsz ELSE 0 END) AS BIGINT)
               AS n_exposed_rows,
           CAST(min(g.gsz) AS BIGINT) AS min_group_size
    FROM ks CROSS JOIN g
    GROUP BY ks.k
    ORDER BY ks.k
    """,
)
def q_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (nation, market-segment) quasi-
    identifier: for k = 2/5/10, how many equivalence classes fall
    below k and how many ROWS those classes expose — the release
    gate a privacy review runs before publishing 'anonymized'
    aggregates (Sweeney's k-anonymity, IJUFKS 2002 — public method).
    min_group_size is the dataset's achieved k. Scale: one keyed
    aggregate to |quasi-identifier| cells; the k-grid cross join runs
    on those cells, never on customer rows."""
    g = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").alias("gsz"))
    )
    ks = spark.range(1).select(
        F.explode(F.array(F.lit(2), F.lit(5), F.lit(10))).alias("k")
    )
    return (
        ks.crossJoin(g)
        .groupBy("k")
        .agg(
            F.count("*").alias("n_groups"),
            F.sum(F.when(F.col("gsz") < F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("n_small_groups"),
            F.sum(F.when(F.col("gsz") < F.col("k"), F.col("gsz")).otherwise(0))
            .cast("long")
            .alias("n_exposed_rows"),
            F.min("gsz").cast("long").alias("min_group_size"),
        )
        .select(
            "k",
            F.col("n_groups").cast("long").alias("n_groups"),
            "n_small_groups",
            "n_exposed_rows",
            "min_group_size",
        )
        .orderBy("k")
    )


@query(
    "q_histogram_error",
    oracle="""
    WITH v AS (
        SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        FROM lineitem
    ),
    bounds AS (SELECT min(cents) AS lo, max(cents) AS hi,
                      count(*) AS n FROM v),
    width AS (
        SELECT v.cents,
               least((v.cents - b.lo) * 16 //
                     nullif(b.hi - b.lo + 1, 0), 15)
                   AS bucket,
               'equi_width' AS method
        FROM v CROSS JOIN bounds b
    ),
    depth AS (
        SELECT cents,
               least((rn - 1) * 16 // n, 15) AS bucket,
               'equi_depth' AS method
        FROM (SELECT cents, row_number() OVER (ORDER BY cents) AS rn,
                     count(*) OVER () AS n
              FROM v)
    ),
    both_m AS (SELECT * FROM width UNION ALL SELECT * FROM depth),
    cells AS (
        SELECT method, bucket,
               count(*) AS bn, sum(cents) AS s1, sum(cents * cents) AS s2
        FROM both_m GROUP BY method, bucket
    )
    SELECT method,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(max(bn) AS BIGINT) AS max_bucket_rows,
           CAST(floor(sum(CAST(s2 AS DOUBLE)
                          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / bn)
                      / 1000000) AS BIGINT) AS sse_e_minus6
    FROM cells
    GROUP BY method
    ORDER BY method
    """,
)
def q_histogram_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimizer-histogram error comparison: the same 16 buckets spent
    equi-width vs equi-depth on l_extendedprice, scored by within-
    bucket SSE (the variance a selectivity estimator eats when it
    assumes uniformity inside a bucket) — the measured version of why
    every modern CBO keeps equi-depth histograms. Moments are exact
    integer sums per cell; SSE is one token-identical double chain.
    The equi-depth ranks at 100 TB route through
    operators/ranking.global_row_number (range partition + prefix
    sums), exactly as q_histogram_equidepth does; the oracle's single
    ORDER BY window is DuckDB-side only. Scale: one aggregate to 32
    cells after the rank pass."""
    from mapreduce_llm_spark.operators.ranking import global_row_number

    v = load_table(spark, sf_dir, "lineitem").select(
        F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        )
    )
    # round-14 optimization audit: bounds and the equi-width leg stay
    # on direct parquet scans — the scan prunes to the single
    # l_extendedprice column and is cheaper than re-reading the
    # ranking operator's full-row checkpoint blocks (routing all three
    # legs through the checkpoint measured 1.16× SLOWER, 2.07→2.39 s)
    bounds = v.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count("*").alias("n"),
    )
    width = v.crossJoin(F.broadcast(bounds)).select(
        "cents",
        F.expr(
            "least((cents - lo) * 16 div nullif(hi - lo + 1, 0), 15)"
        ).alias("bucket"),
        F.lit("equi_width").alias("method"),
    )
    ranked = global_row_number(v, [F.col("cents")], alias="rn")
    depth = ranked.crossJoin(
        F.broadcast(bounds.select("n"))
    ).select(
        "cents",
        F.expr("least((rn - 1) * 16 div n, 15)").alias("bucket"),
        F.lit("equi_depth").alias("method"),
    )
    cells = (
        width.unionByName(depth)
        .groupBy("method", "bucket")
        .agg(
            F.count("*").alias("bn"),
            F.sum("cents").alias("s1"),
            # cents^2 fits int64 per row; the per-bucket SUM does not at
            # sf1+ (37.5k rows x 1e14 ~ 3.7e18 is already at the edge) --
            # sum on DECIMAL(38,0), the q_agg_decimal_exact pattern;
            # DuckDB's sum(BIGINT) is HUGEINT-exact already
            F.sum(F.expr("CAST(cents * cents AS DECIMAL(38,0))")).alias("s2"),
        )
    )
    return (
        cells.groupBy("method")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.max("bn").cast("long").alias("max_bucket_rows"),
            F.expr(
                "CAST(floor(sum(CAST(s2 AS DOUBLE)"
                " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / bn)"
                " / 1000000) AS BIGINT)"
            ).alias("sse_e_minus6"),
        )
        .orderBy("method")
    )


# ---------------------------------------------------------------------------
# Tranche 7 — feature-store point-in-time correctness, sampling-bias
# audit, and the dedup-savings report. Fills the round-8 window to a
# fully pre-proven 50 (44 earlier + 3 oracle graduations + 3 here).
# ---------------------------------------------------------------------------


@query(
    "q_asof_tolerance",
    oracle="""
    WITH tagged AS (
        SELECT event_id AS pid, ts AS pts, user_id AS u,
               NULL::BIGINT AS cid_never, 1 AS is_p
        FROM events WHERE event_type = 'purchase'
        UNION ALL
        SELECT event_id, ts, user_id, NULL, 0
        FROM events WHERE event_type = 'click'
    ),
    filled AS (
        SELECT pid, pts, u, is_p,
               max(CASE WHEN is_p = 0 THEN pts END) OVER (
                   PARTITION BY u ORDER BY pts, is_p, pid
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS asof_ts
        FROM tagged
    ),
    p AS (SELECT pid, pts, u, asof_ts FROM filled WHERE is_p = 1),
    named AS (
        SELECT p.pid, p.pts, p.asof_ts,
               max(c.event_id) AS cid
        FROM p LEFT JOIN events c
          ON c.event_type = 'click' AND c.user_id = p.u
         AND c.ts = p.asof_ts
        GROUP BY p.pid, p.pts, p.asof_ts
    )
    SELECT pid AS p_id,
           CASE WHEN asof_ts IS NOT NULL
                 AND pts - asof_ts <= INTERVAL 30 MINUTE
                THEN cid END AS c_id,
           CASE WHEN asof_ts IS NOT NULL
                 AND pts - asof_ts <= INTERVAL 30 MINUTE
                THEN CAST(epoch_us(pts) - epoch_us(asof_ts) AS BIGINT)
           END AS gap_us,
           CASE WHEN asof_ts IS NOT NULL
                 AND pts - asof_ts <= INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS fresh
    FROM named
    ORDER BY p_id
    """,
)
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature join WITH a staleness bound — the
    feature-store correctness contract: each purchase gets the latest
    same-user click at-or-before it, carrying ROW IDENTITY, but only
    if the feature is ≤ 30 minutes old; a stale match is NULLed, not
    silently served (the training-serving skew this op exists to
    prevent). q_join_asof proves the unbounded backward join; this is
    its tolerance-bounded, identity-carrying upgrade. Implemented as
    the scalable union-tag running max (one shuffle per key, never a
    range-candidate join), then one equi-join on (user, asof_ts) to
    recover the click id (max id on ts ties — deterministic). Scale:
    keyed windows only; the id-recovery join is equi on exact keys."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("ts").alias("pts"),
        F.col("user_id").alias("u"),
        F.lit(1).alias("is_p"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("pid"),
        F.col("ts").alias("pts"),
        F.col("user_id").alias("u"),
        F.lit(0).alias("is_p"),
    )
    w = (
        Window.partitionBy("u")
        .orderBy("pts", "is_p", "pid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = p.unionByName(c).withColumn(
        "asof_ts",
        F.max(F.when(F.col("is_p") == 0, F.col("pts"))).over(w),
    )
    pp = filled.where(F.col("is_p") == 1).select("pid", "pts", "u", "asof_ts")
    clk = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("u"),
        F.col("ts").alias("asof_ts"),
        F.col("event_id").alias("cid0"),
    )
    named = (
        pp.join(clk, ["u", "asof_ts"], "left")
        .groupBy("pid", "pts", "asof_ts")
        .agg(F.max("cid0").alias("cid"))
    )
    fresh = (
        "asof_ts IS NOT NULL AND pts - asof_ts <= INTERVAL 30 MINUTE"
    )
    return named.select(
        F.col("pid").alias("p_id"),
        F.expr(f"CASE WHEN {fresh} THEN cid END").alias("c_id"),
        F.expr(
            f"CASE WHEN {fresh} THEN CAST(unix_micros(CAST(pts AS TIMESTAMP))"
            " - unix_micros(CAST(asof_ts AS TIMESTAMP)) AS BIGINT) END"
        ).alias("gap_us"),
        F.expr(f"CASE WHEN {fresh} THEN 1 ELSE 0 END").alias("fresh"),
    ).orderBy("p_id")


@query(
    "q_sample_bias_audit",
    oracle="""
    WITH pop AS (
        SELECT c.c_mktsegment AS seg,
               CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               CASE WHEN CAST('0x' || substr(md5(CAST(o.o_orderkey
                        AS VARCHAR)), 1, 10) AS BIGINT) % 100 = 0
                    THEN 1 ELSE 0 END AS in_sample
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    agg AS (
        SELECT seg,
               count(*) AS n_pop, sum(cents) AS s_pop,
               sum(in_sample) AS n_smp,
               sum(CASE WHEN in_sample = 1 THEN cents ELSE 0 END) AS s_smp
        FROM pop GROUP BY seg
    )
    SELECT seg,
           CAST(n_pop AS BIGINT) AS n_pop,
           CAST(n_smp AS BIGINT) AS n_smp,
           CAST(floor(CAST(s_pop AS DOUBLE) / n_pop * 100) AS BIGINT)
               AS pop_mean_e2,
           CASE WHEN n_smp > 0 THEN
               CAST(floor(CAST(s_smp AS DOUBLE) / n_smp * 100) AS BIGINT)
           END AS smp_mean_e2,
           CASE WHEN n_smp > 0 AND s_pop > 0 THEN
               CAST(floor(abs(CAST(s_smp AS DOUBLE) / n_smp
                              - CAST(s_pop AS DOUBLE) / n_pop)
                          / (CAST(s_pop AS DOUBLE) / n_pop)
                          * 10000) AS BIGINT)
           END AS bias_bp
    FROM agg
    ORDER BY seg
    """,
)
def q_sample_bias_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-bias audit for the deterministic 1% md5 sample: per
    segment, the population mean order value vs the sample mean and
    the relative bias in basis points — the representativeness check
    every 100 TB pipeline owes its downstream consumers before
    shipping sampled dashboards (the q_shuffle_shards/q_sample
    reproducibility contract, audited rather than assumed). One keyed
    aggregate computes population AND sample moments in the same pass
    (the sample is a flag, not a second scan); exact integer sums,
    token-identical double chains, e2/bp floors, NULL-guarded empty
    sample cells."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    pop = orders.join(cust, cust["c_custkey"] == orders["o_custkey"]).select(
        F.col("c_mktsegment").alias("seg"),
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
        F.when(
            md5_40(F.col("o_orderkey").cast("string")) % 100 == 0, 1
        )
        .otherwise(0)
        .alias("in_sample"),
    )
    agg = pop.groupBy("seg").agg(
        F.count("*").alias("n_pop"),
        F.sum("cents").alias("s_pop"),
        F.sum("in_sample").alias("n_smp"),
        F.sum(F.when(F.col("in_sample") == 1, F.col("cents")).otherwise(0))
        .alias("s_smp"),
    )
    return agg.select(
        "seg",
        F.col("n_pop").cast("long").alias("n_pop"),
        F.col("n_smp").cast("long").alias("n_smp"),
        F.expr(
            "CAST(floor(CAST(s_pop AS DOUBLE) / n_pop * 100) AS BIGINT)"
        ).alias("pop_mean_e2"),
        F.expr(
            "CASE WHEN n_smp > 0 THEN"
            " CAST(floor(CAST(s_smp AS DOUBLE) / n_smp * 100) AS BIGINT)"
            " END"
        ).alias("smp_mean_e2"),
        F.expr(
            "CASE WHEN n_smp > 0 AND s_pop > 0 THEN"
            " CAST(floor(abs(CAST(s_smp AS DOUBLE) / n_smp"
            "                - CAST(s_pop AS DOUBLE) / n_pop)"
            "            / (CAST(s_pop AS DOUBLE) / n_pop)"
            "            * 10000) AS BIGINT) END"
        ).alias("bias_bp"),
    ).orderBy("seg")


@query(
    "q_dedup_savings",
    oracle=r"""
    WITH fp AS (
        SELECT doc_id, source, n_chars,
               CAST('0x' || substr(md5(array_to_string(
                   list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                               w -> w <> ''), ' ')), 1, 10) AS BIGINT) AS fp
        FROM documents
    ),
    grp AS (
        SELECT source, fp,
               count(*) AS n_docs,
               sum(n_chars) AS total_chars,
               min(doc_id) AS keep_id
        FROM fp GROUP BY source, fp
    ),
    kept AS (
        SELECT g.source, g.fp, g.n_docs, g.total_chars,
               f.n_chars AS kept_chars
        FROM grp g JOIN fp f ON f.doc_id = g.keep_id
    )
    SELECT source,
           CAST(sum(n_docs) AS BIGINT)                 AS n_docs,
           CAST(count(*) AS BIGINT)                    AS n_unique,
           CAST(sum(n_docs) - count(*) AS BIGINT)      AS n_redundant,
           CAST(sum(total_chars - kept_chars) AS BIGINT) AS chars_saved,
           CAST((sum(total_chars - kept_chars)) * 10000 //
                nullif(sum(total_chars), 0) AS BIGINT) AS saved_bp
    FROM kept
    GROUP BY source
    ORDER BY source
    """,
)
def q_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup SAVINGS report — what q_dedup_exact's pair detection
    becomes when finance asks 'how much storage does dedup buy': per
    source, document counts before/after canonical selection (keep the
    lowest doc_id per normalized-text fingerprint — deterministic, the
    min-id rule of q_dedup_clusters), redundant rows, characters
    saved, and the basis-point storage reduction. Exact integer
    accounting end to end. Scale: one fingerprint scan, one keyed
    aggregate per (source, fp), one min-id self-equi-join to price the
    kept copy; no pair expansion anywhere."""
    fp = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        md5_40(
            F.array_join(
                F.expr("filter(split(lower(text), '[^a-z]+'), w -> w != '')"),
                " ",
            )
        ).alias("fp"),
    )
    grp = fp.groupBy("source", "fp").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("keep_id"),
    )
    kept = grp.join(
        fp.select(F.col("doc_id").alias("keep_id"),
                  F.col("n_chars").alias("kept_chars")),
        "keep_id",
    )
    return (
        kept.groupBy("source")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_unique"),
            (F.sum("n_docs") - F.count("*")).cast("long").alias("n_redundant"),
            F.sum(F.expr("total_chars - kept_chars"))
            .cast("long")
            .alias("chars_saved"),
            F.expr(
                "CAST(sum(total_chars - kept_chars) * 10000"
                " div nullif(sum(total_chars), 0) AS BIGINT)"
            ).alias("saved_bp"),
        )
        .orderBy("source")
    )
