"""Round-7 second batch: linear-algebra and lifecycle analytics with
exact cross-engine replay — a PCA power iteration on an integer-exact
Gram matrix, cohort lifetime-value curves, per-brand demand/discount
OLS, Kaplan–Meier inter-order survival with censoring, Markov
sequence-plausibility scoring (the bot/anomaly filter a training
pipeline runs on behavioral logs), near-dup cluster representative
selection (the step AFTER pair finding that dedup actually ships),
and event path mining.

Determinism discipline (module rule, inherited from analytics_r7):
multi-row DOUBLE sums appear only under round(,4) and only for
ln()-valued terms (the documented safe class); every other aggregate
is exact integer / decimal, emitted as bigint, e4 floor of a single
correctly-rounded division chain, or a decimal cast to string.
Embedding components are quantized to e3 integers BEFORE any
accumulation, so the Gram matrix and both power-iteration products
are bit-exact on both engines (HUGEINT vs DECIMAL(38,0)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_llm_spark.io import load_table
from mapreduce_llm_spark.queries.common import ts_micros
from mapreduce_llm_spark.registry import query


@query(
    "q_pca_power",
    oracle="""
    WITH q AS (
        SELECT vec_id, i,
               CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000)
                    AS BIGINT) AS qi
        FROM embeddings, unnest(generate_series(0, 63)) AS t(i)
    ),
    c AS MATERIALIZED (
        SELECT a.i AS i, b.i AS j, CAST(sum(a.qi * b.qi) AS BIGINT) AS c
        FROM q a JOIN q b USING (vec_id)
        GROUP BY a.i, b.i
    ),
    v1 AS (SELECT i, c FROM c WHERE j = 0),
    d AS (SELECT i, c AS gram_diag FROM c WHERE i = j)
    SELECT c.i AS dim, d.gram_diag,
           CAST(sum(CAST(c.c AS HUGEINT) * v1.c) AS VARCHAR) AS v2
    FROM c JOIN v1 ON c.j = v1.i JOIN d ON d.i = c.i
    GROUP BY c.i, d.gram_diag
    ORDER BY dim
    """,
)
def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One unrolled PCA power iteration, BIT-EXACT on both engines:
    embedding components quantize to e3 integers, the 64×64 Gram
    matrix C = Σ q·qᵀ accumulates in exact int64, and two
    matrix-vector products (v1 = C·e₀ = column 0, v2 = C·v1) run in
    DECIMAL(38,0) / HUGEINT — v2's component magnitudes rank the
    dominant-eigenvector directions with zero float drift, the
    iterative-linear-algebra twin of q_graph_pagerank but with an
    exact SQL replay instead of a rows-only gate.

    Scale design: the Gram computation is JOIN-FREE on the Spark side
    — two chained posexplodes expand each vector to its 4096
    (i, j, qi·qj) terms in-task, and map-side partial aggregation
    collapses every task's stream to ≤ 4096 cells BEFORE the
    shuffle, so shuffle volume is O(4096 × tasks), independent of
    corpus size; the power-iteration products touch only the 64×64
    C (broadcast). At 100 TB this is exactly the distributed Gram /
    covariance pattern (the M in tall-skinny ATA): linear scan,
    constant shuffle. The oracle pays a self-join instead (DuckDB has
    no generator chaining) — quadratic-per-vector either way, but
    only 64²."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    comp = e.select(
        F.col("embedding").alias("emb"),
        F.posexplode("embedding").alias("i", "xi"),
    )
    pairs = comp.select(
        "i",
        F.floor(F.col("xi").cast("double") * 1000).cast("bigint").alias("qi"),
        F.posexplode("emb").alias("j", "xj"),
    ).select(
        "i",
        "qi",
        "j",
        F.floor(F.col("xj").cast("double") * 1000).cast("bigint").alias("qj"),
    )
    gram = pairs.groupBy("i", "j").agg(
        F.sum(F.col("qi") * F.col("qj")).alias("c")
    )
    v1 = gram.where(F.col("j") == 0).select(
        F.col("i").alias("jj"), F.col("c").alias("v1c")
    )
    diag = gram.where(F.col("i") == F.col("j")).select(
        "i", F.col("c").alias("gram_diag")
    )
    v2 = (
        gram.join(F.broadcast(v1), gram["j"] == v1["jj"])
        .groupBy("i")
        .agg(
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("v1c")).alias(
                "v2d"
            )
        )
    )
    return (
        v2.join(F.broadcast(diag), "i")
        .select(
            F.col("i").alias("dim"),
            "gram_diag",
            F.col("v2d").cast("string").alias("v2"),
        )
        .orderBy("dim")
    )


@query(
    "q_cohort_ltv",
    oracle="""
    WITH o AS (
        SELECT o_custkey, o_totalprice, year(o_orderdate) AS yr FROM orders
    ),
    f AS (SELECT o_custkey, min(yr) AS cohort_yr FROM o GROUP BY o_custkey),
    cell AS (
        SELECT cohort_yr, yr - cohort_yr AS age_yr,
               count(DISTINCT o.o_custkey) AS n_active,
               count(*) AS n_orders,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM o JOIN f USING (o_custkey)
        GROUP BY cohort_yr, age_yr
    ),
    csize AS (SELECT cohort_yr, count(*) AS n_cohort FROM f GROUP BY cohort_yr)
    SELECT cohort_yr, age_yr,
           CAST(n_cohort AS BIGINT)  AS n_cohort,
           CAST(n_active AS BIGINT)  AS n_active,
           CAST(n_orders AS BIGINT)  AS n_orders,
           CAST(CAST(rev AS DECIMAL(38,2)) AS VARCHAR) AS revenue,
           CAST(CAST(sum(rev) OVER (
                    PARTITION BY cohort_yr ORDER BY age_yr)
                AS DECIMAL(38,2)) AS VARCHAR) AS cum_revenue
    FROM cell JOIN csize USING (cohort_yr)
    ORDER BY cohort_yr, age_yr
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers grouped by first-order
    year, revenue accumulated by order-age — the cohort × age triangle
    every subscription/commerce dashboard draws (q_evt_retention
    counts users; this follows the money). Exact DECIMAL end-to-end:
    per-cell revenue and its within-cohort running total are decimal
    sums cast to string, never float. Scale: one shuffle keyed on
    custkey (first-order min + join back), one keyed aggregate, and a
    window over the tiny (cohort × age) triangle — ≤ years² rows no
    matter the corpus size."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", F.year("o_orderdate").alias("yr")
    )
    first = o.groupBy("o_custkey").agg(F.min("yr").alias("cohort_yr"))
    cell = (
        o.join(first, "o_custkey")
        .groupBy("cohort_yr", (F.col("yr") - F.col("cohort_yr")).alias("age_yr"))
        .agg(
            F.count_distinct("o_custkey").alias("n_active"),
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"),
        )
    )
    csize = first.groupBy("cohort_yr").agg(F.count("*").alias("n_cohort"))
    wc = Window.partitionBy("cohort_yr").orderBy("age_yr")
    return (
        cell.join(F.broadcast(csize), "cohort_yr")
        .withColumn("cum_rev", F.sum("rev").over(wc))
        .select(
            "cohort_yr",
            "age_yr",
            "n_cohort",
            "n_active",
            "n_orders",
            F.col("rev").cast("decimal(38,2)").cast("string").alias("revenue"),
            F.col("cum_rev")
            .cast("decimal(38,2)")
            .cast("string")
            .alias("cum_revenue"),
        )
        .orderBy("cohort_yr", "age_yr")
    )


@query(
    "q_discount_elasticity",
    oracle="""
    WITH pt AS (
        SELECT p_brand,
               CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x,
               CAST(floor(l_quantity) AS BIGINT)             AS y
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    s AS (
        SELECT p_brand, count(*) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM pt GROUP BY p_brand
    )
    SELECT p_brand, CAST(n AS BIGINT) AS n_lines,
           CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
                      / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0)
                      * 10000) AS BIGINT) AS slope_e4,
           CAST(floor(CAST(CAST(n * sxy - sx * sy AS HUGEINT)
                           * (n * sxy - sx * sy) AS DOUBLE)
                      / nullif(CAST(n * sxx - sx * sx AS DOUBLE)
                               * CAST(n * syy - sy * sy AS DOUBLE), 0)
                      * 10000) AS BIGINT) AS r2_e4
    FROM s
    ORDER BY p_brand
    """,
)
def q_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand discount RESPONSE of demand (q_price_elasticity
    regresses on log price bands; this regresses on the discount
    lever): the OLS slope of
    quantity on discount level (does a deeper discount move more
    units?) plus the fit's r² — the price-response regression behind
    promo planning. EXACT integer moment sums (discount in cents,
    integral quantity; Σx Σy Σxy Σx² Σy² all int64, the numerator
    square in DECIMAL/HUGEINT), then ONE correctly-rounded
    int→double division chain per output with an e4 floor — the
    module's engine-identical idiom; nullif guards the degenerate
    single-discount-level brand (ANSI div would throw where DuckDB
    yields NULL, the q_sessionize_funnel advice pattern). Scale: one
    fact join keyed on partkey, one 25-group aggregate with map-side
    partials; the regression math runs on 25 rows."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.floor(F.col("l_discount") * 100 + 0.5).cast("bigint").alias("x"),
        F.floor(F.col("l_quantity")).cast("bigint").alias("y"),
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    s = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "p_brand",
        F.col("n").alias("n_lines"),
        F.floor(
            num.cast("double") / F.nullif(denx.cast("double"), F.lit(0.0))
            * 10000
        )
        .cast("bigint")
        .alias("slope_e4"),
        F.floor(
            (num.cast("decimal(38,0)") * num).cast("double")
            / F.nullif(denx.cast("double") * deny.cast("double"), F.lit(0.0))
            * 10000
        )
        .cast("bigint")
        .alias("r2_e4"),
    ).orderBy("p_brand")


@query(
    "q_survival_km",
    oracle="""
    WITH o AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS d FROM orders
    ),
    g AS (
        SELECT o_custkey, d,
               lead(d) OVER (PARTITION BY o_custkey ORDER BY d) AS nxt
        FROM o
    ),
    dur AS MATERIALIZED (
        SELECT date_diff('day', d, nxt) AS t, 1 AS is_event
        FROM g WHERE nxt IS NOT NULL
        UNION ALL
        SELECT date_diff('day', d, (SELECT max(d) FROM o)), 0
        FROM g WHERE nxt IS NULL
    ),
    byday AS (
        SELECT t, CAST(sum(is_event) AS BIGINT) AS d_events,
               CAST(sum(1 - is_event) AS BIGINT) AS c_censored
        FROM dur GROUP BY t
    ),
    risk AS (
        SELECT t, d_events, c_censored,
               (SELECT count(*) FROM dur)
               - coalesce(sum(d_events + c_censored) OVER (
                     ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS n_risk
        FROM byday
    ),
    km AS (
        SELECT t, n_risk, d_events, c_censored,
               CASE WHEN n_risk > d_events
                    THEN ln(CAST(n_risk - d_events AS DOUBLE)
                            / CAST(n_risk AS DOUBLE)) END AS f,
               max(CASE WHEN n_risk = d_events THEN 1 ELSE 0 END) OVER (
                   ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS z
        FROM risk
    )
    SELECT CAST(t AS INT) AS t_days, CAST(n_risk AS BIGINT) AS n_risk,
           d_events, c_censored,
           CASE WHEN z = 1 THEN NULL
                ELSE round(sum(f) OVER (
                         ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     4) + 0.0 END AS km_ln
    FROM km ORDER BY t_days
    """,
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier estimator over customer inter-order gaps WITH
    right-censoring: each consecutive-order gap is an observed
    repurchase event, the open gap from a customer's last order to
    the corpus end is censored — the churn/repurchase survival curve,
    the lifecycle family's missing member (q_evt_retention = cohort
    counts, q_cohort_ltv = money; this is time-to-next-order). Emits
    the risk table exactly (n_risk / events / censored are pure
    integer window arithmetic) and the survival curve as ln S(t)
    rounded to 4dp — the one float, a cumulative sum of ln() factors
    over the identically-ordered day axis (the documented round4-safe
    class); after any day where the risk set is exhausted
    (S(t) = 0), km_ln is NULL on both engines. Scale: per-customer
    lag windows (keyed), then everything collapses to the ≤ few
    thousand distinct gap values; the two 1-row legs (corpus max
    date, total duration count) are broadcast scalar crosses."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("d")
    )
    w = Window.partitionBy("o_custkey").orderBy("d")
    g = o.withColumn("nxt", F.lead("d").over(w))
    events = g.where(F.col("nxt").isNotNull()).select(
        F.datediff("nxt", "d").alias("t"), F.lit(1).alias("is_event")
    )
    maxd = o.agg(F.max("d").alias("mx"))
    cens = (
        g.where(F.col("nxt").isNull())
        .crossJoin(F.broadcast(maxd))
        .select(F.datediff("mx", "d").alias("t"), F.lit(0).alias("is_event"))
    )
    dur = events.unionByName(cens)
    byday = dur.groupBy("t").agg(
        F.sum("is_event").alias("d_events"),
        F.sum(F.lit(1) - F.col("is_event")).alias("c_censored"),
    )
    total = dur.agg(F.count("*").alias("n_total"))
    wt = Window.orderBy("t")
    prior = wt.rowsBetween(Window.unboundedPreceding, -1)
    cum = wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    risk = (
        byday.crossJoin(F.broadcast(total))
        .withColumn(
            "n_risk",
            F.col("n_total")
            - F.coalesce(
                F.sum(F.col("d_events") + F.col("c_censored")).over(prior),
                F.lit(0),
            ),
        )
    )
    km = risk.withColumn(
        "f",
        F.when(
            F.col("n_risk") > F.col("d_events"),
            F.log(
                (F.col("n_risk") - F.col("d_events")).cast("double")
                / F.col("n_risk").cast("double")
            ),
        ),
    ).withColumn(
        "z",
        F.max(
            F.when(F.col("n_risk") == F.col("d_events"), 1).otherwise(0)
        ).over(cum),
    )
    return km.select(
        F.col("t").cast("int").alias("t_days"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d_events").cast("bigint").alias("d_events"),
        F.col("c_censored").cast("bigint").alias("c_censored"),
        F.when(F.col("z") == 0, F.round(F.sum("f").over(cum), 4)).alias(
            "km_ln"
        ),
    ).orderBy("t_days")


@query(
    "q_markov_loglik",
    oracle="""
    WITH tr AS MATERIALIZED (
        SELECT user_id, event_type AS f, lead(event_type) OVER w AS tt
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tr2 AS (SELECT * FROM tr WHERE tt IS NOT NULL),
    cnt AS (SELECT f, tt, count(*) AS c FROM tr2 GROUP BY f, tt),
    tot AS (SELECT f, count(*) AS ct FROM tr2 GROUP BY f),
    probs AS (
        SELECT cnt.f, cnt.tt,
               ln(CAST(c AS DOUBLE) / CAST(ct AS DOUBLE)) AS lnp
        FROM cnt JOIN tot USING (f)
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_trans,
           round(sum(lnp) / count(*), 4) + 0.0 AS avg_lnp
    FROM tr2 JOIN probs ON tr2.f = probs.f AND tr2.tt = probs.tt
    GROUP BY user_id
    ORDER BY avg_lnp, user_id
    LIMIT 20
    """,
)
def q_markov_loglik(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence plausibility under the corpus's own first-order Markov
    model: score every user's event stream by its mean transition
    log-probability and surface the 20 least plausible — the
    bot/anomaly screen a behavioral-data pipeline runs before
    training on logs (q_markov_transitions ships the matrix; this
    SCORES sequences with it). The model is the ≤ |types|² observed
    transition matrix (probabilities are one correctly-rounded
    division each), broadcast onto the transition stream; per-user
    mean ln p is the documented round4-safe ln-sum class, `+ 0.0`
    normalizing the can-round-to-−0.0 case, ranking on the ROUNDED
    score with user_id tie-break so both engines cut the same top-20.
    Scale: per-user lag windows (keyed), two tiny aggregates, one
    broadcast join — no global state."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", ts_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    tr = (
        e.withColumn("tt", F.lead("event_type").over(w))
        .where(F.col("tt").isNotNull())
        .select("user_id", F.col("event_type").alias("f"), "tt")
    )
    cnt = tr.groupBy("f", "tt").agg(F.count("*").alias("c"))
    tot = tr.groupBy("f").agg(F.count("*").alias("ct"))
    probs = cnt.join(tot, "f").select(
        "f",
        "tt",
        F.log(F.col("c").cast("double") / F.col("ct").cast("double")).alias(
            "lnp"
        ),
    )
    return (
        tr.join(F.broadcast(probs), ["f", "tt"])
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_trans"),
            F.round(F.sum("lnp") / F.count("*"), 4).alias("avg_lnp"),
        )
        .orderBy("avg_lnp", "user_id")
        .limit(20)
    )


@query(
    "q_dedup_clusters",
    oracle="""
    WITH RECURSIVE corpus AS (
        SELECT doc_id, text, lang, source FROM documents
        UNION ALL
        SELECT doc_id + 1000000,
               array_to_string(words[1:greatest(len(words) - 5, 1)], ' '),
               lang, source
        FROM (SELECT *, string_split(text, ' ') AS words FROM documents)
    ), sh AS (
        SELECT doc_id, lang, source,
               list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                              FOR i IN generate_series(1, len(words) - 2)])
                   AS shingles
        FROM (SELECT doc_id, lang, source,
                     list_filter(string_split(trim(lower(text)), ' '),
                                 w -> w <> '') AS words
              FROM corpus)
    ), pairs AS MATERIALIZED (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.5
    ), edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b, id_a FROM pairs
    ), reach(node, seen) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.seen FROM edges e JOIN reach r ON r.node = e.dst
    ), labels AS (
        SELECT node, min(seen) AS component FROM reach GROUP BY node
    )
    SELECT component AS cluster_rep,
           CAST(count(*) AS BIGINT) AS n_members,
           max(node) AS max_member
    FROM labels GROUP BY component ORDER BY cluster_rep
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS with canonical representatives — the
    step after pair finding that a dedup pipeline actually ships:
    transitively close the exact 3-gram-Jaccard near-dup pairs
    (q_dedup_ngram's verified edge set) into components and keep the
    min-id document as each cluster's representative. Pair→cluster
    closure matters because near-dup is not transitive: A~B and B~C
    pairs must dedup to ONE survivor, not two independent drops.
    Runs the distributed iterative min-label algorithm
    (operators/graph.connected_components: pointer-jumping +
    neighbor-min, localCheckpointed); the oracle replays the closure
    as a recursive CTE (MATERIALIZED edges — the q_graph_pagerank
    CTE-inlining gotcha), so the hash gate proves the iterative
    fixpoint exact. Scale: candidate pairs come from the blocked
    Jaccard join (never all-pairs); components iterate
    O(log diameter) rounds on the pair graph, which is orders of
    magnitude smaller than the corpus."""
    from mapreduce_llm_spark.operators.dedup import ngram_jaccard_pairs
    from mapreduce_llm_spark.operators.graph import connected_components
    from mapreduce_llm_spark.queries.llm_pipeline import _neardup_corpus

    corpus = _neardup_corpus(spark, sf_dir)
    pairs = ngram_jaccard_pairs(
        corpus, "text", "doc_id", ["lang", "source"], threshold=0.5
    )
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components(edges)
    return (
        comp.groupBy(F.col("component").alias("cluster_rep"))
        .agg(
            F.count("*").alias("n_members"),
            F.max("node").alias("max_member"),
        )
        .orderBy("cluster_rep")
    )


@query(
    "q_path_trigrams",
    oracle="""
    WITH p AS (
        SELECT user_id, event_type AS e1,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1 || '>' || e2 || '>' || e3 AS path,
           CAST(count(*) AS BIGINT) AS n_paths,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM p WHERE e3 IS NOT NULL
    GROUP BY path
    ORDER BY n_paths DESC, path
    LIMIT 10
    """,
)
def q_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path mining: the 10 most-travelled 3-event paths across all
    user streams (q_seq_pattern counts ONE given pattern; this ranks
    ALL observed length-3 paths — the exploratory flow analysis that
    picks which pattern to alert on). Two leads over the per-user
    window expand each position to its forward trigram in the same
    single sort the other sequence queries share; the aggregate is
    keyed on the path string (≤ |types|³ groups), top-10 cut on
    (count desc, path) so ties are deterministic. Scale: one keyed
    window pass + one tiny aggregate; TakeOrdered for the limit, no
    global sort."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", ts_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    p = (
        e.withColumn("e2", F.lead("event_type", 1).over(w))
        .withColumn("e3", F.lead("event_type", 2).over(w))
        .where(F.col("e3").isNotNull())
    )
    return (
        p.groupBy(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
        .agg(
            F.count("*").alias("n_paths"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n_paths"), "path")
        .limit(10)
    )
