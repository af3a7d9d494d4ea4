"""Round-11 registered surface — 50 oracle-backed analytics queries,
hash-proven through the driver-gate harness at sf0.01 AND the sf0.1 sweep env
before registration.

Tranche themes — the decision seams the first 485 queries leave open:

- **Curation selection bias** (q_filter_length_bias): a quality
  filter that silently selects on length reshapes the corpus; the
  audit compares the passing and failing populations' length.
- **Statistical planning** (q_sample_size_planner): the binomial
  sample-size table behind every per-stratum eval set — z² enters as
  the integer literal 38416 (1.96² · 10⁴), never libm.
- **Data-constrained budgeting** (q_data_budget): the per-source
  epoch-repetition factor at a 10×-token training budget — the
  Muennighoff et al. 2023 question ("how many epochs before this
  source repeats") as exact integer arithmetic.
- **Tokenizer fertility** (q_token_fertility): chars-per-word and
  words-per-KB per language — the sizing input for byte-level vs
  word-level tokenizer budgets.
- **Capacity planning** (q_peak_load): exact peak rolling-hour event
  load per type via a RANGE window frame — no self-join, no grid.
- **Event-stream science** (q_fano_factor, q_early_signal,
  q_transition_lift, q_traffic_calendar, q_value_tail_share) and
  fulfilment/pricing time series (q_latency_trend, q_price_jumps,
  q_return_seasonality, q_quantile_drift, q_discount_yield).
- **Embedding geometry** (q_embed_participation,
  q_embed_centroid_accuracy, q_embed_separation) and catalog/mix
  audits (q_catalog_name_dup, q_segment_mix_shift).

Determinism discipline: identical to the r9/r10 batches — exact
integer cents/e4 floors via integer div, no libm in any emitted value,
nullif/CASE guards on data-dependent denominators, packed-integer
argmax instead of struct argmin (the CLAUDE.md q_kmeans_step rule).

Plan-lint status: no cartesian products, no Python crossings; the
BroadcastNestedLoopJoin hits are all allowlisted broadcast
scalar/grid legs carried verbatim into
tests/test_plan_lint.py::NLJ_OK — q_data_budget, q_class_weights,
q_dow_stability, q_split_balance, q_balance_activity,
q_ingest_mix_drift.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_llm_spark.io import load_table
from mapreduce_llm_spark.queries.common import alpha_words, qdims
from mapreduce_llm_spark.registry import query

QueryFn = Callable[[SparkSession, str], DataFrame]

@query(
    "q_filter_length_bias",
    oracle="""
    WITH wc AS (
        SELECT doc_id, source, n_chars, w, CAST(count(*) AS BIGINT) AS n
        FROM (
            SELECT doc_id, source, n_chars,
                   unnest(list_filter(
                       regexp_split_to_array(lower(text), '[^a-z]+'),
                       x -> x <> '')) AS w
            FROM documents
        )
        GROUP BY doc_id, source, n_chars, w
    ),
    per_doc AS (
        SELECT doc_id, source, n_chars,
               CASE WHEN sum(n) >= 50
                     AND 3 * sum(n) <= sum(n * length(w))
                     AND sum(n * length(w)) <= 10 * sum(n)
                     AND max(n) * 5 <= sum(n)
                     AND 2 * count(*) >= sum(n)
                     AND sum(CASE WHEN w IN ('the', 'a', 'and', 'of', 'in')
                                  THEN n ELSE 0 END) >= 2
                    THEN 1 ELSE 0 END AS passed
        FROM wc
        GROUP BY doc_id, source, n_chars
    )
    SELECT source,
           CAST(sum(passed) AS BIGINT) AS n_pass,
           CAST(count(*) - sum(passed) AS BIGINT) AS n_fail,
           CAST(sum(CASE WHEN passed = 1 THEN n_chars ELSE 0 END)
                // nullif(sum(passed), 0) AS BIGINT) AS mean_chars_pass,
           CAST(sum(CASE WHEN passed = 0 THEN n_chars ELSE 0 END)
                // nullif(count(*) - sum(passed), 0) AS BIGINT)
               AS mean_chars_fail,
           CAST(sum(CASE WHEN passed = 1 THEN n_chars ELSE 0 END) * 10000
                // sum(n_chars) AS BIGINT) AS char_mass_pass_bp
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """,
)
def q_filter_length_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selection-bias audit of the Gopher-rule conjunction
    (q_gopher_rules' pass_all): mean document length among passing vs
    failing docs per source, and the passing share of character mass.
    A filter whose pass population is sharply longer than its fail
    population is selecting on length, not quality — the bias this
    audit exists to surface BEFORE a curation run bakes it in. Same
    explode → per-doc → per-source shape as the rule matrix; integer
    means via guarded integer division."""
    wc = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id", "source", "n_chars",
            F.explode(alpha_words(F.col("text"))).alias("w"),
        )
        .groupBy("doc_id", "source", "n_chars", "w")
        .agg(F.count("*").cast("long").alias("n"))
    )
    per_doc = wc.groupBy("doc_id", "source", "n_chars").agg(
        F.when(
            (F.sum("n") >= 50)
            & (3 * F.sum("n") <= F.sum(F.col("n") * F.length("w")))
            & (F.sum(F.col("n") * F.length("w")) <= 10 * F.sum("n"))
            & (F.max("n") * 5 <= F.sum("n"))
            & (2 * F.count("*") >= F.sum("n"))
            & (
                F.sum(
                    F.when(
                        F.col("w").isin("the", "a", "and", "of", "in"),
                        F.col("n"),
                    ).otherwise(0)
                )
                >= 2
            ),
            1,
        )
        .otherwise(0)
        .alias("passed")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.sum("passed").cast("long").alias("n_pass"),
            (F.count("*") - F.sum("passed")).cast("long").alias("n_fail"),
            F.expr(
                "CAST(sum(CASE WHEN passed = 1 THEN n_chars ELSE 0 END)"
                " div nullif(sum(passed), 0) AS BIGINT)"
            ).alias("mean_chars_pass"),
            F.expr(
                "CAST(sum(CASE WHEN passed = 0 THEN n_chars ELSE 0 END)"
                " div nullif(count(*) - sum(passed), 0) AS BIGINT)"
            ).alias("mean_chars_fail"),
            F.expr(
                "CAST(sum(CASE WHEN passed = 1 THEN n_chars ELSE 0 END)"
                " * 10000 div sum(n_chars) AS BIGINT)"
            ).alias("char_mass_pass_bp"),
        )
        .orderBy("source")
    )


@query(
    "q_sample_size_planner",
    oracle="""
    WITH s AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_avail,
               CAST(sum(CASE WHEN n_chars BETWEEN 150 AND 450
                             THEN 1 ELSE 0 END) * 10000
                    // count(*) AS BIGINT) AS p_bp
        FROM documents
        GROUP BY lang
    )
    SELECT lang, n_avail, p_bp,
           CAST((38416 * p_bp * (10000 - p_bp)) // 100000000 AS BIGINT)
               AS n_req_pm100bp,
           CAST(CASE WHEN (38416 * p_bp * (10000 - p_bp)) // 100000000
                          <= n_avail
                     THEN 1 ELSE 0 END AS BIGINT) AS sufficient
    FROM s
    ORDER BY lang
    """,
)
def q_sample_size_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binomial sample-size table per language: the documents needed
    to estimate a share (here: the length-filter pass rate) to ±100 bp
    at 95% confidence — n = z²·p(1−p)/w², evaluated as PURE integers
    with z²·10⁴ = 38416 inlined as a literal (the
    q_minhash_band_tuning rule: no cross-engine libm; the normal
    quantile is driver-precomputed). The sufficiency flag is the
    do-we-have-enough-eval-data answer per stratum."""
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_avail"),
        F.expr(
            "CAST(sum(CASE WHEN n_chars BETWEEN 150 AND 450 THEN 1"
            " ELSE 0 END) * 10000 div count(*) AS BIGINT)"
        ).alias("p_bp"),
    )
    return s.select(
        "lang", "n_avail", "p_bp",
        F.expr(
            "CAST((38416 * p_bp * (10000 - p_bp)) div 100000000"
            " AS BIGINT)"
        ).alias("n_req_pm100bp"),
        F.expr(
            "CAST(CASE WHEN (38416 * p_bp * (10000 - p_bp))"
            " div 100000000 <= n_avail THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("sufficient"),
    ).orderBy("lang")


@query(
    "q_data_budget",
    oracle="""
    WITH toks AS (
        SELECT source,
               CAST(sum(len(list_filter(
                   regexp_split_to_array(lower(text), '[^a-z]+'),
                   x -> x <> ''))) AS BIGINT) AS n_tokens
        FROM documents
        GROUP BY source
    ),
    t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM toks)
    SELECT source, n_tokens,
           CAST(n_tokens * 10000 // t.total AS BIGINT) AS mix_bp,
           CAST(t.total * 10 // 20 AS BIGINT) AS budget_per_source,
           CAST((t.total * 10 // 20) * 100 // n_tokens AS BIGINT)
               AS repeats_e2,
           CAST(CASE WHEN (t.total * 10 // 20) * 100 // n_tokens > 400
                     THEN 1 ELSE 0 END AS BIGINT) AS over_4_epochs
    FROM toks, t
    ORDER BY source
    """,
)
def q_data_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained training budget per source: if a 10×-corpus
    token budget were split uniformly across the 20 sources, how many
    times would each source's data repeat (e2 = hundredths of an
    epoch), and which sources cross the ~4-epoch mark past which
    repetition stops helping (Muennighoff et al. 2023, "Scaling
    Data-Constrained Language Models"). Exact integers throughout;
    the corpus-total leg is the allowlisted broadcast 1-row cross
    (the q_mix_weights class)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.groupBy("source").agg(
        F.sum(F.size(alpha_words(F.col("text"))))
        .cast("long")
        .alias("n_tokens")
    )
    t = toks.agg(F.sum("n_tokens").cast("long").alias("total"))
    return (
        toks.crossJoin(F.broadcast(t))
        .select(
            "source", "n_tokens",
            F.expr("CAST(n_tokens * 10000 div total AS BIGINT)").alias(
                "mix_bp"
            ),
            F.expr("CAST(total * 10 div 20 AS BIGINT)").alias(
                "budget_per_source"
            ),
            F.expr(
                "CAST((total * 10 div 20) * 100 div n_tokens AS BIGINT)"
            ).alias("repeats_e2"),
            F.expr(
                "CAST(CASE WHEN (total * 10 div 20) * 100 div n_tokens"
                " > 400 THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("over_4_epochs"),
        )
        .orderBy("source")
    )


@query(
    "q_token_fertility",
    oracle="""
    WITH w AS (
        SELECT lang,
               CAST(sum(len(list_filter(
                   regexp_split_to_array(lower(text), '[^a-z]+'),
                   x -> x <> ''))) AS BIGINT) AS n_words,
               CAST(sum(n_chars) AS BIGINT) AS n_chars,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM documents
        GROUP BY lang
    )
    SELECT lang, n_docs, n_words, n_chars,
           CAST(n_chars * 100 // n_words AS BIGINT) AS chars_per_word_e2,
           CAST(n_words * 1024 // n_chars AS BIGINT) AS words_per_kib,
           CAST(n_words * 100 // n_docs AS BIGINT) AS words_per_doc_e2
    FROM w
    ORDER BY lang
    """,
)
def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility table per language: characters per word
    (e2), words per KiB, and words per document — the byte-level vs
    word-level tokenizer sizing input (a language at 2× the
    chars-per-word needs ~2× the byte-tokenizer budget for the same
    semantic content). One grouped aggregate; all ratios exact
    integer floors."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.size(alpha_words(F.col("text"))))
            .cast("long")
            .alias("n_words"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
        .select(
            "lang", "n_docs", "n_words", "n_chars",
            F.expr("CAST(n_chars * 100 div n_words AS BIGINT)").alias(
                "chars_per_word_e2"
            ),
            F.expr("CAST(n_words * 1024 div n_chars AS BIGINT)").alias(
                "words_per_kib"
            ),
            F.expr("CAST(n_words * 100 div n_docs AS BIGINT)").alias(
                "words_per_doc_e2"
            ),
        )
        .orderBy("lang")
    )


@query(
    "q_peak_load",
    oracle="""
    WITH e AS (
        SELECT event_type, event_id, epoch_us(ts) AS tus FROM events
    ),
    c AS (
        SELECT event_type, tus, event_id,
               count(*) OVER (
                   PARTITION BY event_type ORDER BY tus
                   RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW
               ) AS n_hour
        FROM e
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(n_hour) AS BIGINT) AS peak_hour_load,
           CAST(max(n_hour) * 10000 // count(*) AS BIGINT)
               AS peak_share_bp,
           CAST(min(CASE WHEN n_hour = mx THEN tus END) AS BIGINT)
               AS peak_at_us
    FROM (SELECT *, max(n_hour) OVER (PARTITION BY event_type) AS mx
          FROM c)
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_peak_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak rolling-hour load per event type: the maximum number of
    events inside any trailing 60-minute window, when it happened
    (earliest attaining µs), and its share of the type's total traffic
    — the capacity-planning number behind autoscaling thresholds and
    q_error_budget_burn's burst assumptions. Exact sweep via a RANGE
    window frame over integer µs (every event is a window anchor — no
    self-join, no minute-grid discretization); ties on the peak break
    to the earliest timestamp via min-over-equals."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("tus")
        .rangeBetween(-3599999999, 0)
    )
    c = e.select(
        "event_type", "tus", F.count("*").over(w).alias("n_hour")
    ).withColumn(
        "mx", F.max("n_hour").over(Window.partitionBy("event_type"))
    )
    return (
        c.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.max("n_hour").cast("long").alias("peak_hour_load"),
            F.expr(
                "CAST(max(n_hour) * 10000 div count(*) AS BIGINT)"
            ).alias("peak_share_bp"),
            F.min(F.when(F.col("n_hour") == F.col("mx"), F.col("tus")))
            .cast("long")
            .alias("peak_at_us"),
        )
        .orderBy("event_type")
    )


@query(
    "q_trade_locality",
    oracle="""
    WITH f AS (
        SELECT s.s_nationkey AS sup_nk, c.c_nationkey AS cust_nk,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        FROM lineitem
        JOIN supplier s ON l_suppkey = s.s_suppkey
        JOIN orders o ON l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    per_nation AS (
        SELECT cust_nk,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(cents) AS BIGINT) AS total_cents,
               CAST(sum(CASE WHEN sup_nk = cust_nk THEN cents ELSE 0 END)
                    AS BIGINT) AS local_cents
        FROM f
        GROUP BY cust_nk
    )
    SELECT n_name,
           n_lines, total_cents, local_cents,
           CAST(local_cents * 10000 // total_cents AS BIGINT)
               AS local_bp
    FROM per_nation JOIN nation ON cust_nk = n_nationkey
    ORDER BY n_name
    """,
)
def q_trade_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trade locality per customer nation: the share of purchased
    value supplied from the SAME nation — the supply-chain-miles proxy
    (TPC-H Q5 measures local volume for one region; this is the full
    per-nation locality ledger). One star join collapses to a 25-row
    aggregate before touching the nation dimension; money is exact
    integer cents."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    f = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("s_nationkey").alias("sup_nk"),
            F.col("c_nationkey").alias("cust_nk"),
            F.floor(F.col("l_extendedprice") * 100 + 0.5).alias("cents"),
        )
    )
    per_nation = f.groupBy("cust_nk").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.sum(F.when(F.col("sup_nk") == F.col("cust_nk"), F.col("cents")).otherwise(0))
        .cast("long")
        .alias("local_cents"),
    )
    return (
        per_nation.join(F.broadcast(n), per_nation.cust_nk == n.n_nationkey)
        .select(
            "n_name", "n_lines", "total_cents", "local_cents",
            F.expr(
                "CAST(local_cents * 10000 div total_cents AS BIGINT)"
            ).alias("local_bp"),
        )
        .orderBy("n_name")
    )


@query(
    "q_discount_consistency",
    oracle="""
    WITH pm AS (
        SELECT p_brand,
               l_partkey,
               year(l_shipdate) * 100 + month(l_shipdate) AS m,
               CAST(min(CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS min_disc_pct,
               CAST(max(CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS max_disc_pct,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand, l_partkey, year(l_shipdate) * 100
                 + month(l_shipdate)
    )
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_part_months,
           CAST(sum(CASE WHEN n_lines >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_comparable,
           CAST(sum(CASE WHEN n_lines >= 2
                          AND max_disc_pct - min_disc_pct >= 5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_inconsistent,
           CAST(sum(CASE WHEN n_lines >= 2
                          AND max_disc_pct - min_disc_pct >= 5
                         THEN 1 ELSE 0 END) * 10000
                // nullif(sum(CASE WHEN n_lines >= 2 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS inconsistent_bp,
           CAST(max(max_disc_pct - min_disc_pct) AS BIGINT)
               AS worst_spread_pct
    FROM pm
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def q_discount_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount-governance audit per brand: part-months where the same
    part, in the same calendar month, sold at discounts ≥ 5 percentage
    points apart — the inconsistent-discounting screen (the discount
    analogue of q_price_fairness's same-day total-price check).
    Discount percentages are exact integers (floor(d·100 + .5));
    everything aggregates on (brand, part, month) then brand."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    pm = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(
            "p_brand", "l_partkey",
            (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias("m"),
        )
        .agg(
            F.min(F.floor(F.col("l_discount") * 100 + 0.5))
            .cast("long")
            .alias("min_disc_pct"),
            F.max(F.floor(F.col("l_discount") * 100 + 0.5))
            .cast("long")
            .alias("max_disc_pct"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )
    comparable = F.col("n_lines") >= 2
    inconsistent = comparable & (
        F.col("max_disc_pct") - F.col("min_disc_pct") >= 5
    )
    return (
        pm.groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_part_months"),
            F.sum(F.when(comparable, 1).otherwise(0))
            .cast("long")
            .alias("n_comparable"),
            F.sum(F.when(inconsistent, 1).otherwise(0))
            .cast("long")
            .alias("n_inconsistent"),
            F.expr(
                "CAST(sum(CASE WHEN n_lines >= 2 AND max_disc_pct -"
                " min_disc_pct >= 5 THEN 1 ELSE 0 END) * 10000"
                " div nullif(sum(CASE WHEN n_lines >= 2 THEN 1 ELSE 0"
                " END), 0) AS BIGINT)"
            ).alias("inconsistent_bp"),
            F.max(F.col("max_disc_pct") - F.col("min_disc_pct"))
            .cast("long")
            .alias("worst_spread_pct"),
        )
        .orderBy("p_brand")
    )


@query(
    "q_class_weights",
    oracle="""
    WITH c AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n
        FROM embeddings
        GROUP BY label
    ),
    t AS (
        SELECT CAST(sum(n) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS k,
               CAST(max(n) AS BIGINT) AS max_n
        FROM c
    )
    SELECT CAST(label AS BIGINT) AS label, n,
           CAST(n * 10000 // t.total AS BIGINT) AS freq_bp,
           CAST(t.total * 10000 // (t.k * n) AS BIGINT) AS inv_freq_e4,
           CAST(t.max_n * 10000 // n AS BIGINT) AS max_ratio_e4
    FROM c, t
    ORDER BY label
    """,
)
def q_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-weight table for the embedding labels: inverse-frequency
    weights (N / (k·n_i), e4 — the sklearn 'balanced' convention) and
    each class's imbalance ratio against the largest class — the
    table a trainer loads before weighting a loss or resampling. The
    totals leg is the allowlisted broadcast 1-row cross over the
    k-row class aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.groupBy("label").agg(F.count("*").cast("long").alias("n"))
    t = c.agg(
        F.sum("n").cast("long").alias("total"),
        F.count("*").cast("long").alias("k"),
        F.max("n").cast("long").alias("max_n"),
    )
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            F.col("label").cast("long").alias("label"), "n",
            F.expr("CAST(n * 10000 div total AS BIGINT)").alias("freq_bp"),
            F.expr(
                "CAST(total * 10000 div (k * n) AS BIGINT)"
            ).alias("inv_freq_e4"),
            F.expr("CAST(max_n * 10000 div n AS BIGINT)").alias(
                "max_ratio_e4"
            ),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Second r11 seed batch: sequential experimentation, attribution window
# sensitivity, loyalty/switching, money-precision data quality, and
# per-label embedding norm bias. Flip checklist additions (NLJ_OK):
# q_attribution_window_sweep (3-row window grid explode is a generator,
# not a join — no NLJ); q_cents_audit (none — per-table aggregates
# union); none needed.
# ---------------------------------------------------------------------------


@query(
    "q_sequential_test",
    oracle="""
    WITH u AS (
        SELECT user_id, user_id % 2 AS arm,
               epoch_us(ts) // 86400000000 AS day,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
        FROM events
    ),
    daily AS (
        SELECT day, arm,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(conv) AS BIGINT) AS c
        FROM u GROUP BY day, arm
    ),
    cum AS (
        SELECT day,
               sum(CASE WHEN arm = 0 THEN n ELSE 0 END)
                   OVER (ORDER BY day) AS n0,
               sum(CASE WHEN arm = 0 THEN c ELSE 0 END)
                   OVER (ORDER BY day) AS c0,
               sum(CASE WHEN arm = 1 THEN n ELSE 0 END)
                   OVER (ORDER BY day) AS n1,
               sum(CASE WHEN arm = 1 THEN c ELSE 0 END)
                   OVER (ORDER BY day) AS c1,
               row_number() OVER (PARTITION BY day ORDER BY arm) AS rn
        FROM daily
    ),
    z AS (
        SELECT day,
               CAST(n0 AS BIGINT) AS n0, CAST(c0 AS BIGINT) AS c0,
               CAST(n1 AS BIGINT) AS n1, CAST(c1 AS BIGINT) AS c1,
               CAST(floor(
                   (CAST(n0 + n1 AS DOUBLE)
                    * CAST(c0 * n1 - c1 * n0 AS DOUBLE)
                    * CAST(c0 * n1 - c1 * n0 AS DOUBLE)) * 10000.0
                   / (CAST(c0 + c1 AS DOUBLE)
                      * CAST(n0 + n1 - c0 - c1 AS DOUBLE)
                      * CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE))
               ) AS BIGINT) AS z2_e4
        FROM cum WHERE rn = 1 AND n0 > 0 AND n1 > 0
    )
    SELECT CAST(day AS BIGINT) AS day, n0, c0, n1, c1, z2_e4,
           CAST(CASE WHEN z2_e4 >= 58226 THEN 1 ELSE 0 END AS BIGINT)
               AS crossed
    FROM z
    ORDER BY day
    """,
)
def q_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential A/B monitoring: the cumulative two-proportion
    χ² statistic per day (arms = user-id parity, conversion =
    purchase events) against a Pocock-style constant boundary
    z = 2.413 ⇒ z² = 5.8226, inlined as the integer literal 58226 e4
    (the driver-precomputed-literal rule — peeking daily at a naive
    1.96 boundary inflates false positives; this is the audit that
    shows WHERE a sequential design would have stopped). The χ² is
    ONE fixed-shape double expression over exact int64 cumulative
    counts (the q_bot_score class: the squared term passes 2⁵³ only
    AFTER the deterministic int64→double conversion and IEEE
    multiply). Daily cumulative sums are windows over the ~30-row
    day×arm aggregate."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.select(
        (F.col("user_id") % 2).alias("arm"),
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000"
        ).alias("day"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "conv"
        ),
    )
    daily = u.groupBy("day", "arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("conv").cast("long").alias("c"),
    )
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        F.sum(F.when(F.col("arm") == 0, F.col("n")).otherwise(0))
        .over(Window.orderBy("day"))
        .alias("n0"),
        F.sum(F.when(F.col("arm") == 0, F.col("c")).otherwise(0))
        .over(Window.orderBy("day"))
        .alias("c0"),
        F.sum(F.when(F.col("arm") == 1, F.col("n")).otherwise(0))
        .over(Window.orderBy("day"))
        .alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("c")).otherwise(0))
        .over(Window.orderBy("day"))
        .alias("c1"),
        F.row_number()
        .over(Window.partitionBy("day").orderBy("arm"))
        .alias("rn"),
    ).filter((F.col("rn") == 1) & (F.col("n0") > 0) & (F.col("n1") > 0))
    z = cum.select(
        F.col("day").cast("long").alias("day"), "n0", "c0", "n1", "c1",
        F.expr(
            "CAST(floor((CAST(n0 + n1 AS DOUBLE)"
            " * CAST(c0 * n1 - c1 * n0 AS DOUBLE)"
            " * CAST(c0 * n1 - c1 * n0 AS DOUBLE)) * 10000.0"
            " / (CAST(c0 + c1 AS DOUBLE)"
            " * CAST(n0 + n1 - c0 - c1 AS DOUBLE)"
            " * CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE))) AS BIGINT)"
        ).alias("z2_e4"),
    )
    return z.select(
        "day", "n0", "c0", "n1", "c1", "z2_e4",
        F.expr(
            "CAST(CASE WHEN z2_e4 >= 58226 THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("crossed"),
    ).orderBy("day")


@query(
    "q_attribution_window_sweep",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type, event_id, epoch_us(ts) AS tus
        FROM events
    ),
    p AS (
        SELECT tus - max(CASE WHEN event_type = 'view' THEN tus END)
                   OVER (PARTITION BY user_id ORDER BY tus, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS since_view_us,
               event_type
        FROM e
    ),
    pur AS (SELECT since_view_us FROM p WHERE event_type = 'purchase'),
    grid AS (SELECT unnest([3600, 86400, 604800]) AS w_s)
    SELECT CAST(w_s AS BIGINT) AS w_s,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CASE WHEN since_view_us IS NOT NULL
                          AND since_view_us <= CAST(w_s AS BIGINT) * 1000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
           CAST(sum(CASE WHEN since_view_us IS NOT NULL
                          AND since_view_us <= CAST(w_s AS BIGINT) * 1000000
                         THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT)
               AS attributed_bp
    FROM pur, grid
    GROUP BY w_s
    ORDER BY w_s
    """,
)
def q_attribution_window_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution-window sensitivity: the share of purchases that a
    view-attribution rule credits, swept over 1-hour / 1-day / 7-day
    lookback windows — the tuning curve behind every last-touch
    attribution choice (q_attribution fixes one window; this shows how
    much the answer MOVES with the choice — the watermark-yield
    pattern applied to credit). One keyed running-max window computes
    each purchase's time-since-last-view exactly in integer µs; the
    3-row grid is a generator explode against the tiny purchase-level
    aggregate."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tus", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    p = e.select(
        "event_type",
        (
            F.col("tus")
            - F.max(
                F.when(F.col("event_type") == "view", F.col("tus"))
            ).over(w)
        ).alias("since_view_us"),
    ).filter(F.col("event_type") == "purchase")
    g = p.select(
        "since_view_us",
        F.explode(
            F.array(F.lit(3600), F.lit(86400), F.lit(604800))
        ).alias("w_s"),
    )
    hit = F.col("since_view_us").isNotNull() & (
        F.col("since_view_us") <= F.col("w_s").cast("long") * 1000000
    )
    return (
        g.groupBy("w_s")
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.sum(F.when(hit, 1).otherwise(0))
            .cast("long")
            .alias("n_attributed"),
            F.expr(
                "CAST(sum(CASE WHEN since_view_us IS NOT NULL AND"
                " since_view_us <= CAST(w_s AS BIGINT) * 1000000 THEN 1"
                " ELSE 0 END) * 10000 div count(*) AS BIGINT)"
            ).alias("attributed_bp"),
        )
        .select(
            F.col("w_s").cast("long").alias("w_s"), "n_purchases",
            "n_attributed", "attributed_bp",
        )
        .orderBy("w_s")
    )


@query(
    "q_brand_loyalty",
    oracle="""
    WITH cb AS (
        SELECT o_custkey AS ck, p_brand AS brand,
               CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders
        FROM orders
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN part ON l_partkey = p_partkey
        GROUP BY o_custkey, p_brand
    ),
    cu AS (
        SELECT ck,
               CAST(count(*) AS BIGINT) AS n_brands,
               CAST(sum(n_orders) AS BIGINT) AS n_brand_orders
        FROM cb GROUP BY ck
    )
    SELECT brand,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN cb.n_orders >= 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_repeat,
           CAST(sum(CASE WHEN cb.n_orders >= 2 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS repeat_bp,
           CAST(sum(CASE WHEN cu.n_brands = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exclusive,
           CAST(sum(CASE WHEN cu.n_brands = 1 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS exclusive_bp
    FROM cb JOIN cu ON cb.ck = cu.ck
    GROUP BY brand
    ORDER BY brand
    """,
)
def q_brand_loyalty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand loyalty/switching per brand: of the customers who bought
    the brand, how many bought it in ≥ 2 distinct orders (repeat), and
    how many bought NO other brand (exclusive) — the
    loyalty-vs-promiscuity table behind q_brand_cannibalization's
    substitution view. Two keyed aggregations (customer×brand, then
    customer), joined back equi-keyed on customer."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cb = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("o_custkey").alias("ck"), F.col("p_brand").alias("brand"))
        .agg(F.countDistinct("o_orderkey").cast("long").alias("n_orders"))
    )
    cu = cb.groupBy("ck").agg(
        F.count("*").cast("long").alias("n_brands"),
        F.sum("n_orders").cast("long").alias("n_brand_orders"),
    ).withColumnRenamed("ck", "ck2")
    j = cb.join(cu, cb.ck == cu.ck2)
    return (
        j.groupBy("brand")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_repeat"),
            F.expr(
                "CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)"
                " * 10000 div count(*) AS BIGINT)"
            ).alias("repeat_bp"),
            F.sum(F.when(F.col("n_brands") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_exclusive"),
            F.expr(
                "CAST(sum(CASE WHEN n_brands = 1 THEN 1 ELSE 0 END)"
                " * 10000 div count(*) AS BIGINT)"
            ).alias("exclusive_bp"),
        )
        .orderBy("brand")
    )


@query(
    "q_cents_audit",
    oracle="""
    WITH probes AS (
        SELECT 'lineitem.l_extendedprice' AS col_name,
               CAST(count(*) AS BIGINT) AS n_vals,
               CAST(sum(CASE WHEN abs(l_extendedprice * 100
                                      - floor(l_extendedprice * 100 + 0.5))
                             > 0.000001 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_noncents,
               CAST(sum(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_negative
        FROM lineitem
        UNION ALL
        SELECT 'orders.o_totalprice',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN abs(o_totalprice * 100
                                      - floor(o_totalprice * 100 + 0.5))
                             > 0.000001 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END)
                    AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'customer.c_acctbal',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN abs(c_acctbal * 100
                                      - floor(c_acctbal * 100 + 0.5))
                             > 0.000001 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END)
                    AS BIGINT)
        FROM customer
        UNION ALL
        SELECT 'supplier.s_acctbal',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN abs(s_acctbal * 100
                                      - floor(s_acctbal * 100 + 0.5))
                             > 0.000001 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(sum(CASE WHEN s_acctbal < 0 THEN 1 ELSE 0 END)
                    AS BIGINT)
        FROM supplier
    )
    SELECT col_name, n_vals, n_noncents, n_negative,
           CAST(n_noncents * 10000 // n_vals AS BIGINT) AS noncents_bp
    FROM probes
    ORDER BY col_name
    """,
)
def q_cents_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money-precision data-quality audit: for every money column, the
    count of values that are NOT exactly representable as integer
    cents (|x·100 − round(x·100)| beyond a 1e-6 guard) plus negatives
    — the pre-flight that justifies the engine-wide
    floor(x·100 + 0.5) cents convention every finance query here
    relies on (a nonzero noncents count would mean that convention
    silently rewrites amounts). Four single-pass aggregates unioned;
    the probe arithmetic is fixed-shape IEEE on both engines."""
    def probe(df: DataFrame, col: str, label: str) -> DataFrame:
        x = F.col(col)
        return df.agg(
            F.lit(label).alias("col_name"),
            F.count("*").cast("long").alias("n_vals"),
            F.sum(
                F.when(
                    F.abs(x * 100 - F.floor(x * 100 + 0.5)) > 0.000001, 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_noncents"),
            F.sum(F.when(x < 0, 1).otherwise(0))
            .cast("long")
            .alias("n_negative"),
        )

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    u = (
        probe(li, "l_extendedprice", "lineitem.l_extendedprice")
        .unionAll(probe(o, "o_totalprice", "orders.o_totalprice"))
        .unionAll(probe(c, "c_acctbal", "customer.c_acctbal"))
        .unionAll(probe(s, "s_acctbal", "supplier.s_acctbal"))
    )
    return u.select(
        "col_name", "n_vals", "n_noncents", "n_negative",
        F.expr("CAST(n_noncents * 10000 div n_vals AS BIGINT)").alias(
            "noncents_bp"
        ),
    ).orderBy("col_name")


@query(
    "q_embed_norm_bias",
    oracle="""
    WITH n2 AS (
        SELECT vec_id, label,
               CAST(list_sum(list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000)
                             AS BIGINT)
                        * CAST(floor(CAST(x AS DOUBLE) * 1000)
                               AS BIGINT))) AS BIGINT) AS q2
        FROM embeddings
    ),
    r AS (
        SELECT label, q2,
               row_number() OVER (PARTITION BY label ORDER BY q2, vec_id)
                   AS rk,
               count(*) OVER (PARTITION BY label) AS n
        FROM n2
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(max(n) AS BIGINT) AS n_vecs,
           CAST(max(CASE WHEN rk = (n + 1) // 2 THEN q2 END) AS BIGINT)
               AS p50_q2_e6,
           CAST(max(CASE WHEN rk = (n * 90 + 99) // 100 THEN q2 END)
                AS BIGINT) AS p90_q2_e6,
           CAST(min(q2) AS BIGINT) AS min_q2_e6,
           CAST(max(q2) AS BIGINT) AS max_q2_e6
    FROM r
    GROUP BY label
    ORDER BY label
    """,
)
def q_embed_norm_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label norm-bias table: exact median and p90 of the squared
    vector norm per label (e3-quantized coordinates ⇒ e6 integer
    norms) — label-wise norm bias silently turns dot-product search
    into a label prior (q_embed_norms reports the global norm
    distribution; the BIAS question is per-label). Norms fold inside
    the array per row (no explode); the percentile ranks run per
    label over vector-count rows with the binomial-rank arithmetic."""
    emb = load_table(spark, sf_dir, "embeddings")
    n2 = emb.select(
        "vec_id", "label",
        F.aggregate(
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * 1000)
                * F.floor(x.cast("double") * 1000),
            ),
            F.lit(0).cast("long"),
            lambda acc, y: acc + y,
        ).alias("q2"),
    )
    wl = Window.partitionBy("label")
    r = n2.select(
        "label", "q2",
        F.row_number().over(wl.orderBy("q2", "vec_id")).alias("rk"),
        F.count("*").over(wl).alias("n"),
    )
    return (
        r.groupBy("label")
        .agg(
            F.max("n").cast("long").alias("n_vecs"),
            F.max(
                F.when(F.col("rk") == F.expr("(n + 1) div 2"), F.col("q2"))
            )
            .cast("long")
            .alias("p50_q2_e6"),
            F.max(
                F.when(
                    F.col("rk") == F.expr("(n * 90 + 99) div 100"),
                    F.col("q2"),
                )
            )
            .cast("long")
            .alias("p90_q2_e6"),
            F.min("q2").cast("long").alias("min_q2_e6"),
            F.max("q2").cast("long").alias("max_q2_e6"),
        )
        .select(
            F.col("label").cast("long").alias("label"), "n_vecs",
            "p50_q2_e6", "p90_q2_e6", "min_q2_e6", "max_q2_e6",
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Third r11 seed batch: fulfilment span percentiles, value-weighted
# returns, language-mix entropy, embedding quantization error (exact
# integer residuals), and weekday-mix stability. Flip checklist
# additions (NLJ_OK): none.
# ---------------------------------------------------------------------------


@query(
    "q_fulfillment_span",
    oracle="""
    WITH per_order AS (
        SELECT o_orderkey, o_orderpriority,
               datediff('day', min(CAST(l_shipdate AS DATE)),
                        max(CAST(l_shipdate AS DATE))) AS span_days,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderkey, o_orderpriority
        HAVING count(*) >= 2
    ),
    r AS (
        SELECT o_orderpriority, span_days,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY span_days, o_orderkey) AS rk,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM per_order
    )
    SELECT o_orderpriority,
           CAST(max(n) AS BIGINT) AS n_orders,
           CAST(max(CASE WHEN rk = (n + 1) // 2 THEN span_days END)
                AS BIGINT) AS median_span_days,
           CAST(max(CASE WHEN rk = (n * 90 + 99) // 100 THEN span_days END)
                AS BIGINT) AS p90_span_days,
           CAST(max(span_days) AS BIGINT) AS max_span_days
    FROM r
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_fulfillment_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order fulfilment span per priority: exact median/p90/max of the
    days between a multi-line order's FIRST and LAST shipment — the
    split-shipment duration q_otif's on-time flag and
    q_order_consolidation's shipment counts don't expose. Integer day
    spans from one order-level aggregate; binomial-rank percentiles
    per priority (5 partitions)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.datediff(
                F.max(F.col("l_shipdate").cast("date")),
                F.min(F.col("l_shipdate").cast("date")),
            ).alias("span_days"),
            F.count("*").cast("long").alias("n_lines"),
        )
        .filter(F.col("n_lines") >= 2)
    )
    wp = Window.partitionBy("o_orderpriority")
    r = per_order.select(
        "o_orderpriority", "span_days",
        F.row_number()
        .over(wp.orderBy("span_days", "o_orderkey"))
        .alias("rk"),
        F.count("*").over(wp).alias("n"),
    )
    return (
        r.groupBy("o_orderpriority")
        .agg(
            F.max("n").cast("long").alias("n_orders"),
            F.max(
                F.when(
                    F.col("rk") == F.expr("(n + 1) div 2"),
                    F.col("span_days"),
                )
            )
            .cast("long")
            .alias("median_span_days"),
            F.max(
                F.when(
                    F.col("rk") == F.expr("(n * 90 + 99) div 100"),
                    F.col("span_days"),
                )
            )
            .cast("long")
            .alias("p90_span_days"),
            F.max("span_days").cast("long").alias("max_span_days"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_returns_value",
    oracle="""
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_cents,
           CAST(sum(CASE WHEN l_returnflag = 'R'
                         THEN CAST(floor(l_extendedprice * 100 + 0.5)
                                   AS BIGINT) ELSE 0 END) AS BIGINT)
               AS returned_cents,
           CAST(sum(CASE WHEN l_returnflag = 'R'
                         THEN CAST(floor(l_extendedprice * 100 + 0.5)
                                   AS BIGINT) ELSE 0 END) * 10000
                // sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS returned_value_bp,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                * 10000 // count(*) AS BIGINT) AS returned_lines_bp
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def q_returns_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-weighted return exposure per brand: the share of the
    brand's REVENUE carried by returned lines, next to the line-count
    share — when the two diverge, returns concentrate in expensive
    items and the count-based rate understates the damage (the value
    twin of q_return_by_delay's timing view). Exact integer cents,
    one fact join + grouped aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5)
    ret = F.col("l_returnflag") == "R"
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(cents).cast("long").alias("total_cents"),
            F.sum(F.when(ret, cents).otherwise(0))
            .cast("long")
            .alias("returned_cents"),
            F.expr(
                "CAST(sum(CASE WHEN l_returnflag = 'R' THEN"
                " CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
                " ELSE 0 END) * 10000 div sum(CAST(floor(l_extendedprice"
                " * 100 + 0.5) AS BIGINT)) AS BIGINT)"
            ).alias("returned_value_bp"),
            F.expr(
                "CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)"
                " * 10000 div count(*) AS BIGINT)"
            ).alias("returned_lines_bp"),
        )
        .orderBy("p_brand")
    )


@query(
    "q_lang_mix_entropy",
    oracle="""
    WITH c AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        FROM documents
        GROUP BY source, lang
    ),
    p AS (
        SELECT source, n,
               CAST(n AS DOUBLE)
                   / sum(n) OVER (PARTITION BY source) AS pr
        FROM c
    )
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_langs,
           round(-sum(pr * ln(pr)), 4) + 0.0 AS lang_entropy,
           CAST(max(n) * 10000 // sum(n) AS BIGINT) AS top_lang_bp
    FROM p
    GROUP BY source
    ORDER BY source
    """,
)
def q_lang_mix_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix entropy per source: how diverse each source's
    language routing is (0 = monolingual, ln(5) = uniform) plus the
    dominant language's share — the routing-diversity signal behind
    per-language capacity planning (q_length_filter_yield sizes the
    filter; this sizes the MIX). ln outputs are the sanctioned
    round(,4) class; the entropy folds over the ≤|langs| rows of the
    source×lang aggregate."""
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("n")
    )
    ws = Window.partitionBy("source")
    p = c.select(
        "source", "n",
        (F.col("n").cast("double") / F.sum("n").over(ws)).alias("pr"),
    )
    return (
        p.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_langs"),
            (F.round(-F.sum(F.col("pr") * F.log("pr")), 4) + 0.0).alias(
                "lang_entropy"
            ),
            F.expr(
                "CAST(max(n) * 10000 div sum(n) AS BIGINT)"
            ).alias("top_lang_bp"),
        )
        .orderBy("source")
    )


@query(
    "q_quantization_error",
    oracle="""
    WITH f AS (
        SELECT label,
               list_sum(list_transform(embedding, x ->
                   (CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                    % 1000)
                   * (CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                      % 1000))) AS sq_err,
               len(embedding) AS width
        FROM embeddings
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(sq_err) AS BIGINT) AS total_sq_err_e12,
           CAST(sum(sq_err) // (count(*) * max(width)) AS BIGINT)
               AS mean_sq_err_per_dim_e12,
           CAST(max(sq_err) AS BIGINT) AS max_vec_sq_err_e12
    FROM f
    GROUP BY label
    ORDER BY label
    """,
)
def q_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact e3-quantization error per label: the squared residual of
    snapping e6-integer coordinates to the e3 grid (the quantization
    q_embed_centroid_sim and q_embed_norm_bias compute ON) — the
    distortion budget that says whether 3-decimal quantization is
    safe for this corpus's similarity decisions. The residual
    r = x_e6 − 1000·(x_e6 div 1000) is PURE INTEGER arithmetic (the
    only float op is the deterministic floor(x·10⁶)), so the error
    sums are exact int64 on both engines — no float MSE
    summation-order hazard. Residuals fold inside the array per row;
    one grouped aggregate per label."""
    emb = load_table(spark, sf_dir, "embeddings")
    f = emb.select(
        "label",
        F.aggregate(
            F.transform(
                "embedding",
                lambda x: (F.floor(x.cast("double") * 1000000) % 1000)
                * (F.floor(x.cast("double") * 1000000) % 1000),
            ),
            F.lit(0).cast("long"),
            lambda acc, y: acc + y.cast("long"),
        ).alias("sq_err"),
        F.size("embedding").alias("width"),
    )
    return (
        f.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.sum("sq_err").cast("long").alias("total_sq_err_e12"),
            F.expr(
                "CAST(sum(sq_err) div (count(*) * max(width)) AS BIGINT)"
            ).alias("mean_sq_err_per_dim_e12"),
            F.max("sq_err").cast("long").alias("max_vec_sq_err_e12"),
        )
        .select(
            F.col("label").cast("long").alias("label"), "n_vecs",
            "total_sq_err_e12", "mean_sq_err_per_dim_e12",
            "max_vec_sq_err_e12",
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Fourth r11 seed batch: schedule stability, eval-split stratification,
# and the shingle document-frequency profile (the df-cap tuning input
# for the inverted-index dedup family). Flip checklist additions
# (NLJ_OK): q_dow_stability (broadcast 7-row corpus dow-mix leg),
# q_split_balance (broadcast 1-row totals leg).
# ---------------------------------------------------------------------------


@query(
    "q_dow_stability",
    oracle="""
    WITH o AS (
        SELECT year(o_orderdate) * 100 + month(o_orderdate) AS m,
               isodow(CAST(o_orderdate AS DATE)) AS dow
        FROM orders
    ),
    md AS (
        SELECT m, dow, CAST(count(*) AS BIGINT) AS n
        FROM o GROUP BY m, dow
    ),
    mt AS (
        SELECT m, CAST(sum(n) AS BIGINT) AS n_m FROM md GROUP BY m
    ),
    corpus AS (
        SELECT dow, CAST(sum(n) AS BIGINT) AS n_d FROM md GROUP BY dow
    ),
    t AS (SELECT CAST(sum(n_d) AS BIGINT) AS total FROM corpus),
    dev AS (
        SELECT md.m AS m, mt.n_m AS n_m,
               abs(md.n * 10000 // mt.n_m
                   - corpus.n_d * 10000 // t.total) AS dev_bp
        FROM md
        JOIN mt ON md.m = mt.m
        JOIN corpus ON md.dow = corpus.dow
        CROSS JOIN t
    )
    SELECT CAST(m AS BIGINT) AS m, CAST(max(n_m) AS BIGINT) AS n_orders,
           CAST(max(dev_bp) AS BIGINT) AS max_dev_bp,
           CAST(CASE WHEN max(dev_bp) > 200 THEN 1 ELSE 0 END AS BIGINT)
               AS unstable
    FROM dev
    GROUP BY m
    ORDER BY m
    """,
)
def q_dow_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday-mix stability per month: the largest deviation (bp)
    between a month's day-of-week order shares and the corpus-wide
    mix, with a 200 bp instability flag — the schedule-drift screen
    behind q_weekend_effect's lift number (a drifting mix invalidates
    weekday-based seasonality assumptions). Pure integer bp
    differences (Spark weekday()+1 ≡ DuckDB isodow, the CLAUDE.md
    calendar rule); the corpus mix is the allowlisted broadcast 7-row
    leg."""
    o = load_table(spark, sf_dir, "orders").select(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("m"),
        (F.weekday(F.col("o_orderdate").cast("date")) + 1).alias("dow"),
    )
    md = o.groupBy("m", "dow").agg(F.count("*").cast("long").alias("n"))
    mt = md.groupBy("m").agg(F.sum("n").cast("long").alias("n_m")).withColumnRenamed("m", "m2")
    corpus = md.groupBy("dow").agg(
        F.sum("n").cast("long").alias("n_d")
    ).withColumnRenamed("dow", "dow2")
    t = corpus.agg(F.sum("n_d").cast("long").alias("total"))
    dev = (
        md.join(mt, md.m == mt.m2)
        .join(F.broadcast(corpus), md.dow == corpus.dow2)
        .crossJoin(F.broadcast(t))
        .select(
            "m", "n_m",
            F.abs(
                F.expr("n * 10000 div n_m - n_d * 10000 div total")
            ).alias("dev_bp"),
        )
    )
    return (
        dev.groupBy("m")
        .agg(
            F.max("n_m").cast("long").alias("n_orders"),
            F.max("dev_bp").cast("long").alias("max_dev_bp"),
            F.expr(
                "CAST(CASE WHEN max(dev_bp) > 200 THEN 1 ELSE 0 END"
                " AS BIGINT)"
            ).alias("unstable"),
        )
        .select(
            F.col("m").cast("long").alias("m"), "n_orders", "max_dev_bp",
            "unstable",
        )
        .orderBy("m")
    )


@query(
    "q_split_balance",
    oracle="""
    WITH s AS (
        SELECT label,
               CASE WHEN CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
                                             1, 10) AS BIGINT) % 5 = 0
                    THEN 'test' ELSE 'train' END AS split
        FROM embeddings
    ),
    c AS (
        SELECT label,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_test
        FROM s GROUP BY label
    ),
    t AS (
        SELECT CAST(sum(n) AS BIGINT) AS total,
               CAST(sum(n_test) AS BIGINT) AS total_test
        FROM c
    )
    SELECT CAST(label AS BIGINT) AS label, n, n_test,
           CAST(n_test * 10000 // n AS BIGINT) AS test_bp,
           CAST(abs(n_test * 10000 // n
                    - t.total_test * 10000 // t.total) AS BIGINT)
               AS dev_bp
    FROM c, t
    ORDER BY label
    """,
)
def q_split_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-split stratification audit: under the md5 80/20 split
    every hash-split query here uses (the q_stratified_kfold /
    q_split_leakage convention), how far does each label's test share
    drift from the corpus test share — the class-imbalance alarm for
    a hashed (non-stratified) split. Integer md5-40 arithmetic (the
    CLAUDE.md cross-engine hash rule); the corpus totals are the
    allowlisted broadcast 1-row leg."""
    emb = load_table(spark, sf_dir, "embeddings")
    s = emb.select(
        "label",
        F.when(
            F.conv(
                F.substring(F.md5(F.col("vec_id").cast("string")), 1, 10),
                16, 10,
            ).cast("long") % 5 == 0,
            "test",
        )
        .otherwise("train")
        .alias("split"),
    )
    c = s.groupBy("label").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("long")
        .alias("n_test"),
    )
    t = c.agg(
        F.sum("n").cast("long").alias("total"),
        F.sum("n_test").cast("long").alias("total_test"),
    )
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            F.col("label").cast("long").alias("label"), "n", "n_test",
            F.expr("CAST(n_test * 10000 div n AS BIGINT)").alias("test_bp"),
            F.expr(
                "CAST(abs(n_test * 10000 div n"
                " - total_test * 10000 div total) AS BIGINT)"
            ).alias("dev_bp"),
        )
        .orderBy("label")
    )


@query(
    "q_shingle_df_profile",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               words[i] || ' ' || words[i + 1] || ' ' || words[i + 2] AS s
        FROM (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text),
                                                     '[^a-z]+'),
                               x -> x <> '') AS words
            FROM documents
        ), unnest(generate_series(1, greatest(len(words) - 2, 0)))
           AS u(i)
    ),
    df AS (
        SELECT s, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM sh GROUP BY s
    ),
    banded AS (
        SELECT CASE WHEN df = 1 THEN 1
                    WHEN df <= 10 THEN 2
                    WHEN df <= 100 THEN 3
                    ELSE 4 END AS band,
               df
        FROM df
    )
    SELECT CAST(band AS BIGINT) AS band,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(df) AS BIGINT) AS posting_mass,
           CAST(sum(df) * 10000
                // sum(sum(df)) OVER () AS BIGINT) AS mass_bp,
           CAST(max(df) AS BIGINT) AS max_df
    FROM banded
    GROUP BY band
    ORDER BY band
    """,
)
def q_shingle_df_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle document-frequency profile: how the 3-gram inverted
    index's posting mass distributes across df bands (unique /
    2–10 / 11–100 / 100+) — THE tuning input for
    ngram_jaccard_pairs' max-df stop-shingle filter, since a hot
    shingle contributes O(df²) candidate join rows (operators/
    dedup.py:316). A fat top band means the dedup index needs the df
    cap before it scales; posting mass = index size. Same guarded
    3-gram expansion as q_trigram_novelty; the mass share is a window
    over the 4-row band aggregate."""
    ws = load_table(spark, sf_dir, "documents").select(
        "doc_id", alpha_words(F.col("text")).alias("words")
    )
    sh = ws.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("words") >= 3,
                F.transform(
                    F.sequence(F.lit(1), F.size("words") - 2),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("words"), i),
                        F.element_at(F.col("words"), i + 1),
                        F.element_at(F.col("words"), i + 2),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("s"),
    )
    df = sh.groupBy("s").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    banded = df.select(
        F.when(F.col("df") == 1, 1)
        .when(F.col("df") <= 10, 2)
        .when(F.col("df") <= 100, 3)
        .otherwise(4)
        .alias("band"),
        "df",
    )
    g = banded.groupBy("band").agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.sum("df").cast("long").alias("posting_mass"),
        F.max("df").cast("long").alias("max_df"),
    )
    return g.select(
        F.col("band").cast("long").alias("band"), "n_shingles",
        "posting_mass",
        F.expr(
            "CAST(posting_mass * 10000 div sum(posting_mass) OVER ()"
            " AS BIGINT)"
        ).alias("mass_bp"),
        "max_df",
    ).orderBy("band")


# ---------------------------------------------------------------------------
# Fifth r11 seed batch: monthly seasonality indexes, cross-source
# trigram exclusivity, customer activity span, and value-band shipping
# equity. Flip checklist additions (NLJ_OK): q_monthly_seasonality
# (broadcast 1-row year-total leg per segment is equi-keyed — none
# needed); q_trigram_exclusivity (none — anti-join on the trigram key).
# ---------------------------------------------------------------------------


@query(
    "q_monthly_seasonality",
    oracle="""
    WITH m AS (
        SELECT c_mktsegment AS seg, month(o_orderdate) AS mo,
               CAST(count(*) AS BIGINT) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment, month(o_orderdate)
    ),
    t AS (
        SELECT seg, CAST(sum(n) AS BIGINT) AS n_seg FROM m GROUP BY seg
    )
    SELECT m.seg AS seg, CAST(mo AS BIGINT) AS mo, n,
           CAST(n * 120000 // t.n_seg AS BIGINT) AS seasonal_index_e4,
           CAST(CASE WHEN n * 120000 // t.n_seg > 11000 THEN 1
                     WHEN n * 120000 // t.n_seg < 9000 THEN -1
                     ELSE 0 END AS BIGINT) AS season_flag
    FROM m JOIN t ON m.seg = t.seg
    ORDER BY seg, mo
    """,
)
def q_monthly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly seasonality index per market segment: each calendar
    month's order share relative to the uniform 1/12 (e4; 10000 =
    no seasonality), flagged beyond ±10% — the month-level companion
    to q_hourly_profile (events/hours) and q_weekend_effect
    (weekday lift). The ×120000 (= 12 × 10⁴) integer form keeps the
    index exact; the per-segment totals join back equi-keyed."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.month("o_orderdate").alias("mo"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    t = m.groupBy("seg").agg(
        F.sum("n").cast("long").alias("n_seg")
    ).withColumnRenamed("seg", "seg2")
    return (
        m.join(F.broadcast(t), m.seg == t.seg2)
        .select(
            "seg",
            F.col("mo").cast("long").alias("mo"),
            "n",
            F.expr("CAST(n * 120000 div n_seg AS BIGINT)").alias(
                "seasonal_index_e4"
            ),
            F.expr(
                "CAST(CASE WHEN n * 120000 div n_seg > 11000 THEN 1"
                " WHEN n * 120000 div n_seg < 9000 THEN -1 ELSE 0 END"
                " AS BIGINT)"
            ).alias("season_flag"),
        )
        .orderBy("seg", "mo")
    )


@query(
    "q_trigram_exclusivity",
    oracle="""
    WITH sh AS (
        SELECT DISTINCT source,
               words[i] || ' ' || words[i + 1] || ' ' || words[i + 2] AS s
        FROM (
            SELECT source,
                   list_filter(regexp_split_to_array(lower(text),
                                                     '[^a-z]+'),
                               x -> x <> '') AS words
            FROM documents
        ), unnest(generate_series(1, greatest(len(words) - 2, 0)))
           AS u(i)
    ),
    df AS (
        SELECT s, CAST(count(*) AS BIGINT) AS n_sources
        FROM sh GROUP BY s
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_trigrams,
           CAST(sum(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exclusive,
           CAST(sum(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS exclusive_bp
    FROM sh JOIN df ON sh.s = df.s
    GROUP BY source
    ORDER BY source
    """,
)
def q_trigram_exclusivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source trigram exclusivity: the share of each source's
    distinct 3-grams that appear in NO other source — the uniqueness
    score that says which sources add novel phrasing to the mix and
    which are redundant with the rest of the corpus (the
    deduplication-value complement of q_source_overlap's contamination
    view). One distinct (source, trigram) set; source counts per
    trigram join back equi-keyed on the trigram."""
    ws = load_table(spark, sf_dir, "documents").select(
        "source", alpha_words(F.col("text")).alias("words")
    )
    sh = ws.select(
        "source",
        F.explode(
            F.when(
                F.size("words") >= 3,
                F.transform(
                    F.sequence(F.lit(1), F.size("words") - 2),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("words"), i),
                        F.element_at(F.col("words"), i + 1),
                        F.element_at(F.col("words"), i + 2),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("s"),
    ).distinct()
    df = sh.groupBy("s").agg(
        F.count("*").cast("long").alias("n_sources")
    ).withColumnRenamed("s", "s2")
    return (
        sh.join(df, sh.s == df.s2)
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_trigrams"),
            F.sum(F.when(F.col("n_sources") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_exclusive"),
            F.expr(
                "CAST(sum(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END)"
                " * 10000 div count(*) AS BIGINT)"
            ).alias("exclusive_bp"),
        )
        .orderBy("source")
    )


@query(
    "q_activity_span",
    oracle="""
    WITH per_cust AS (
        SELECT c_mktsegment AS seg, o_custkey,
               datediff('day', min(CAST(o_orderdate AS DATE)),
                        max(CAST(o_orderdate AS DATE))) AS span_days,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment, o_custkey
        HAVING count(*) >= 2
    ),
    r AS (
        SELECT seg, span_days,
               row_number() OVER (PARTITION BY seg
                                  ORDER BY span_days, o_custkey) AS rk,
               count(*) OVER (PARTITION BY seg) AS n
        FROM per_cust
    )
    SELECT seg,
           CAST(max(n) AS BIGINT) AS n_customers,
           CAST(max(CASE WHEN rk = (n + 1) // 2 THEN span_days END)
                AS BIGINT) AS median_span_days,
           CAST(max(CASE WHEN rk = (n * 10 + 99) // 100 THEN span_days END)
                AS BIGINT) AS p10_span_days,
           CAST(max(CASE WHEN rk = (n * 90 + 99) // 100 THEN span_days END)
                AS BIGINT) AS p90_span_days
    FROM r
    GROUP BY seg
    ORDER BY seg
    """,
)
def q_activity_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer activity span per segment: exact p10/median/p90 of the
    days between a repeat customer's first and last order — the
    lifetime-LENGTH distribution that q_cohort_ltv's value curve and
    q_reorder_cadence's gap clock both condition on. Binomial-rank
    percentiles per segment over the customer-level aggregate."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    per_cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), "o_custkey")
        .agg(
            F.datediff(
                F.max(F.col("o_orderdate").cast("date")),
                F.min(F.col("o_orderdate").cast("date")),
            ).alias("span_days"),
            F.count("*").cast("long").alias("n_orders"),
        )
        .filter(F.col("n_orders") >= 2)
    )
    wp = Window.partitionBy("seg")
    r = per_cust.select(
        "seg", "span_days",
        F.row_number()
        .over(wp.orderBy("span_days", "o_custkey"))
        .alias("rk"),
        F.count("*").over(wp).alias("n"),
    )
    return (
        r.groupBy("seg")
        .agg(
            F.max("n").cast("long").alias("n_customers"),
            F.max(
                F.when(
                    F.col("rk") == F.expr("(n + 1) div 2"),
                    F.col("span_days"),
                )
            )
            .cast("long")
            .alias("median_span_days"),
            F.max(
                F.when(
                    F.col("rk") == F.expr("(n * 10 + 99) div 100"),
                    F.col("span_days"),
                )
            )
            .cast("long")
            .alias("p10_span_days"),
            F.max(
                F.when(
                    F.col("rk") == F.expr("(n * 90 + 99) div 100"),
                    F.col("span_days"),
                )
            )
            .cast("long")
            .alias("p90_span_days"),
        )
        .orderBy("seg")
    )


@query(
    "q_value_vs_delay",
    oracle="""
    WITH d AS (
        SELECT CASE WHEN o_totalprice < 50000 THEN 0
                    WHEN o_totalprice < 150000 THEN 1
                    WHEN o_totalprice < 300000 THEN 2
                    ELSE 3 END AS value_band,
               datediff('day', CAST(o_orderdate AS DATE),
                        CAST(l_shipdate AS DATE)) AS delay_days
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    cells AS (
        SELECT value_band, delay_days, CAST(count(*) AS BIGINT) AS c
        FROM d GROUP BY value_band, delay_days
    ),
    cum AS (
        SELECT value_band, delay_days,
               sum(c) OVER (PARTITION BY value_band
                            ORDER BY delay_days) AS cum,
               sum(c) OVER (PARTITION BY value_band) AS n
        FROM cells
    )
    SELECT CAST(value_band AS BIGINT) AS value_band,
           CAST(max(n) AS BIGINT) AS n_lines,
           CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN delay_days END)
                AS BIGINT) AS median_delay_days,
           CAST(min(CASE WHEN cum >= (n * 90 + 99) // 100
                         THEN delay_days END) AS BIGINT)
               AS p90_delay_days
    FROM cum
    GROUP BY value_band
    ORDER BY value_band
    """,
)
def q_value_vs_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping equity by order value: exact median and p90
    fulfilment delay per order-value band — do big orders ship
    faster (the service-equity question q_return_by_delay's
    returns-vs-delay curve begs)? Integer day delays; binomial-rank
    percentiles over 4 value-band partitions."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    d = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.when(F.col("o_totalprice") < 50000, 0)
        .when(F.col("o_totalprice") < 150000, 1)
        .when(F.col("o_totalprice") < 300000, 2)
        .otherwise(3)
        .alias("value_band"),
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.col("o_orderdate").cast("date"),
        ).alias("delay_days"),
    )
    cells = d.groupBy("value_band", "delay_days").agg(
        F.count("*").cast("long").alias("c")
    )
    wb = Window.partitionBy("value_band")
    cum = cells.select(
        "value_band", "delay_days",
        F.sum("c").over(wb.orderBy("delay_days")).alias("cum"),
        F.sum("c").over(wb).alias("n"),
    )
    return (
        cum.groupBy("value_band")
        .agg(
            F.max("n").cast("long").alias("n_lines"),
            F.min(
                F.when(
                    F.col("cum") >= F.expr("(n + 1) div 2"),
                    F.col("delay_days"),
                )
            )
            .cast("long")
            .alias("median_delay_days"),
            F.min(
                F.when(
                    F.col("cum") >= F.expr("(n * 90 + 99) div 100"),
                    F.col("delay_days"),
                )
            )
            .cast("long")
            .alias("p90_delay_days"),
        )
        .select(
            F.col("value_band").cast("long").alias("value_band"),
            "n_lines", "median_delay_days", "p90_delay_days",
        )
        .orderBy("value_band")
    )


# ---------------------------------------------------------------------------
# Sixth r11 seed batch: the prefix-length dedup aggressiveness curve,
# first-touch lifecycle profile, and line-position fulfilment lag.
# Flip checklist additions (NLJ_OK): none — the k-grid rides the
# explode generator, the first-touch join is keyed on user.
# ---------------------------------------------------------------------------


@query(
    "q_prefix_length_curve",
    oracle="""
    WITH ws AS (
        SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                           x -> x <> '') AS words
        FROM documents
    ),
    keyed AS (
        SELECT k, md5(array_to_string(words[1:k], ' ')) AS pk
        FROM ws, unnest([1, 2, 4, 8]) AS t(k)
    ),
    fam AS (
        SELECT k, pk, CAST(count(*) AS BIGINT) AS c
        FROM keyed GROUP BY k, pk
    )
    SELECT CAST(k AS BIGINT) AS k,
           CAST(sum(c) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(c) - count(*) AS BIGINT) AS n_dropped,
           CAST((sum(c) - count(*)) * 10000 // sum(c) AS BIGINT)
               AS drop_bp,
           CAST(max(c) AS BIGINT) AS max_family
    FROM fam
    GROUP BY k
    ORDER BY k
    """,
)
def q_prefix_length_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-dedup aggressiveness curve: if documents were deduped by
    the md5 of their first k words (k = 1/2/4/8), how many would a
    keep-one-per-key pass DROP — the tuning table behind
    q_dedup_prefix's fixed k = 2 choice (too short over-merges, too
    long misses truncation dups; the watermark-yield pattern applied
    to dedup keys). One scan; the k grid rides an explode generator
    so each doc contributes 4 (k, key) rows, and the only shuffle
    carries 40-char digests."""
    ws = load_table(spark, sf_dir, "documents").select(
        alpha_words(F.col("text")).alias("words")
    )
    keyed = ws.select(
        F.explode(
            F.array(F.lit(1), F.lit(2), F.lit(4), F.lit(8))
        ).alias("k"),
        "words",
    ).select(
        "k",
        F.md5(
            F.array_join(F.expr("slice(words, 1, k)"), " ")
        ).alias("pk"),
    )
    fam = keyed.groupBy("k", "pk").agg(
        F.count("*").cast("long").alias("c")
    )
    return (
        fam.groupBy("k")
        .agg(
            F.sum("c").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_keys"),
            (F.sum("c") - F.count("*")).cast("long").alias("n_dropped"),
            F.expr(
                "CAST((sum(c) - count(*)) * 10000 div sum(c) AS BIGINT)"
            ).alias("drop_bp"),
            F.max("c").cast("long").alias("max_family"),
        )
        .select(
            F.col("k").cast("long").alias("k"), "n_docs", "n_keys",
            "n_dropped", "drop_bp", "max_family",
        )
        .orderBy("k")
    )


@query(
    "q_first_touch_profile",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type, event_id, epoch_us(ts) AS tus,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts), event_id) AS rn
        FROM events
    ),
    first_touch AS (
        SELECT user_id, event_type AS first_type, tus AS t0
        FROM e WHERE rn = 1
    ),
    conv AS (
        SELECT f.first_type, f.user_id,
               max(CASE WHEN e2.event_type = 'purchase'
                         AND e2.tus <= f.t0 + 604800000000
                        THEN 1 ELSE 0 END) AS converted_7d
        FROM first_touch f
        JOIN e e2 ON f.user_id = e2.user_id
        GROUP BY f.first_type, f.user_id
    )
    SELECT first_type,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(converted_7d) AS BIGINT) AS n_converted_7d,
           CAST(sum(converted_7d) * 10000 // count(*) AS BIGINT)
               AS conv_7d_bp
    FROM conv
    GROUP BY first_type
    ORDER BY first_type
    """,
)
def q_first_touch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acquisition first-touch profile: each user's FIRST-EVER event
    type (rank-1 keyed window — the q_attribution_position rule: no
    packed-timestamp argmin) and whether they purchased within 7 days
    of it — the entry-point quality table that q_entry_exit_matrix's
    per-session view can't give (lifecycle, not session). The
    conversion join is keyed on user; exact integer µs throughout."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    ranked = e.withColumn("rn", F.row_number().over(w))
    first_touch = ranked.filter(F.col("rn") == 1).select(
        F.col("user_id").alias("uid"),
        F.col("event_type").alias("first_type"),
        F.col("tus").alias("t0"),
    )
    conv = (
        first_touch.join(e, first_touch.uid == e.user_id)
        .groupBy("first_type", "uid")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("tus") <= F.col("t0") + 604800000000),
                    1,
                ).otherwise(0)
            ).alias("converted_7d")
        )
    )
    return (
        conv.groupBy("first_type")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("converted_7d").cast("long").alias("n_converted_7d"),
            F.expr(
                "CAST(sum(converted_7d) * 10000 div count(*) AS BIGINT)"
            ).alias("conv_7d_bp"),
        )
        .orderBy("first_type")
    )


@query(
    "q_linenumber_lag",
    oracle="""
    WITH base AS (
        SELECT l_orderkey, l_linenumber,
               CAST(l_shipdate AS DATE) AS sd,
               min(CAST(l_shipdate AS DATE))
                   OVER (PARTITION BY l_orderkey) AS first_sd
        FROM lineitem
    ),
    lagd AS (
        SELECT l_linenumber,
               datediff('day', first_sd, sd) AS lag_days
        FROM base
    ),
    cells AS (
        SELECT l_linenumber, lag_days, CAST(count(*) AS BIGINT) AS c
        FROM lagd GROUP BY l_linenumber, lag_days
    ),
    cum AS (
        SELECT l_linenumber, lag_days,
               sum(c) OVER (PARTITION BY l_linenumber
                            ORDER BY lag_days) AS cum,
               sum(c) OVER (PARTITION BY l_linenumber) AS n
        FROM cells
    )
    SELECT CAST(l_linenumber AS BIGINT) AS l_linenumber,
           CAST(max(n) AS BIGINT) AS n_lines,
           CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN lag_days END)
                AS BIGINT) AS median_lag_days,
           CAST(min(CASE WHEN cum >= (n * 90 + 99) // 100
                         THEN lag_days END) AS BIGINT) AS p90_lag_days
    FROM cum
    GROUP BY l_linenumber
    ORDER BY l_linenumber
    """,
)
def q_linenumber_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-position fulfilment lag: how many days each line number
    ships after its order's FIRST shipment, exact median/p90 per
    position — the sequential-picking signature (line 7 consistently
    lagging line 1 means warehouse flow, not carrier variance — the
    per-position view q_fulfillment_span's order-level span hides).
    The order-first-ship is a keyed min window; percentiles are
    COUNT-BASED over |positions × distinct lag| cells (the
    q_value_vs_delay lesson — never rank the raw fact through a
    handful of partitions)."""
    li = load_table(spark, sf_dir, "lineitem")
    wo = Window.partitionBy("l_orderkey")
    base = li.select(
        "l_linenumber",
        F.col("l_shipdate").cast("date").alias("sd"),
        F.min(F.col("l_shipdate").cast("date")).over(wo).alias("first_sd"),
    )
    lagd = base.select(
        "l_linenumber",
        F.datediff("sd", "first_sd").alias("lag_days"),
    )
    cells = lagd.groupBy("l_linenumber", "lag_days").agg(
        F.count("*").cast("long").alias("c")
    )
    wl = Window.partitionBy("l_linenumber")
    cum = cells.select(
        "l_linenumber", "lag_days",
        F.sum("c").over(wl.orderBy("lag_days")).alias("cum"),
        F.sum("c").over(wl).alias("n"),
    )
    return (
        cum.groupBy("l_linenumber")
        .agg(
            F.max("n").cast("long").alias("n_lines"),
            F.min(
                F.when(
                    F.col("cum") >= F.expr("(n + 1) div 2"),
                    F.col("lag_days"),
                )
            )
            .cast("long")
            .alias("median_lag_days"),
            F.min(
                F.when(
                    F.col("cum") >= F.expr("(n * 90 + 99) div 100"),
                    F.col("lag_days"),
                )
            )
            .cast("long")
            .alias("p90_lag_days"),
        )
        .select(
            F.col("l_linenumber").cast("long").alias("l_linenumber"),
            "n_lines", "median_lag_days", "p90_lag_days",
        )
        .orderBy("l_linenumber")
    )


# ---------------------------------------------------------------------------
# Seventh r11 seed batch: balance-vs-activity deciles (distributed
# global ranking), ingest-order mix drift, and supplier credit-risk
# exposure. Flip checklist additions (NLJ_OK): q_balance_activity
# (broadcast 1-row customer-count leg), q_ingest_mix_drift (broadcast
# 1-row id-midpoint leg).
# ---------------------------------------------------------------------------


@query(
    "q_balance_activity",
    oracle="""
    WITH act AS (
        SELECT c_custkey,
               CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents,
               CAST(count(o_orderkey) AS BIGINT) AS n_orders,
               CAST(sum(coalesce(CAST(floor(o_totalprice * 100 + 0.5)
                                      AS BIGINT), 0)) AS BIGINT) AS cents
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey, c_acctbal
    ),
    r AS (
        SELECT *,
               row_number() OVER (ORDER BY bal_cents, c_custkey) AS rk,
               count(*) OVER () AS n
        FROM act
    ),
    d AS (SELECT *, (rk - 1) * 10 // n AS decile FROM r)
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(min(bal_cents) AS BIGINT) AS min_bal_cents,
           CAST(sum(n_orders) * 100 // count(*) AS BIGINT)
               AS orders_per_cust_e2,
           CAST(sum(cents) // greatest(sum(n_orders), 1) AS BIGINT)
               AS mean_order_cents
    FROM d
    GROUP BY decile
    ORDER BY decile
    """,
)
def q_balance_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Account-balance deciles vs purchasing activity: are
    high-balance customers the active ones (orders per customer and
    mean order value per balance decile)? Deciles come from
    operators/ranking.global_row_number — the range-partition +
    offset-prefix-sum total order, NOT a single-partition window (the
    q_supplier_hhi / q_histogram_equidepth distributed-ranking path);
    the oracle replays the same total order as one ROW_NUMBER (DuckDB
    is single-node — the plans differ, the VALUES cannot). Balance
    enters as exact integer cents with the custkey tie-break."""
    from mapreduce_llm_spark.operators.ranking import global_row_number

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    act = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_acctbal")
        .agg(
            F.count("o_orderkey").cast("long").alias("n_orders"),
            F.sum(
                F.coalesce(
                    F.floor(F.col("o_totalprice") * 100 + 0.5), F.lit(0)
                )
            )
            .cast("long")
            .alias("cents"),
        )
        .select(
            "c_custkey",
            F.floor(F.col("c_acctbal") * 100 + 0.5)
            .cast("long")
            .alias("bal_cents"),
            "n_orders", "cents",
        )
    )
    r = global_row_number(
        act, [F.col("bal_cents").asc(), F.col("c_custkey").asc()],
        alias="rk",
    )
    # row count off the operator's materialized output — not a second
    # customer⋈orders rollup (round-14 optimization)
    n = r.agg(F.count("*").cast("long").alias("n"))
    d = r.crossJoin(F.broadcast(n)).select(
        F.expr("(rk - 1) * 10 div n").alias("decile"),
        "bal_cents", "n_orders", "cents",
    )
    return (
        d.groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.min("bal_cents").cast("long").alias("min_bal_cents"),
            F.expr(
                "CAST(sum(n_orders) * 100 div count(*) AS BIGINT)"
            ).alias("orders_per_cust_e2"),
            F.expr(
                "CAST(sum(cents) div greatest(sum(n_orders), 1) AS BIGINT)"
            ).alias("mean_order_cents"),
        )
        .select(
            F.col("decile").cast("long").alias("decile"), "n_customers",
            "min_bal_cents", "orders_per_cust_e2", "mean_order_cents",
        )
        .orderBy("decile")
    )


@query(
    "q_ingest_mix_drift",
    oracle="""
    WITH mid AS (
        SELECT (min(doc_id) + max(doc_id)) // 2 AS m FROM documents
    ),
    halves AS (
        SELECT source,
               CASE WHEN doc_id <= mid.m THEN 0 ELSE 1 END AS half
        FROM documents, mid
    ),
    c AS (
        SELECT source, half, CAST(count(*) AS BIGINT) AS n
        FROM halves GROUP BY source, half
    ),
    t AS (
        SELECT half, CAST(sum(n) AS BIGINT) AS n_h FROM c GROUP BY half
    ),
    shares AS (
        SELECT c.source AS source, c.half AS half,
               c.n * 10000 // t.n_h AS share_bp
        FROM c JOIN t ON c.half = t.half
    )
    SELECT source,
           CAST(max(CASE WHEN half = 0 THEN share_bp END) AS BIGINT)
               AS early_bp,
           CAST(max(CASE WHEN half = 1 THEN share_bp END) AS BIGINT)
               AS late_bp,
           CAST(abs(coalesce(max(CASE WHEN half = 1 THEN share_bp END), 0)
                    - coalesce(max(CASE WHEN half = 0 THEN share_bp END),
                               0)) AS BIGINT) AS drift_bp
    FROM shares
    GROUP BY source
    ORDER BY source
    """,
)
def q_ingest_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-order source-mix drift: each source's share of the
    early vs late half of the ingest-id range — the crawl-drift alarm
    (a source whose share doubles late in the crawl reshapes every
    mix-sensitive statistic computed over the whole corpus; the
    document-side analogue of q_backfill_detect's calendar-vs-ingest
    view). Integer bp shares; the id midpoint is the allowlisted
    broadcast 1-row leg."""
    d = load_table(spark, sf_dir, "documents")
    mid = d.agg(
        F.expr("(min(doc_id) + max(doc_id)) div 2").alias("m")
    )
    halves = d.crossJoin(F.broadcast(mid)).select(
        "source",
        F.when(F.col("doc_id") <= F.col("m"), 0).otherwise(1).alias("half"),
    )
    c = halves.groupBy("source", "half").agg(
        F.count("*").cast("long").alias("n")
    )
    t = c.groupBy("half").agg(
        F.sum("n").cast("long").alias("n_h")
    ).withColumnRenamed("half", "half2")
    shares = c.join(F.broadcast(t), c.half == t.half2).select(
        "source", "half",
        F.expr("n * 10000 div n_h").alias("share_bp"),
    )
    return (
        shares.groupBy("source")
        .agg(
            F.max(F.when(F.col("half") == 0, F.col("share_bp")))
            .cast("long")
            .alias("early_bp"),
            F.max(F.when(F.col("half") == 1, F.col("share_bp")))
            .cast("long")
            .alias("late_bp"),
            F.abs(
                F.coalesce(
                    F.max(F.when(F.col("half") == 1, F.col("share_bp"))),
                    F.lit(0),
                )
                - F.coalesce(
                    F.max(F.when(F.col("half") == 0, F.col("share_bp"))),
                    F.lit(0),
                )
            )
            .cast("long")
            .alias("drift_bp"),
        )
        .orderBy("source")
    )


@query(
    "q_supplier_balance_risk",
    oracle="""
    WITH sv AS (
        SELECT s_nationkey,
               s_suppkey,
               CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents,
               CAST(coalesce(sum(CAST(floor(l_extendedprice * 100 + 0.5)
                                      AS BIGINT)), 0) AS BIGINT) AS cents
        FROM supplier LEFT JOIN lineitem ON s_suppkey = l_suppkey
        GROUP BY s_nationkey, s_suppkey, s_acctbal
    )
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(CASE WHEN bal_cents < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_negative,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(sum(CASE WHEN bal_cents < 0 THEN cents ELSE 0 END)
                AS BIGINT) AS at_risk_cents,
           CAST(sum(CASE WHEN bal_cents < 0 THEN cents ELSE 0 END) * 10000
                // greatest(sum(cents), 1) AS BIGINT) AS at_risk_bp
    FROM sv JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def q_supplier_balance_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier credit-risk exposure per nation: the share of supplied
    value flowing through suppliers with NEGATIVE account balances —
    the single-number procurement-risk complement to
    q_single_source_risk's concentration view (a distressed supplier
    carrying 30% of a nation's volume is the outage you hedge first).
    Exact integer cents; supplier-level aggregate joins the 25-row
    nation dimension broadcast."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    sv = (
        s.join(li, s.s_suppkey == li.l_suppkey, "left")
        .groupBy("s_nationkey", "s_suppkey", "s_acctbal")
        .agg(
            F.coalesce(
                F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5)),
                F.lit(0),
            )
            .cast("long")
            .alias("cents")
        )
        .select(
            "s_nationkey",
            F.floor(F.col("s_acctbal") * 100 + 0.5)
            .cast("long")
            .alias("bal_cents"),
            "cents",
        )
    )
    neg = F.col("bal_cents") < 0
    return (
        sv.join(F.broadcast(n), sv.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").cast("long").alias("n_suppliers"),
            F.sum(F.when(neg, 1).otherwise(0))
            .cast("long")
            .alias("n_negative"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.sum(F.when(neg, F.col("cents")).otherwise(0))
            .cast("long")
            .alias("at_risk_cents"),
            F.expr(
                "CAST(sum(CASE WHEN bal_cents < 0 THEN cents ELSE 0 END)"
                " * 10000 div greatest(sum(cents), 1) AS BIGINT)"
            ).alias("at_risk_bp"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Eighth r11 batch (authored in round 11): event-stream science — traffic
# burstiness (Fano factor at the user-day grain), early-engagement
# predictiveness, value-mass tail concentration, transition lift vs
# independence, and the dow×hour traffic calendar. Flip checklist
# additions (NLJ_OK): none — every cross-row total here is a
# post-aggregation window over a bounded matrix (≤168 rows), never a
# broadcast scalar leg.
# ---------------------------------------------------------------------------


@query(
    "q_fano_factor",
    oracle="""
    WITH u AS (
        SELECT event_type, user_id,
               epoch_us(ts) // 86400000000 AS day_idx,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        GROUP BY event_type, user_id, day_idx
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_units,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(sum(n) * 10000 // count(*) AS BIGINT) AS mean_per_unit_e4,
           CAST(floor((CAST(count(*) * sum(n * n) - sum(n) * sum(n)
                            AS DOUBLE) * 10000.0)
                      / (CAST(count(*) AS DOUBLE) * CAST(sum(n) AS DOUBLE)))
                AS BIGINT) AS fano_e4
    FROM u
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic burstiness per event type: the Fano factor (variance /
    mean) of per-(user, day) event counts over OBSERVED user-days —
    the dispersion test behind rate-limiter and capacity sizing
    (Poisson arrivals give ≈1.0; machine retries and scrapers push it
    far above). The corpus twin is q_text_burstiness (per-term Fano
    over documents); this is the operational-telemetry reading of the
    same statistic. Exact arithmetic: biased variance over mean as ONE
    double divide of int64 sums — floor((N·Σn² − (Σn)²)·10⁴ /
    (N·Σn)) — the q_bot_score pattern, nonneg by the variance
    identity. Scale: one keyed aggregation, one reaggregation; the
    user-day pre-aggregate is the same shuffle key the sessionizer
    uses, and nothing ever leaves its group."""
    u = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            "user_id",
            F.expr(
                "unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000"
            ).alias("day_idx"),
        )
        .groupBy("event_type", "user_id", "day_idx")
        .agg(F.count("*").cast("long").alias("n"))
    )
    return (
        u.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_units"),
            F.sum("n").cast("long").alias("n_events"),
            F.expr(
                "CAST(sum(n) * 10000 div count(*) AS BIGINT)"
            ).alias("mean_per_unit_e4"),
            F.expr(
                "CAST(floor((CAST(count(*) * sum(n * n) - sum(n) * sum(n)"
                " AS DOUBLE) * 10000.0)"
                " / (CAST(count(*) AS DOUBLE) * CAST(sum(n) AS DOUBLE)))"
                " AS BIGINT)"
            ).alias("fano_e4"),
        )
        .orderBy("event_type")
    )


@query(
    "q_early_signal",
    oracle="""
    WITH t AS (
        SELECT user_id, epoch_us(ts) AS tus,
               min(epoch_us(ts)) OVER (PARTITION BY user_id) AS t0us
        FROM events
    ),
    xy AS (
        SELECT user_id,
               min(t0us) // 604800000000 AS cohort_wk,
               CAST(sum(CASE WHEN tus - t0us < 604800000000
                             THEN 1 ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN tus - t0us >= 604800000000
                              AND tus - t0us < CAST(2419200 AS BIGINT)
                                               * 1000000
                             THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM t
        GROUP BY user_id
    )
    SELECT cohort_wk,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(x) * 100 // count(*) AS BIGINT) AS mean_x_e2,
           CAST(sum(y) * 100 // count(*) AS BIGINT) AS mean_y_e2,
           round((CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS DOUBLE))
                 / sqrt(CAST(count(*) * sum(x * x) - sum(x) * sum(x)
                             AS DOUBLE)
                        * CAST(count(*) * sum(y * y) - sum(y) * sum(y)
                               AS DOUBLE)), 4) AS corr_xy
    FROM xy
    GROUP BY cohort_wk
    HAVING count(*) >= 5
       AND count(*) * sum(x * x) - sum(x) * sum(x) > 0
       AND count(*) * sum(y * y) - sum(y) * sum(y) > 0
    ORDER BY cohort_wk
    """,
)
def q_early_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Early-engagement predictiveness: per signup cohort (week of a
    user's first event), the Pearson correlation between week-1
    activity (x = events in the user's first 7 days) and follow-on
    activity (y = events in days 8–28). The one number that says
    whether week-1 counts are a usable label for retention models —
    the cross-user TWIN of q_cohort_quality's level curve (quality
    reports HOW MUCH cohorts do; this reports whether the early slice
    PREDICTS the rest). Pearson assembled from exact int64 power sums
    with the guard in HAVING (zero-variance cohorts emit no row, so
    neither engine's corr() NaN/NULL edge semantics are ever
    consulted); round(,4) on the sqrt-class output. Late cohorts'
    y-window is truncated by the stream's end — a property of the
    data, identical on both sides. Scale: keyed window + two
    aggregations, cohort count bounded by the calendar."""
    t = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
    )
    t = t.withColumn(
        "t0us", F.min("tus").over(Window.partitionBy("user_id"))
    )
    xy = t.groupBy("user_id").agg(
        F.expr("min(t0us) div 604800000000").alias("cohort_wk"),
        F.sum(
            F.when(F.col("tus") - F.col("t0us") < 604800000000, 1)
            .otherwise(0)
        ).cast("long").alias("x"),
        F.sum(
            F.when(
                (F.col("tus") - F.col("t0us") >= 604800000000)
                & (F.col("tus") - F.col("t0us") < F.lit(2419200000000)),
                1,
            ).otherwise(0)
        ).cast("long").alias("y"),
    )
    g = xy.groupBy("cohort_wk").agg(
        F.count("*").cast("long").alias("n_users"),
        F.expr("CAST(sum(x) * 100 div count(*) AS BIGINT)").alias(
            "mean_x_e2"
        ),
        F.expr("CAST(sum(y) * 100 div count(*) AS BIGINT)").alias(
            "mean_y_e2"
        ),
        F.expr(
            "round((CAST(count(*) * sum(x * y) - sum(x) * sum(y)"
            " AS DOUBLE))"
            " / sqrt(CAST(count(*) * sum(x * x) - sum(x) * sum(x)"
            " AS DOUBLE)"
            " * CAST(count(*) * sum(y * y) - sum(y) * sum(y)"
            " AS DOUBLE)), 4)"
        ).alias("corr_xy"),
        F.expr(
            "count(*) * sum(x * x) - sum(x) * sum(x)"
        ).alias("_vx"),
        F.expr(
            "count(*) * sum(y * y) - sum(y) * sum(y)"
        ).alias("_vy"),
    )
    return (
        g.where(
            (F.col("n_users") >= 5) & (F.col("_vx") > 0) & (F.col("_vy") > 0)
        )
        .drop("_vx", "_vy")
        .orderBy("cohort_wk")
    )


@query(
    "q_value_tail_share",
    oracle="""
    WITH c AS (
        SELECT event_type, event_id,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    r AS (
        SELECT event_type, cents,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cents DESC, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM c
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_events,
           CAST(greatest(1, max(n) // 100) AS BIGINT) AS k_top,
           CAST(sum(CASE WHEN rn <= greatest(1, n // 100)
                         THEN cents ELSE 0 END) AS BIGINT) AS tail_cents,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(floor((CAST(sum(CASE WHEN rn <= greatest(1, n // 100)
                                     THEN cents ELSE 0 END) AS DOUBLE)
                       * 10000.0)
                      / CAST(sum(cents) AS DOUBLE)) AS BIGINT)
               AS tail_share_bp
    FROM r
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_value_tail_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-mass tail concentration per event type: the share of
    total `value` carried by the top 1% of events (k = max(1, N/100)
    by value, event_id tie-break). The companion readout to
    q_tail_index (Hill says HOW heavy the tail law is; this says what
    fraction of the business the tail IS — the number that decides
    whether p99 outlier handling is a rounding error or the whole
    pipeline). q_power_user_share is the USER-level analogue; this is
    per-EVENT value mass. Money as exact integer cents
    (floor(v·100+0.5)); the share is one double divide + floor.
    Scale: keyed window (rank within event_type) + one aggregation —
    no global sort, no top-k collect."""
    c = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("cents").desc(), F.col("event_id")
    )
    r = c.select(
        "event_type",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    tail = F.when(
        F.col("rn") <= F.greatest(F.lit(1), F.expr("n div 100")),
        F.col("cents"),
    ).otherwise(0)
    return (
        r.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            F.expr(
                "CAST(greatest(1, max(n) div 100) AS BIGINT)"
            ).alias("k_top"),
            F.sum(tail).cast("long").alias("tail_cents"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
        .withColumn(
            "tail_share_bp",
            F.expr(
                "CAST(floor((CAST(tail_cents AS DOUBLE) * 10000.0)"
                " / CAST(total_cents AS DOUBLE)) AS BIGINT)"
            ),
        )
        .orderBy("event_type")
    )


def _transition_lift_sql() -> str:
    return """
    WITH s AS (
        SELECT user_id, event_type, epoch_us(ts) AS tus, event_id
        FROM events
    ),
    p AS (
        SELECT user_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY tus, event_id) AS src,
               event_type AS dst
        FROM s
    ),
    m AS (
        SELECT src, dst, CAST(count(*) AS BIGINT) AS n_trans
        FROM p WHERE src IS NOT NULL
        GROUP BY src, dst
    ),
    w AS (
        SELECT src, dst, n_trans,
               sum(n_trans) OVER (PARTITION BY src) AS rs,
               sum(n_trans) OVER (PARTITION BY dst) AS cs,
               sum(n_trans) OVER () AS t
        FROM m
    )
    SELECT src, dst, n_trans,
           CAST(floor(((CAST(n_trans AS DOUBLE) * CAST(t AS DOUBLE))
                       * 10000.0)
                      / (CAST(rs AS DOUBLE) * CAST(cs AS DOUBLE)))
                AS BIGINT) AS lift_e4
    FROM w
    ORDER BY src, dst
    """


@query("q_transition_lift", oracle=_transition_lift_sql())
def q_transition_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition lift vs independence: for each consecutive
    (src → dst) event-type pair within a user's stream, observed count
    over the count independence would predict from the matrix's own
    margins — lift = c·T / (rowsum·colsum), in e4. Above 10000 means
    dst genuinely follows src (a funnel edge); below means repulsion.
    q_markov_entropy scores how PREDICTABLE each row is; this scores
    WHICH cells carry the structure — the edge-selection input for
    funnel mining. All margins are post-aggregation windows over the
    ≤|types|² matrix (25 rows here), so the heavy lag pass is the only
    data-scale stage; one double expression, identically parenthesized
    in both engines, floors the e4. Scale: keyed lag + keyed count;
    the window stage touches a constant-size aggregate."""
    s = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        "event_id",
    )
    wlag = Window.partitionBy("user_id").orderBy("tus", "event_id")
    p = s.select(
        F.lag("event_type").over(wlag).alias("src"),
        F.col("event_type").alias("dst"),
    ).where(F.col("src").isNotNull())
    m = p.groupBy("src", "dst").agg(
        F.count("*").cast("long").alias("n_trans")
    )
    w = (
        m.withColumn(
            "rs", F.sum("n_trans").over(Window.partitionBy("src"))
        )
        .withColumn("cs", F.sum("n_trans").over(Window.partitionBy("dst")))
        .withColumn(
            "t",
            F.sum("n_trans").over(
                Window.partitionBy(F.lit(1))
            ),
        )
    )
    return w.select(
        "src",
        "dst",
        "n_trans",
        F.expr(
            "CAST(floor(((CAST(n_trans AS DOUBLE) * CAST(t AS DOUBLE))"
            " * 10000.0)"
            " / (CAST(rs AS DOUBLE) * CAST(cs AS DOUBLE))) AS BIGINT)"
        ).alias("lift_e4"),
    ).orderBy("src", "dst")


@query(
    "q_traffic_calendar",
    oracle="""
    WITH e AS (
        SELECT isodow(CAST(ts AS DATE)) AS dow,
               CAST(hour(ts) AS INTEGER) AS hr
        FROM events
    ),
    m AS (
        SELECT dow, hr, CAST(count(*) AS BIGINT) AS n_events
        FROM e GROUP BY dow, hr
    ),
    w AS (
        SELECT dow, hr, n_events,
               sum(n_events) OVER (PARTITION BY dow) AS rs,
               sum(n_events) OVER (PARTITION BY hr) AS cs,
               sum(n_events) OVER () AS t
        FROM m
    )
    SELECT dow, hr, n_events,
           CAST((rs * cs * 100) // t AS BIGINT) AS exp_e2,
           CAST(n_events * 100 - (rs * cs * 100) // t AS BIGINT)
               AS resid_e2
    FROM w
    ORDER BY dow, hr
    """,
)
def q_traffic_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day traffic calendar with independence
    residuals: observed events per (dow, hour) cell against the count
    the two marginal profiles alone would predict (rowsum·colsum/T).
    q_seasonality_strength reads the hour margin and q_weekend_effect
    the day margin; the INTERACTION residual is where the anomalies
    live (a 3 a.m. Sunday spike is invisible to both margins). Exact
    integers: expected count in e2 via integer division — rs·cs·100
    peaks at ~(N/7)·(N/24)·100 ≈ N²·0.6, safely inside int64 through
    sf10 (6e8² · 0.6 ≈ 2e17) — and the residual is a subtraction, no
    second division. Margins are post-aggregation windows over the
    ≤168-row matrix. Scale: one keyed aggregation; the window stage
    is constant-size."""
    e = load_table(spark, sf_dir, "events").select(
        (F.weekday(F.col("ts").cast("timestamp").cast("date")) + 1).alias(
            "dow"
        ),
        F.hour(F.col("ts").cast("timestamp")).alias("hr"),
    )
    m = e.groupBy("dow", "hr").agg(
        F.count("*").cast("long").alias("n_events")
    )
    w = (
        m.withColumn("rs", F.sum("n_events").over(Window.partitionBy("dow")))
        .withColumn("cs", F.sum("n_events").over(Window.partitionBy("hr")))
        .withColumn(
            "t", F.sum("n_events").over(Window.partitionBy(F.lit(1)))
        )
    )
    return w.select(
        "dow",
        "hr",
        "n_events",
        F.expr("CAST((rs * cs * 100) div t AS BIGINT)").alias("exp_e2"),
        F.expr(
            "CAST(n_events * 100 - (rs * cs * 100) div t AS BIGINT)"
        ).alias("resid_e2"),
    ).orderBy("dow", "hr")


# ---------------------------------------------------------------------------
# Ninth r11 batch (authored in round 11): fulfilment/pricing time
# series — monthly ship-latency trend with an OLS slope, unit-price
# jump detection, return-rate seasonality, order-value quantile drift,
# and the discount yield curve. Flip checklist additions (NLJ_OK):
# none — every cross-group total is a post-aggregation window over a
# calendar-bounded aggregate (≤ ~84 rows).
# ---------------------------------------------------------------------------


@query(
    "q_latency_trend",
    oracle="""
    WITH d AS (
        SELECT (year(o.o_orderdate) - 1995) * 12
               + month(o.o_orderdate) - 1 AS m,
               date_diff('day', CAST(o.o_orderdate AS DATE),
                         CAST(l.l_shipdate AS DATE)) AS delay_days,
               l.l_orderkey, l.l_linenumber
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    r AS (
        SELECT m, delay_days,
               row_number() OVER (PARTITION BY m
                                  ORDER BY delay_days, l_orderkey,
                                           l_linenumber) AS rk,
               count(*) OVER (PARTITION BY m) AS n
        FROM d
    ),
    mo AS (
        SELECT m,
               CAST(max(n) AS BIGINT) AS n_lines,
               CAST(floor(CAST(sum(delay_days) AS DOUBLE) * 100.0
                          / CAST(count(*) AS DOUBLE)) AS BIGINT)
                   AS mean_delay_e2,
               CAST(max(CASE WHEN rk = (n * 90 + 99) // 100
                             THEN delay_days END) AS BIGINT) AS p90_days
        FROM r
        GROUP BY m
    ),
    s AS (
        SELECT m, n_lines, mean_delay_e2, p90_days,
               count(*) OVER () AS k,
               sum(m) OVER () AS sx,
               sum(mean_delay_e2) OVER () AS sy,
               sum(m * mean_delay_e2) OVER () AS sxy,
               sum(m * m) OVER () AS sxx
        FROM mo
    )
    SELECT m, n_lines, mean_delay_e2, p90_days,
           CAST(floor((CAST(k * sxy - sx * sy AS DOUBLE) * 10000.0)
                      / CAST(k * sxx - sx * sx AS DOUBLE)) AS BIGINT)
               AS slope_e4
    FROM s
    ORDER BY m
    """,
)
def q_latency_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly fulfilment-latency trend: per order-month, the exact
    mean (e2) and rank-based p90 of order→ship delay days, plus ONE
    corpus-level OLS slope of mean delay on month index (e4 days per
    month, repeated on every row — the q_last_digit_uniformity
    single-statistic idiom). The slope is the number an ops review
    actually argues about: is fulfilment drifting slower? q_otif
    scores a month against a PROMISE; this measures the trend with no
    promise needed. Slope numerator may legitimately be negative —
    emitted via DOUBLE floor (identical in both engines), never
    integer division (the CLAUDE.md sign rule). Regression sums are
    post-aggregation windows over the ≤84-month aggregate. Scale: one
    keyed window + two aggregations; the regression stage is
    constant-size."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    d = li.join(o, li.l_orderkey == o.o_orderkey).select(
        (
            (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1
        ).alias("m"),
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.col("o_orderdate").cast("date"),
        ).alias("delay_days"),
        "l_orderkey",
        "l_linenumber",
    )
    wr = Window.partitionBy("m").orderBy(
        "delay_days", "l_orderkey", "l_linenumber"
    )
    r = d.select(
        "m",
        "delay_days",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(Window.partitionBy("m")).alias("n"),
    )
    mo = r.groupBy("m").agg(
        F.max("n").cast("long").alias("n_lines"),
        F.expr(
            "CAST(floor(CAST(sum(delay_days) AS DOUBLE) * 100.0"
            " / CAST(count(*) AS DOUBLE)) AS BIGINT)"
        ).alias("mean_delay_e2"),
        F.expr(
            "CAST(max(CASE WHEN rk = (n * 90 + 99) div 100"
            " THEN delay_days END) AS BIGINT)"
        ).alias("p90_days"),
    )
    wall = Window.partitionBy(F.lit(1))
    s = (
        mo.withColumn("k", F.count("*").over(wall))
        .withColumn("sx", F.sum("m").over(wall))
        .withColumn("sy", F.sum("mean_delay_e2").over(wall))
        .withColumn(
            "sxy", F.sum(F.col("m") * F.col("mean_delay_e2")).over(wall)
        )
        .withColumn("sxx", F.sum(F.col("m") * F.col("m")).over(wall))
    )
    return s.select(
        "m",
        "n_lines",
        "mean_delay_e2",
        "p90_days",
        F.expr(
            "CAST(floor((CAST(k * sxy - sx * sy AS DOUBLE) * 10000.0)"
            " / CAST(k * sxx - sx * sx AS DOUBLE)) AS BIGINT)"
        ).alias("slope_e4"),
    ).orderBy("m")


@query(
    "q_price_jumps",
    oracle="""
    WITH pm AS (
        SELECT p.p_brand AS brand,
               (year(l.l_shipdate) - 1995) * 12 + month(l.l_shipdate) - 1
                   AS m,
               CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5)
                             AS BIGINT)) AS BIGINT) AS cents,
               CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY brand, m
    ),
    u AS (
        SELECT brand, m, cents // qty AS unit_e2,
               lag(cents // qty) OVER (PARTITION BY brand ORDER BY m)
                   AS prev_e2
        FROM pm
    ),
    j AS (
        SELECT brand,
               CASE WHEN prev_e2 IS NULL THEN NULL
                    ELSE abs(unit_e2 - prev_e2) * 10000 // prev_e2
               END AS jump_bp
        FROM u
    )
    SELECT brand,
           CAST(count(*) AS BIGINT) AS n_months,
           CAST(sum(CASE WHEN jump_bp > 1000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_jumps,
           CAST(coalesce(max(jump_bp), 0) AS BIGINT) AS max_jump_bp
    FROM j
    GROUP BY brand
    ORDER BY brand
    """,
)
def q_price_jumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-price jump detector per brand: month-over-month moves of
    the quantity-weighted mean unit price (total cents // total qty,
    exact), counting months whose |move| exceeds 10% and the worst
    move in basis points. The changepoint screen behind pricing-error
    and vendor-repricing alerts — q_price_index tracks the LEVEL
    against a base month; this flags the DISCONTINUITIES. The lag runs
    over observed months only (documented; a silent month yields one
    longer comparison, not a null gap). abs() before the integer
    division keeps the numerator nonneg (the CLAUDE.md sign rule).
    Scale: keyed aggregation to (brand, month) — ≤ 25×84 rows — then
    constant-size windows."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    pm = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            (
                (F.year("l_shipdate") - 1995) * 12
                + F.month("l_shipdate")
                - 1
            ).alias("m"),
        )
        .agg(
            F.sum(
                F.expr(
                    "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
                )
            ).cast("long").alias("cents"),
            F.sum(F.expr("CAST(l_quantity AS BIGINT)"))
            .cast("long")
            .alias("qty"),
        )
    )
    u = pm.select(
        "brand",
        "m",
        F.expr("cents div qty").alias("unit_e2"),
    ).withColumn(
        "prev_e2",
        F.lag("unit_e2").over(Window.partitionBy("brand").orderBy("m")),
    )
    j = u.select(
        "brand",
        F.expr(
            "CASE WHEN prev_e2 IS NULL THEN NULL"
            " ELSE abs(unit_e2 - prev_e2) * 10000 div prev_e2 END"
        ).alias("jump_bp"),
    )
    return (
        j.groupBy("brand")
        .agg(
            F.count("*").cast("long").alias("n_months"),
            F.sum(F.when(F.col("jump_bp") > 1000, 1).otherwise(0))
            .cast("long")
            .alias("n_jumps"),
            F.coalesce(F.max("jump_bp"), F.lit(0))
            .cast("long")
            .alias("max_jump_bp"),
        )
        .orderBy("brand")
    )


@query(
    "q_return_seasonality",
    oracle="""
    WITH m AS (
        SELECT month(l_shipdate) AS mon,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_returned
        FROM lineitem
        GROUP BY mon
    ),
    w AS (
        SELECT mon, n_lines, n_returned,
               sum(n_lines) OVER () AS t_lines,
               sum(n_returned) OVER () AS t_ret
        FROM m
    )
    SELECT mon, n_lines, n_returned,
           CAST(n_returned * 10000 // n_lines AS BIGINT) AS return_bp,
           CAST(floor(((CAST(n_returned AS DOUBLE)
                        * CAST(t_lines AS DOUBLE)) * 10000.0)
                      / (CAST(n_lines AS DOUBLE)
                         * CAST(t_ret AS DOUBLE))) AS BIGINT) AS lift_e4
    FROM w
    ORDER BY mon
    """,
)
def q_return_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-rate seasonality by calendar month (1–12, pooled across
    years): the month's return share in basis points and its lift over
    the corpus-wide rate (e4). The planning input for reverse-
    logistics capacity — q_return_by_delay explains returns by
    FULFILMENT BEHAVIOR; this isolates the CALENDAR component.
    Corpus totals are a post-aggregation window over 12 rows; the lift
    is one identically-parenthesized double expression floored to e4.
    Scale: one keyed aggregation; constant-size window stage."""
    m = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.month("l_shipdate").alias("mon"))
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("long")
            .alias("n_returned"),
        )
    )
    wall = Window.partitionBy(F.lit(1))
    w = m.withColumn("t_lines", F.sum("n_lines").over(wall)).withColumn(
        "t_ret", F.sum("n_returned").over(wall)
    )
    return w.select(
        "mon",
        "n_lines",
        "n_returned",
        F.expr("CAST(n_returned * 10000 div n_lines AS BIGINT)").alias(
            "return_bp"
        ),
        F.expr(
            "CAST(floor(((CAST(n_returned AS DOUBLE)"
            " * CAST(t_lines AS DOUBLE)) * 10000.0)"
            " / (CAST(n_lines AS DOUBLE) * CAST(t_ret AS DOUBLE)))"
            " AS BIGINT)"
        ).alias("lift_e4"),
    ).orderBy("mon")


@query(
    "q_quantile_drift",
    oracle="""
    WITH c AS (
        SELECT (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1
                   AS m,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               o_orderkey
        FROM orders
    ),
    r AS (
        SELECT m, cents,
               row_number() OVER (PARTITION BY m
                                  ORDER BY cents, o_orderkey) AS rk,
               count(*) OVER (PARTITION BY m) AS n
        FROM c
    ),
    mo AS (
        SELECT m,
               CAST(max(n) AS BIGINT) AS n_orders,
               CAST(max(CASE WHEN rk = (n + 1) // 2 THEN cents END)
                    AS BIGINT) AS p50_cents,
               CAST(max(CASE WHEN rk = (n * 90 + 99) // 100 THEN cents END)
                    AS BIGINT) AS p90_cents
        FROM r
        GROUP BY m
    )
    SELECT m, n_orders, p50_cents, p90_cents,
           CAST(floor((CAST(p50_cents
                            - lag(p50_cents) OVER (ORDER BY m) AS DOUBLE)
                       * 10000.0)
                      / CAST(lag(p50_cents) OVER (ORDER BY m) AS DOUBLE))
                AS BIGINT) AS p50_mom_bp
    FROM mo
    ORDER BY m
    """,
)
def q_quantile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-value distribution drift at month grain: exact rank-based
    monthly median and p90 (cents, orderkey tie-break) plus the
    month-over-month median move in SIGNED basis points. The standard
    drift monitor for any money-valued feature — q_profile_drift
    compares two corpus halves once; this emits the month-resolution
    series a monitoring system alerts on. The signed move uses DOUBLE
    floor (floor(-x/y) agrees between engines; integer division would
    not — the CLAUDE.md sign rule); the first month emits NULL in both
    engines. Scale: keyed rank window + one aggregation; the MoM lag
    runs over the ≤84-row monthly aggregate."""
    c = load_table(spark, sf_dir, "orders").select(
        (
            (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1
        ).alias("m"),
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
        "o_orderkey",
    )
    wr = Window.partitionBy("m").orderBy("cents", "o_orderkey")
    r = c.select(
        "m",
        "cents",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(Window.partitionBy("m")).alias("n"),
    )
    mo = r.groupBy("m").agg(
        F.max("n").cast("long").alias("n_orders"),
        F.expr(
            "CAST(max(CASE WHEN rk = (n + 1) div 2 THEN cents END)"
            " AS BIGINT)"
        ).alias("p50_cents"),
        F.expr(
            "CAST(max(CASE WHEN rk = (n * 90 + 99) div 100 THEN cents END)"
            " AS BIGINT)"
        ).alias("p90_cents"),
    )
    wlag = Window.partitionBy(F.lit(1)).orderBy("m")
    return mo.select(
        "m",
        "n_orders",
        "p50_cents",
        "p90_cents",
        F.expr(
            "CAST(floor((CAST(p50_cents - lag(p50_cents)"
            " OVER (ORDER BY m) AS DOUBLE) * 10000.0)"
            " / CAST(lag(p50_cents) OVER (ORDER BY m) AS DOUBLE))"
            " AS BIGINT)"
        ).alias("p50_mom_bp"),
    ).orderBy("m")


@query(
    "q_discount_yield",
    oracle="""
    WITH b AS (
        SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc_pct,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                   AS gross_cents,
               CAST(floor((l_extendedprice * l_discount) * 100 + 0.5)
                    AS BIGINT) AS disc_cents,
               CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem
    ),
    g AS (
        SELECT disc_pct,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(qty) AS BIGINT) AS qty,
               CAST(sum(gross_cents) AS BIGINT) AS gross_cents,
               CAST(sum(disc_cents) AS BIGINT) AS give_cents
        FROM b
        GROUP BY disc_pct
    ),
    w AS (
        SELECT g.*, sum(qty) OVER () AS t_qty,
               sum(gross_cents - give_cents) OVER () AS t_net
        FROM g
    )
    SELECT disc_pct, n_lines, qty, gross_cents, give_cents,
           CAST(gross_cents - give_cents AS BIGINT) AS net_cents,
           CAST(floor((CAST(qty AS DOUBLE) * 10000.0)
                      / CAST(t_qty AS DOUBLE)) AS BIGINT) AS qty_share_bp,
           CAST(floor((CAST(gross_cents - give_cents AS DOUBLE) * 10000.0)
                      / CAST(t_net AS DOUBLE)) AS BIGINT) AS net_share_bp
    FROM w
    ORDER BY disc_pct
    """,
)
def q_discount_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount yield curve: per discount depth (integer percent band,
    exact via floor(d·100+0.5) — the 2-decimal-input-safe rounding),
    the volume carried and the margin given up, with each band's share
    of total quantity and of total net revenue. The table a pricing
    review reads to ask whether deep discounts BUY volume or just give
    margin away — q_price_elasticity fits the log-log slope; this is
    the exact, assumption-free ledger it summarizes. Money stays in
    integer cents end-to-end (the give is floor((ext·disc)·100+0.5),
    identical IEEE multiply in both engines); shares are one double
    divide + floor because net·10⁴ can pass int64 at sf10. Scale: one
    keyed aggregation to ≤11 bands; constant-size window stage."""
    b = load_table(spark, sf_dir, "lineitem").select(
        F.expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)").alias(
            "disc_pct"
        ),
        F.expr(
            "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
        ).alias("gross_cents"),
        F.expr(
            "CAST(floor((l_extendedprice * l_discount) * 100 + 0.5)"
            " AS BIGINT)"
        ).alias("disc_cents"),
        F.expr("CAST(l_quantity AS BIGINT)").alias("qty"),
    )
    g = b.groupBy("disc_pct").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum("qty").cast("long").alias("qty"),
        F.sum("gross_cents").cast("long").alias("gross_cents"),
        F.sum("disc_cents").cast("long").alias("give_cents"),
    )
    wall = Window.partitionBy(F.lit(1))
    w = g.withColumn("t_qty", F.sum("qty").over(wall)).withColumn(
        "t_net",
        F.sum(F.col("gross_cents") - F.col("give_cents")).over(wall),
    )
    return w.select(
        "disc_pct",
        "n_lines",
        "qty",
        "gross_cents",
        "give_cents",
        (F.col("gross_cents") - F.col("give_cents"))
        .cast("long")
        .alias("net_cents"),
        F.expr(
            "CAST(floor((CAST(qty AS DOUBLE) * 10000.0)"
            " / CAST(t_qty AS DOUBLE)) AS BIGINT)"
        ).alias("qty_share_bp"),
        F.expr(
            "CAST(floor((CAST(gross_cents - give_cents AS DOUBLE)"
            " * 10000.0) / CAST(t_net AS DOUBLE)) AS BIGINT)"
        ).alias("net_share_bp"),
    ).orderBy("disc_pct")


# ---------------------------------------------------------------------------
# Tenth r11 batch (authored in round 11): embedding-geometry QA
# (participation ratio, centroid-classifier accuracy, cluster
# separation) on the e3-quantized dim explosion (the q_kmeans_step /
# q_embed_isotropy idiom — exact integer moments, HUGEINT/DECIMAL(38,0)
# where a square can pass int64), plus catalog name-dedup and monthly
# segment-mix drift. Flip checklist additions (NLJ_OK): none — the
# centroid legs join on the dim/label equi-keys and every corpus total
# is a post-aggregation window.
# ---------------------------------------------------------------------------


_R11_QDIMS_SQL = """
        SELECT vec_id, label, dim, qv
        FROM (
            SELECT vec_id, label,
                   unnest(generate_series(1, len(embedding))) AS dim,
                   unnest(list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)))
                       AS qv
            FROM embeddings
        )
"""


@query(
    "q_embed_participation",
    oracle=f"""
    WITH q AS ({_R11_QDIMS_SQL}),
    pd AS (
        SELECT label, dim,
               CAST(sum(qv) AS BIGINT) AS s,
               CAST(sum(qv * qv) AS BIGINT) AS s2,
               CAST(count(*) AS BIGINT) AS n
        FROM q GROUP BY label, dim
    ),
    v AS (
        SELECT label, dim, n, n * s2 - s * s AS var_num
        FROM pd
    ),
    m AS (
        SELECT label, max(n) AS n,
               CAST(sum(var_num) AS BIGINT) AS v1,
               sum(CAST(var_num AS HUGEINT) * var_num) AS v2,
               CAST(max(var_num * 100 + dim - 1) AS BIGINT) AS packed
        FROM v GROUP BY label
    )
    SELECT CAST(label AS INT) AS label,
           CAST(n AS BIGINT) AS n_vecs,
           CAST((CAST(v1 AS HUGEINT) * v1 * 100) // v2 AS BIGINT) AS pr_e2,
           CAST(packed % 100 + 1 AS BIGINT) AS top_dim,
           CAST((packed // 100) * 10000 // v1 AS BIGINT) AS top_share_e4
    FROM m
    ORDER BY label
    """,
)
def q_embed_participation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective dimensionality per label: the participation ratio
    PR = (Σ_d var_d)² / Σ_d var_d² — D when variance spreads evenly
    over all D axes, →1 when one axis carries everything (dimensional
    collapse, the failure mode contrastive embeddings drift into).
    Emitted in e2 alongside the dominant axis and its variance share
    (argmax via the packed-integer idiom: var·100 + dim, ties to the
    higher dim, identical in both engines — the q_kmeans_step rule).
    Exact integers end-to-end on e3-quantized components; the var²
    accumulation and the PR numerator ride HUGEINT/DECIMAL(38,0)
    because both pass int64 at sf10. Complements q_embed_isotropy
    (mean offset) — PR sees collapse even in a perfectly centered
    cloud. Scale: one keyed aggregation to |labels|·D rows, then a
    constant-size reaggregation."""
    pd_ = qdims(spark, sf_dir).groupBy("label", "dim").agg(
        F.sum("qv").cast("long").alias("s"),
        F.sum(F.col("qv") * F.col("qv")).cast("long").alias("s2"),
        F.count("*").cast("long").alias("n"),
    )
    v = pd_.select(
        "label",
        "dim",
        "n",
        (F.col("n") * F.col("s2") - F.col("s") * F.col("s")).alias(
            "var_num"
        ),
    )
    m = v.groupBy("label").agg(
        F.max("n").alias("n"),
        F.sum("var_num").cast("long").alias("v1"),
        F.sum(F.expr("CAST(var_num AS DECIMAL(38,0)) * var_num")).alias(
            "v2"
        ),
        F.max(F.expr("var_num * 100 + dim - 1")).cast("long").alias(
            "packed"
        ),
    )
    return m.select(
        F.col("label").cast("int").alias("label"),
        F.col("n").cast("long").alias("n_vecs"),
        F.expr(
            "CAST((CAST(v1 AS DECIMAL(38,0)) * v1 * 100) div v2 AS BIGINT)"
        ).alias("pr_e2"),
        F.expr("CAST(packed % 100 + 1 AS BIGINT)").alias("top_dim"),
        F.expr(
            "CAST((packed div 100) * 10000 div v1 AS BIGINT)"
        ).alias("top_share_e4"),
    ).orderBy("label")


@query(
    "q_embed_centroid_accuracy",
    oracle=f"""
    WITH q AS ({_R11_QDIMS_SQL}),
    cd AS (
        SELECT label AS c_label, dim,
               CAST(floor(CAST(sum(qv) AS DOUBLE)
                          / CAST(count(*) AS DOUBLE)) AS BIGINT) AS c
        FROM q GROUP BY label, dim
    ),
    d2 AS (
        SELECT q.vec_id, q.label, cd.c_label,
               CAST(sum((q.qv - cd.c) * (q.qv - cd.c)) AS BIGINT) AS dist2
        FROM q JOIN cd ON q.dim = cd.dim
        GROUP BY q.vec_id, q.label, cd.c_label
    ),
    pred AS (
        SELECT vec_id, label,
               CAST(min(dist2 * 16 + c_label) % 16 AS BIGINT) AS pred
        FROM d2 GROUP BY vec_id, label
    )
    SELECT CAST(label AS INT) AS label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct,
           CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS acc_bp
    FROM pred
    GROUP BY label
    ORDER BY label
    """,
)
def q_embed_centroid_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid label accuracy: assign every vector to the
    closest label centroid (squared L2 on e3-quantized components,
    integer-floored centroids via double floor — sign-safe) and score
    per-label recall in bp. The 1-NN-to-prototype readout that says
    whether labels are LINEARLY recoverable from geometry —
    q_knn_label_purity samples point-to-point neighborhoods; this is
    the compact prototype view of the same question, and the pair
    diverging is itself diagnostic (pure neighborhoods + bad centroid
    recall = multi-modal classes). Argmin over candidates rides the
    packed-integer idiom (dist·16 + label, ties to the lower label).
    Scale: the candidate stage is an equi-join on dim against a
    |labels|·D centroid leg — fanout |labels| per row, no NLJ, no
    driver collect."""
    q = qdims(spark, sf_dir)
    cd = q.groupBy(F.col("label").alias("c_label"), "dim").agg(
        F.expr(
            "CAST(floor(CAST(sum(qv) AS DOUBLE)"
            " / CAST(count(*) AS DOUBLE)) AS BIGINT)"
        ).alias("c")
    )
    d2 = (
        q.join(cd, "dim")
        .groupBy("vec_id", "label", "c_label")
        .agg(
            F.sum(
                (F.col("qv") - F.col("c")) * (F.col("qv") - F.col("c"))
            )
            .cast("long")
            .alias("dist2")
        )
    )
    pred = d2.groupBy("vec_id", "label").agg(
        F.expr("CAST(min(dist2 * 16 + c_label) % 16 AS BIGINT)").alias(
            "pred"
        )
    )
    return (
        pred.groupBy(F.col("label").cast("int").alias("label"))
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.sum(F.when(F.col("pred") == F.col("label"), 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
            F.expr(
                "CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END)"
                " * 10000 div count(*) AS BIGINT)"
            ).alias("acc_bp"),
        )
        .orderBy("label")
    )


@query(
    "q_embed_separation",
    oracle=f"""
    WITH q AS ({_R11_QDIMS_SQL}),
    pd AS (
        SELECT label, dim,
               CAST(sum(qv) AS BIGINT) AS s,
               CAST(sum(qv * qv) AS BIGINT) AS s2,
               CAST(count(*) AS BIGINT) AS n
        FROM q GROUP BY label, dim
    ),
    cd AS (
        SELECT label, dim, s, s2, n,
               CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                    AS BIGINT) AS c,
               CAST(floor(CAST(sum(s) OVER (PARTITION BY dim) AS DOUBLE)
                          / CAST(sum(n) OVER (PARTITION BY dim) AS DOUBLE))
                    AS BIGINT) AS g
        FROM pd
    ),
    m AS (
        SELECT label, max(n) AS n,
               CAST(sum(s2 - 2 * c * s + n * c * c) AS BIGINT)
                   AS within_num,
               CAST(sum((c - g) * (c - g)) AS BIGINT) AS between_sq
        FROM cd GROUP BY label
    )
    SELECT CAST(label AS INT) AS label,
           CAST(n AS BIGINT) AS n_vecs,
           CAST(floor(CAST(within_num AS DOUBLE) * 100.0
                      / CAST(n AS DOUBLE)) AS BIGINT) AS within_mean_e2,
           between_sq,
           CAST(floor((CAST(between_sq AS DOUBLE) * CAST(n AS DOUBLE)
                       * 10000.0)
                      / CAST(within_num AS DOUBLE)) AS BIGINT) AS sep_e4
    FROM m
    ORDER BY label
    """,
)
def q_embed_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster separation per label: squared distance from the label
    centroid to the GLOBAL centroid over the label's mean within-
    cluster squared distance — the per-class Calinski–Harabasz-style
    ratio (≫0 means the class sits apart from the corpus; ~0 means
    its centroid is indistinguishable from the global mean and
    centroid-based retrieval for it will fail). The third leg of the
    geometry triptych: q_embed_isotropy (offset), q_embed_participation
    (spread shape), THIS (class separation). Integer-floored centroids
    (double floor, sign-safe), within-distance via the expanded
    Σ(x−c)² = Σx² − 2cΣx + nc² identity — all int64 — and the ratio
    as one double expression. The global centroid is a post-aggregation
    window over the |labels|·D table. Scale: one keyed aggregation,
    constant-size window + reaggregation."""
    pd_ = qdims(spark, sf_dir).groupBy("label", "dim").agg(
        F.sum("qv").cast("long").alias("s"),
        F.sum(F.col("qv") * F.col("qv")).cast("long").alias("s2"),
        F.count("*").cast("long").alias("n"),
    )
    wd = Window.partitionBy("dim")
    cd = pd_.select(
        "label",
        "dim",
        "s",
        "s2",
        "n",
        F.expr(
            "CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)"
        ).alias("c"),
        F.expr(
            "CAST(floor(CAST(sum(s) OVER (PARTITION BY dim) AS DOUBLE)"
            " / CAST(sum(n) OVER (PARTITION BY dim) AS DOUBLE)) AS BIGINT)"
        ).alias("g"),
    )
    m = cd.groupBy("label").agg(
        F.max("n").alias("n"),
        F.sum(
            F.col("s2")
            - 2 * F.col("c") * F.col("s")
            + F.col("n") * F.col("c") * F.col("c")
        )
        .cast("long")
        .alias("within_num"),
        F.sum((F.col("c") - F.col("g")) * (F.col("c") - F.col("g")))
        .cast("long")
        .alias("between_sq"),
    )
    return m.select(
        F.col("label").cast("int").alias("label"),
        F.col("n").cast("long").alias("n_vecs"),
        F.expr(
            "CAST(floor(CAST(within_num AS DOUBLE) * 100.0"
            " / CAST(n AS DOUBLE)) AS BIGINT)"
        ).alias("within_mean_e2"),
        "between_sq",
        F.expr(
            "CAST(floor((CAST(between_sq AS DOUBLE) * CAST(n AS DOUBLE)"
            " * 10000.0) / CAST(within_num AS DOUBLE)) AS BIGINT)"
        ).alias("sep_e4"),
    ).orderBy("label")


@query(
    "q_catalog_name_dup",
    oracle="""
    WITH nm AS (
        SELECT p_name,
               CAST(count(*) AS BIGINT) AS n_same_name,
               CAST(count(DISTINCT p_brand) AS BIGINT) AS n_brands
        FROM part GROUP BY p_name
    )
    SELECT p.p_brand AS brand,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(CASE WHEN nm.n_same_name >= 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_named,
           CAST(sum(CASE WHEN nm.n_brands >= 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cross_brand,
           CAST(sum(CASE WHEN nm.n_same_name >= 2 THEN 1 ELSE 0 END)
                * 10000 // count(*) AS BIGINT) AS dup_bp
    FROM part p JOIN nm ON p.p_name = nm.p_name
    GROUP BY brand
    ORDER BY brand
    """,
)
def q_catalog_name_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entity-resolution audit per brand: how many parts share
    their display name with another catalog entry, and how many of
    those collisions CROSS brand lines (the merge-candidate class a
    product-matching pipeline must adjudicate before any name-keyed
    join — q_dup_invoice is the orders-side twin of this audit). One
    name-level aggregate joined back on the name equi-key; no
    similarity machinery needed because the name is the blocking key
    itself. Scale: two keyed aggregations over the part dimension —
    at 100 TB the name aggregate is the small side and AQE broadcasts
    it on its own."""
    p = load_table(spark, sf_dir, "part")
    nm = p.groupBy("p_name").agg(
        F.count("*").cast("long").alias("n_same_name"),
        F.countDistinct("p_brand").cast("long").alias("n_brands"),
    )
    return (
        p.join(nm, "p_name")
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum(F.when(F.col("n_same_name") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_named"),
            F.sum(F.when(F.col("n_brands") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_cross_brand"),
            F.expr(
                "CAST(sum(CASE WHEN n_same_name >= 2 THEN 1 ELSE 0 END)"
                " * 10000 div count(*) AS BIGINT)"
            ).alias("dup_bp"),
        )
        .orderBy("brand")
    )


@query(
    "q_segment_mix_shift",
    oracle="""
    WITH b AS (
        SELECT (year(o.o_orderdate) - 1995) * 12 + month(o.o_orderdate) - 1
                   AS m,
               c.c_mktsegment AS seg,
               CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS buyers
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY m, seg
    ),
    sh AS (
        SELECT m, seg, buyers,
               CAST(buyers * 10000 // sum(buyers) OVER (PARTITION BY m)
                    AS BIGINT) AS share_bp
        FROM b
    ),
    fx AS (
        SELECT m, seg, buyers, share_bp,
               first_value(share_bp) OVER (PARTITION BY seg ORDER BY m)
                   AS base_bp
        FROM sh
    )
    SELECT m,
           CAST(sum(buyers) AS BIGINT) AS n_buyers,
           CAST(sum(abs(share_bp - base_bp)) AS BIGINT) AS l1_drift_bp
    FROM fx
    GROUP BY m
    ORDER BY m
    """,
)
def q_segment_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acquisition-mix drift at month grain: each month's active-buyer
    market-segment shares (bp) against the FIRST month's profile,
    collapsed to an L1 distance — the one-number alarm that the
    customer mix feeding every downstream model is shifting
    (q_ingest_mix_drift is the document-source twin; this is the
    commerce side, and q_new_vs_returning explains WHERE the drift
    comes from). The baseline is a first_value window per segment —
    no broadcast leg, no NLJ — and shares are positive integer
    divisions. Scale: one distinct-aggregation keyed by (month,
    segment), then constant-size windows over ≤ 84·5 rows."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    b = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            (
                (F.year("o_orderdate") - 1995)
                * 12
                + F.month("o_orderdate")
                - 1
            ).alias("m"),
            F.col("c_mktsegment").alias("seg"),
        )
        .agg(F.countDistinct("o_custkey").cast("long").alias("buyers"))
    )
    sh = b.select(
        "m",
        "seg",
        "buyers",
        F.expr(
            "CAST(buyers * 10000 div sum(buyers) OVER (PARTITION BY m)"
            " AS BIGINT)"
        ).alias("share_bp"),
    )
    fx = sh.withColumn(
        "base_bp",
        F.first("share_bp").over(
            Window.partitionBy("seg").orderBy("m")
        ),
    )
    return (
        fx.groupBy("m")
        .agg(
            F.sum("buyers").cast("long").alias("n_buyers"),
            F.sum(F.abs(F.col("share_bp") - F.col("base_bp")))
            .cast("long")
            .alias("l1_drift_bp"),
        )
        .orderBy("m")
    )


# ---------------------------------------------------------------------------
# Eleventh r11 batch (authored in round 11) — closes the staging at 50:
# supply-mix specialization, assortment drift, first-token position
# bias, the tax×discount independence grid, and event-audience
# overlap. Flip checklist additions (NLJ_OK): none — every cross-group
# total is a window over a bounded post-aggregation matrix, and the
# audience join anchors on the user_id equi-key.
# ---------------------------------------------------------------------------


@query(
    "q_nation_specialization",
    oracle="""
    WITH nt AS (
        SELECT n.n_name AS nation, p.p_type AS ptype,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5)
                             AS BIGINT)) AS BIGINT) AS cents
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY nation, ptype
    ),
    sh AS (
        SELECT nation, ptype, n_lines,
               CAST(floor((CAST(cents AS DOUBLE) * 10000.0)
                          / CAST(sum(cents) OVER (PARTITION BY nation)
                                 AS DOUBLE)) AS BIGINT) AS share_e4,
               CAST(floor((CAST(sum(cents) OVER (PARTITION BY ptype)
                                AS DOUBLE) * 10000.0)
                          / CAST(sum(cents) OVER () AS DOUBLE)) AS BIGINT)
                   AS gshare_e4
        FROM nt
    )
    SELECT nation,
           CAST(sum(n_lines) AS BIGINT) AS n_lines,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(share_e4 * share_e4) // 10000 AS BIGINT) AS hhi_e4,
           CAST(sum(abs(share_e4 - gshare_e4)) AS BIGINT) AS l1_e4
    FROM sh
    GROUP BY nation
    ORDER BY nation
    """,
)
def q_nation_specialization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-mix specialization per supplier nation: the revenue mix
    over part types, collapsed to an HHI (is the nation a one-trick
    supplier?) and an L1 distance from the GLOBAL type mix (does it
    supply different things than the world does?). The sourcing-
    strategy companion to q_nation_trade_balance (volume) and
    q_single_source_risk (part-level): high HHI + high L1 marks the
    nations whose outage would distort a specific category. Shares in
    e4 via ONE double divide + floor each (cents·10⁴ passes int64 at
    sf10); the HHI then stays exact integer arithmetic on those e4
    shares. Type/global totals are post-aggregation windows over the
    ≤25·|types| matrix. Scale: one star join (nation leg is
    fixed-cardinality; part/supplier legs AQE-decided) + one keyed
    aggregation; window stages are constant-size."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    p = load_table(spark, sf_dir, "part")
    nt = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.col("p_type").alias("ptype")
        )
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(
                F.expr(
                    "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
                )
            ).cast("long").alias("cents"),
        )
    )
    sh = nt.select(
        "nation",
        "ptype",
        "n_lines",
        F.expr(
            "CAST(floor((CAST(cents AS DOUBLE) * 10000.0)"
            " / CAST(sum(cents) OVER (PARTITION BY nation) AS DOUBLE))"
            " AS BIGINT)"
        ).alias("share_e4"),
        F.expr(
            "CAST(floor((CAST(sum(cents) OVER (PARTITION BY ptype)"
            " AS DOUBLE) * 10000.0)"
            " / CAST(sum(cents) OVER () AS DOUBLE)) AS BIGINT)"
        ).alias("gshare_e4"),
    )
    return (
        sh.groupBy("nation")
        .agg(
            F.sum("n_lines").cast("long").alias("n_lines"),
            F.count("*").cast("long").alias("n_types"),
            F.expr(
                "CAST(sum(share_e4 * share_e4) div 10000 AS BIGINT)"
            ).alias("hhi_e4"),
            F.sum(F.abs(F.col("share_e4") - F.col("gshare_e4")))
            .cast("long")
            .alias("l1_e4"),
        )
        .orderBy("nation")
    )


@query(
    "q_assortment_drift",
    oracle="""
    WITH q AS (
        SELECT p.p_brand AS brand,
               CASE WHEN year(l.l_shipdate) <= 1997 THEN 0 ELSE 1 END
                   AS half,
               l.l_partkey AS pk,
               CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY brand, half, pk
    ),
    r AS (
        SELECT brand, half, pk,
               row_number() OVER (PARTITION BY brand, half
                                  ORDER BY qty DESC, pk) AS rk
        FROM q
    ),
    t1 AS (SELECT brand, pk, rk FROM r WHERE half = 0 AND rk <= 10),
    t2 AS (SELECT brand, pk, rk FROM r WHERE half = 1 AND rk <= 10),
    j AS (
        SELECT coalesce(t1.brand, t2.brand) AS brand,
               CASE WHEN t1.pk IS NOT NULL AND t2.pk IS NOT NULL
                    THEN 1 ELSE 0 END AS common,
               CASE WHEN t1.pk IS NOT NULL THEN 1 ELSE 0 END AS in1,
               CASE WHEN t2.pk IS NOT NULL THEN 1 ELSE 0 END AS in2,
               CASE WHEN t1.pk IS NOT NULL AND t2.pk IS NOT NULL
                    THEN abs(t1.rk - t2.rk) ELSE 0 END AS shift
        FROM t1 FULL OUTER JOIN t2
          ON t1.brand = t2.brand AND t1.pk = t2.pk
    )
    SELECT brand,
           CAST(sum(in1) AS BIGINT) AS n_h1,
           CAST(sum(in2) AS BIGINT) AS n_h2,
           CAST(sum(common) AS BIGINT) AS n_common,
           CAST(sum(common) * 10000
                // (sum(in1) + sum(in2) - sum(common)) AS BIGINT)
               AS jaccard_bp,
           CAST(CASE WHEN sum(common) = 0 THEN 0
                     ELSE sum(shift) * 100 // sum(common) END AS BIGINT)
               AS mean_rank_shift_e2
    FROM j
    GROUP BY brand
    ORDER BY brand
    """,
)
def q_assortment_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assortment drift per brand: the top-10 parts by quantity in the
    1995–97 half vs the 1998+ half — set Jaccard and the mean rank
    shift of survivors. The merchandising twin of q_vocab_drift (which
    tracks top WORDS between corpus halves): a brand whose best-seller
    list churns completely between eras needs its demand models
    retrained per era, not pooled. Ranks tie-break on partkey; the
    halves meet in a FULL OUTER equi-join on (brand, partkey); the
    Jaccard denominator |A∪B| = n1+n2−common is exact. Scale: keyed
    aggregation + keyed rank window; the joined top-lists are ≤20 rows
    per brand."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.when(F.year("l_shipdate") <= 1997, 0).otherwise(1).alias(
                "half"
            ),
            F.col("l_partkey").alias("pk"),
        )
        .agg(
            F.sum(F.expr("CAST(l_quantity AS BIGINT)"))
            .cast("long")
            .alias("qty")
        )
    )
    r = q.select(
        "brand",
        "half",
        "pk",
        F.row_number()
        .over(
            Window.partitionBy("brand", "half").orderBy(
                F.col("qty").desc(), "pk"
            )
        )
        .alias("rk"),
    ).where(F.col("rk") <= 10)
    t1 = r.where(F.col("half") == 0).select(
        F.col("brand").alias("b1"), F.col("pk").alias("pk1"),
        F.col("rk").alias("r1"),
    )
    t2 = r.where(F.col("half") == 1).select(
        F.col("brand").alias("b2"), F.col("pk").alias("pk2"),
        F.col("rk").alias("r2"),
    )
    j = t1.join(
        t2,
        (t1.b1 == t2.b2) & (t1.pk1 == t2.pk2),
        "full_outer",
    ).select(
        F.coalesce("b1", "b2").alias("brand"),
        F.when(
            F.col("pk1").isNotNull() & F.col("pk2").isNotNull(), 1
        ).otherwise(0).alias("common"),
        F.when(F.col("pk1").isNotNull(), 1).otherwise(0).alias("in1"),
        F.when(F.col("pk2").isNotNull(), 1).otherwise(0).alias("in2"),
        F.when(
            F.col("pk1").isNotNull() & F.col("pk2").isNotNull(),
            F.abs(F.col("r1") - F.col("r2")),
        ).otherwise(0).alias("shift"),
    )
    return (
        j.groupBy("brand")
        .agg(
            F.sum("in1").cast("long").alias("n_h1"),
            F.sum("in2").cast("long").alias("n_h2"),
            F.sum("common").cast("long").alias("n_common"),
            F.expr(
                "CAST(sum(common) * 10000"
                " div (sum(in1) + sum(in2) - sum(common)) AS BIGINT)"
            ).alias("jaccard_bp"),
            F.expr(
                "CAST(CASE WHEN sum(common) = 0 THEN 0"
                " ELSE sum(shift) * 100 div sum(common) END AS BIGINT)"
            ).alias("mean_rank_shift_e2"),
        )
        .orderBy("brand")
    )


@query(
    "q_position_bias",
    oracle="""
    WITH ws AS (
        SELECT doc_id, source,
               list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                           x -> x <> '') AS words
        FROM documents
    ),
    allw AS (
        SELECT source, unnest(words) AS w FROM ws
    ),
    firstw AS (
        SELECT source, words[1] AS w FROM ws WHERE len(words) >= 1
    ),
    ac AS (
        SELECT source, w, CAST(count(*) AS BIGINT) AS n_all
        FROM allw GROUP BY source, w
    ),
    fc AS (
        SELECT source, w, CAST(count(*) AS BIGINT) AS n_first
        FROM firstw GROUP BY source, w
    ),
    sh AS (
        SELECT ac.source, ac.w, ac.n_all,
               coalesce(fc.n_first, 0) AS n_first,
               CAST(ac.n_all * 10000
                    // sum(ac.n_all) OVER (PARTITION BY ac.source)
                    AS BIGINT) AS ashare_e4,
               CAST(coalesce(fc.n_first, 0) * 10000
                    // sum(coalesce(fc.n_first, 0))
                          OVER (PARTITION BY ac.source)
                    AS BIGINT) AS fshare_e4
        FROM ac LEFT JOIN fc ON ac.source = fc.source AND ac.w = fc.w
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(sum(CASE WHEN n_first > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS first_vocab,
           CAST(sum(abs(fshare_e4 - ashare_e4)) AS BIGINT) AS l1_e4,
           CAST(max(fshare_e4) AS BIGINT) AS top_first_e4
    FROM sh
    GROUP BY source
    ORDER BY source
    """,
)
def q_position_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-initial token bias per source: the L1 distance between
    the distribution of FIRST words and the overall word mix (e4).
    Zero means openings look like everything else; large means the
    generator (or scraper) stamps documents with a positional
    template — exactly the artifact an LM trained on the corpus will
    parrot at sequence starts, and a cheap fingerprint for detecting
    templated/boilerplate sources where full dedup is overkill. The
    first-word leg is words[1] (guarded on non-empty — the CLAUDE.md
    short-array rule); the two share distributions meet in a LEFT
    equi-join on (source, word) (first ⊆ all, so no rows are lost).
    Scale: one explode + two keyed aggregations; the join runs on the
    per-source vocabulary, not the corpus."""
    ws = load_table(spark, sf_dir, "documents").select(
        "source", alpha_words(F.col("text")).alias("words")
    )
    allw = ws.select(
        "source", F.explode("words").alias("w")
    )
    firstw = ws.where(F.size("words") >= 1).select(
        "source", F.element_at("words", 1).alias("w")
    )
    ac = allw.groupBy("source", "w").agg(
        F.count("*").cast("long").alias("n_all")
    )
    fc = firstw.groupBy("source", "w").agg(
        F.count("*").cast("long").alias("n_first")
    )
    sh = (
        ac.join(fc, ["source", "w"], "left")
        .select(
            "source",
            "w",
            "n_all",
            F.coalesce("n_first", F.lit(0)).alias("n_first"),
        )
        .select(
            "source",
            "n_all",
            "n_first",
            F.expr(
                "CAST(n_all * 10000"
                " div sum(n_all) OVER (PARTITION BY source) AS BIGINT)"
            ).alias("ashare_e4"),
            F.expr(
                "CAST(n_first * 10000"
                " div sum(n_first) OVER (PARTITION BY source) AS BIGINT)"
            ).alias("fshare_e4"),
        )
    )
    return (
        sh.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("vocab"),
            F.sum(F.when(F.col("n_first") > 0, 1).otherwise(0))
            .cast("long")
            .alias("first_vocab"),
            F.sum(F.abs(F.col("fshare_e4") - F.col("ashare_e4")))
            .cast("long")
            .alias("l1_e4"),
            F.max("fshare_e4").cast("long").alias("top_first_e4"),
        )
        .orderBy("source")
    )


@query(
    "q_tax_discount_grid",
    oracle="""
    WITH b AS (
        SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc_pct,
               CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS tax_pct
        FROM lineitem
    ),
    m AS (
        SELECT disc_pct, tax_pct, CAST(count(*) AS BIGINT) AS n_lines
        FROM b GROUP BY disc_pct, tax_pct
    ),
    w AS (
        SELECT disc_pct, tax_pct, n_lines,
               sum(n_lines) OVER (PARTITION BY disc_pct) AS rs,
               sum(n_lines) OVER (PARTITION BY tax_pct) AS cs,
               sum(n_lines) OVER () AS t
        FROM m
    )
    SELECT disc_pct, tax_pct, n_lines,
           CAST((rs * cs * 100) // t AS BIGINT) AS exp_e2,
           CAST(n_lines * 100 - (rs * cs * 100) // t AS BIGINT) AS resid_e2
    FROM w
    ORDER BY disc_pct, tax_pct
    """,
)
def q_tax_discount_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tax × discount independence grid: observed line counts per
    (discount %, tax %) cell against what the two marginal profiles
    alone predict — the q_traffic_calendar residual construction
    pointed at the two PRICING dials. Independent dials give residuals
    near zero; structure here means discounts are being steered by tax
    band (a governance smell worth an audit before any elasticity
    model trusts the columns as independent features). Percent bands
    are exact via floor(x·100+0.5) (the 2-decimal-input rule);
    expectations in e2 via integer division — rs·cs·100 ≤ N²·100
    needs care only past sf10, where the ≤99-cell matrix would switch
    to the double-floor form. Scale: one keyed aggregation;
    constant-size window stage."""
    b = load_table(spark, sf_dir, "lineitem").select(
        F.expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)").alias(
            "disc_pct"
        ),
        F.expr("CAST(floor(l_tax * 100 + 0.5) AS BIGINT)").alias(
            "tax_pct"
        ),
    )
    m = b.groupBy("disc_pct", "tax_pct").agg(
        F.count("*").cast("long").alias("n_lines")
    )
    w = (
        m.withColumn(
            "rs", F.sum("n_lines").over(Window.partitionBy("disc_pct"))
        )
        .withColumn(
            "cs", F.sum("n_lines").over(Window.partitionBy("tax_pct"))
        )
        .withColumn(
            "t", F.sum("n_lines").over(Window.partitionBy(F.lit(1)))
        )
    )
    return w.select(
        "disc_pct",
        "tax_pct",
        "n_lines",
        F.expr("CAST((rs * cs * 100) div t AS BIGINT)").alias("exp_e2"),
        F.expr(
            "CAST(n_lines * 100 - (rs * cs * 100) div t AS BIGINT)"
        ).alias("resid_e2"),
    ).orderBy("disc_pct", "tax_pct")


@query(
    "q_audience_overlap",
    oracle="""
    WITH tu AS (
        SELECT DISTINCT event_type, user_id FROM events
    ),
    tc AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
        FROM tu GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_both
        FROM tu a JOIN tu b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY type_a, type_b
    )
    SELECT p.type_a, p.type_b,
           ca.n_users AS n_a, cb.n_users AS n_b, p.n_both,
           CAST(p.n_both * 10000
                // (ca.n_users + cb.n_users - p.n_both) AS BIGINT)
               AS jaccard_bp
    FROM pairs p
    JOIN tc ca ON p.type_a = ca.event_type
    JOIN tc cb ON p.type_b = cb.event_type
    ORDER BY type_a, type_b
    """,
)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event types: the user-set Jaccard for
    every unordered type pair — the segmentation readout behind
    cross-feature targeting ('do error-prone users also purchase?')
    and the prior any funnel analysis should check before assuming
    its stages share a population (q_window_funnel ORDERS the stages;
    this measures whether their audiences even intersect). The pair
    counts anchor on the user_id equi-key with the a<b residual (the
    q_join_band_interval discipline — never a type×type cross of
    user sets), so cost is Σ_user |types(u)|², bounded by the type
    count, not the user count. Scale: one distinct + one self
    equi-join + tiny dimension legs."""
    tu = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
    )
    tc = tu.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_users")
    )
    a = tu.select(
        F.col("event_type").alias("type_a"), F.col("user_id").alias("ua")
    )
    b = tu.select(
        F.col("event_type").alias("type_b"), F.col("user_id").alias("ub")
    )
    pairs = (
        a.join(b, (a.ua == b.ub) & (a.type_a < b.type_b))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    ca = tc.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a")
    )
    cb = tc.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b")
    )
    return (
        pairs.join(ca, "type_a")
        .join(cb, "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            F.expr(
                "CAST(n_both * 10000 div (n_a + n_b - n_both) AS BIGINT)"
            ).alias("jaccard_bp"),
        )
        .orderBy("type_a", "type_b")
    )
