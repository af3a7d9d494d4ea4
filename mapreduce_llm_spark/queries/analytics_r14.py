"""Round-14 surface — 50 oracle-backed analytics queries.

Ten tranches: nonparametric statistics, corpus morphology, event-stream
behavior, catalog pricing structure, cross-table integrity audits,
order time-series shape, LLM data-prep planning, embedding geometry,
retail behavioral dynamics, and calendar/value-band concentration.

Determinism discipline: identical to the r9..r13 modules — exact
integer counts and e4/bp floors via nonneg integer division (abs +
CASE re-sign for anything that can cross zero, the CLAUDE.md
q_header_detail_recon rule), round(,4) only on the allowed
log/sqrt/corr class, nullif/CASE guards on data-dependent
denominators, packed nonneg-integer argmax instead of struct argmin
(the q_kmeans_step rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_llm_spark.io import load_table
from mapreduce_llm_spark.queries.common import alpha_words
from mapreduce_llm_spark.registry import query


# ---------------------------------------------------------------------------
# Tranche 1 — nonparametric / diagnostic statistics: the distribution-
# free test battery an analyst runs before trusting any of the
# parametric trend and mix queries already registered.
# ---------------------------------------------------------------------------


@query(
    "q_kendall_tau",
    oracle="""
    WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m,
               CAST(count(*) AS BIGINT) AS c,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS v
        FROM orders
        GROUP BY date_trunc('month', o_orderdate)
    ),
    pairs AS (
        SELECT CASE WHEN (b.c - a.c) * (b.v - a.v) > 0 THEN 1 ELSE 0 END AS conc,
               CASE WHEN (b.c - a.c) * (b.v - a.v) < 0 THEN 1 ELSE 0 END AS disc,
               CASE WHEN a.c = b.c THEN 1 ELSE 0 END AS tie_c,
               CASE WHEN a.v = b.v THEN 1 ELSE 0 END AS tie_v
        FROM monthly a JOIN monthly b ON a.m < b.m
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM monthly) AS n_months,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(conc) AS BIGINT) AS n_concordant,
           CAST(sum(disc) AS BIGINT) AS n_discordant,
           round(CAST(sum(conc) - sum(disc) AS DOUBLE)
                 / sqrt(CAST(count(*) - sum(tie_c) AS DOUBLE)
                        * CAST(count(*) - sum(tie_v) AS DOUBLE)), 4) + 0.0
               AS tau_b
    FROM pairs
    """,
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between monthly order COUNT and
    monthly order VALUE — the distribution-free answer to "do busy
    months also carry more money, monotonically?" (q_spearman ranks
    row-level pairs; tau-b's pairwise concordance is the statistic
    survey pipelines quote when the series is short and tied).
    Concordant/discordant/tie counts are exact integers over the
    month-pair frame; tau-b is one sqrt-normalized double, round(,4)
    (the allowed sqrt/corr class). The pair join is month × month with
    an inequality — both sides are bounded by the CALENDAR (~80 rows
    at any SF: TPC-H's 1995-2001 date range is fixed while rows grow),
    so the broadcast nested-loop is a bounded grid, never data × data
    (plan-lint NLJ allowlist)."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(
        F.count("*").cast("long").alias("c"),
        F.sum(F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
        .cast("long")
        .alias("v"),
    )
    a, b = monthly.alias("a"), monthly.alias("b")
    pairs = a.join(b, F.col("a.m") < F.col("b.m")).select(
        F.when(
            (F.col("b.c") - F.col("a.c")) * (F.col("b.v") - F.col("a.v")) > 0,
            1,
        )
        .otherwise(0)
        .alias("conc"),
        F.when(
            (F.col("b.c") - F.col("a.c")) * (F.col("b.v") - F.col("a.v")) < 0,
            1,
        )
        .otherwise(0)
        .alias("disc"),
        F.when(F.col("a.c") == F.col("b.c"), 1).otherwise(0).alias("tie_c"),
        F.when(F.col("a.v") == F.col("b.v"), 1).otherwise(0).alias("tie_v"),
    )
    n_months = monthly.agg(F.count("*").cast("long").alias("n_months"))
    return pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("conc").cast("long").alias("n_concordant"),
        F.sum("disc").cast("long").alias("n_discordant"),
        F.round(
            (F.sum("conc") - F.sum("disc")).cast("double")
            / F.sqrt(
                (F.count("*") - F.sum("tie_c")).cast("double")
                * (F.count("*") - F.sum("tie_v")).cast("double")
            ),
            4,
        ).alias("tau_b"),
    ).crossJoin(F.broadcast(n_months)).select(
        "n_months", "n_pairs", "n_concordant", "n_discordant", "tau_b"
    )


@query(
    "q_kruskal_wallis",
    oracle="""
    WITH x AS (
        SELECT c.c_mktsegment AS segment,
               CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               o.o_orderkey
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    ranked AS (
        SELECT segment,
               CAST(row_number() OVER (ORDER BY cents, o_orderkey)
                   AS BIGINT) AS r
        FROM x
    ),
    grp AS (
        SELECT segment,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(r) AS BIGINT) AS rsum
        FROM ranked
        GROUP BY segment
    ),
    tot AS (
        SELECT segment, n_orders, rsum,
               sum(n_orders) OVER () AS n,
               sum(pow(CAST(rsum AS DOUBLE), 2) / CAST(n_orders AS DOUBLE))
                   OVER () AS ssq
        FROM grp
    )
    SELECT segment, n_orders,
           CAST(rsum * 100 // n_orders AS BIGINT) AS mean_rank_e2,
           round(12.0 * ssq / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
                 - 3.0 * CAST(n + 1 AS DOUBLE), 4) AS h_stat
    FROM tot
    ORDER BY segment
    """,
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across market segments on order value — the
    rank-based one-way ANOVA (does ANY segment's value distribution
    sit higher, without assuming normality). Ranks are a DETERMINISTIC
    total order over (cents, orderkey) — the repo's rank convention:
    ties broken by key, identical both engines — produced by the
    distributed global_row_number operator (range-partition + offset
    prefix sum, operators/ranking.py), never a single-task global
    window. Per-group rank sums are exact int64 (R_g ≤ N² ≈ 2e14 at
    sf10, far under 2^63); H folds the 5 bounded group contributions
    in double and rounds to 4 (the corr-class justification: the two
    ~3N-magnitude terms cancel to O(100) with ~1e-9 absolute double
    error). Mean ranks are exact e2 integers."""
    from mapreduce_llm_spark.operators.ranking import global_row_number

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    x = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("segment"),
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
        "o_orderkey",
    )
    ranked = global_row_number(
        x, [F.col("cents"), F.col("o_orderkey")], alias="r"
    )
    grp = ranked.groupBy("segment").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("r").cast("long").alias("rsum"),
    )
    # single group by construction (5 segment rows); pmod on a column
    # keeps Catalyst from folding the partition spec into the warning-
    # emitting unpartitioned form (the operators/ranking.py trick)
    w = Window.partitionBy(F.pmod(F.col("n_orders"), F.lit(1)))
    tot = grp.select(
        "segment",
        "n_orders",
        "rsum",
        F.sum("n_orders").over(w).alias("n"),
        F.sum(
            F.pow(F.col("rsum").cast("double"), F.lit(2.0))
            / F.col("n_orders").cast("double")
        )
        .over(w)
        .alias("ssq"),
    )
    return tot.select(
        "segment",
        "n_orders",
        F.expr("CAST(rsum * 100 div n_orders AS BIGINT)").alias(
            "mean_rank_e2"
        ),
        F.round(
            F.lit(12.0)
            * F.col("ssq")
            / (F.col("n").cast("double") * (F.col("n") + 1).cast("double"))
            - F.lit(3.0) * (F.col("n") + 1).cast("double"),
            4,
        ).alias("h_stat"),
    ).orderBy("segment")


@query(
    "q_levene_bf",
    oracle="""
    WITH x AS (
        SELECT c.c_mktsegment AS segment,
               CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               o.o_orderkey
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    ranked AS (
        SELECT segment, cents,
               CAST(row_number() OVER (
                   PARTITION BY segment ORDER BY cents, o_orderkey)
                   AS BIGINT) AS rn,
               CAST(count(*) OVER (PARTITION BY segment) AS BIGINT) AS ng
        FROM x
    ),
    med AS (
        SELECT segment, cents AS median_cents
        FROM ranked
        WHERE rn = (ng + 1) // 2
    ),
    dev AS (
        SELECT x.segment, abs(x.cents - m.median_cents) AS z
        FROM x JOIN med m ON x.segment = m.segment
    ),
    grp AS (
        SELECT segment,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(z) AS BIGINT) AS sz,
               CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS qz
        FROM dev
        GROUP BY segment
    ),
    tot AS (
        SELECT segment, n_orders, sz,
               sum(n_orders) OVER () AS n,
               CAST(count(*) OVER () AS BIGINT) AS k,
               sum(pow(CAST(sz AS DOUBLE), 2) / CAST(n_orders AS DOUBLE))
                   OVER () AS ssg,
               sum(sz) OVER () AS s,
               sum(CAST(qz AS DOUBLE)) OVER () AS q
        FROM grp
    )
    SELECT t.segment, t.n_orders, m.median_cents,
           CAST(t.sz * 100 // t.n_orders AS BIGINT) AS mean_absdev_e2,
           round((CAST(t.n - t.k AS DOUBLE) / CAST(t.k - 1 AS DOUBLE))
                 * (t.ssg - pow(CAST(t.s AS DOUBLE), 2) / CAST(t.n AS DOUBLE))
                 / (t.q - t.ssg), 4) AS f_stat
    FROM tot t JOIN med m ON t.segment = m.segment
    ORDER BY t.segment
    """,
)
def q_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-centered Levene) homogeneity-of-variance
    test across market segments on order value: are segment spreads
    comparable, the precondition every parametric segment comparison
    already registered silently assumes. z = |cents − segment lower
    median| (the deterministic rank-selected median — rn = (n+1)//2 —
    via the partitioned ranking operator, low-cardinality keys);
    per-group Σz is exact int64 and Σz² is exact DECIMAL/HUGEINT (z² ≈
    2.5e15 per row passes int64 at ~3700 rows — the CLAUDE.md
    HUGEINT rule); the F statistic folds 5 bounded group terms in
    double, round(,4) (corr-class). Mean absolute deviations are
    exact e2 integers."""
    from mapreduce_llm_spark.operators.ranking import partitioned_row_number

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    x = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("segment"),
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
        "o_orderkey",
    )
    ranked = partitioned_row_number(
        x, ["segment"], [F.col("cents"), F.col("o_orderkey")], alias="rn"
    )
    ng = ranked.groupBy("segment").agg(F.count("*").cast("long").alias("ng"))
    med = (
        ranked.join(F.broadcast(ng), "segment")
        .where(F.col("rn") == F.expr("(ng + 1) div 2"))
        .select("segment", F.col("cents").alias("median_cents"))
    )
    dev = x.join(F.broadcast(med), "segment").select(
        "segment",
        F.abs(F.col("cents") - F.col("median_cents")).alias("z"),
    )
    grp = dev.groupBy("segment").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("z").cast("long").alias("sz"),
        F.sum(F.col("z").cast("decimal(19,0)") * F.col("z"))
        .cast("decimal(38,0)")
        .alias("qz"),
    )
    w = Window.partitionBy(F.pmod(F.col("n_orders"), F.lit(1)))
    tot = grp.select(
        "segment",
        "n_orders",
        "sz",
        F.sum("n_orders").over(w).alias("n"),
        F.count("*").over(w).cast("long").alias("k"),
        F.sum(
            F.pow(F.col("sz").cast("double"), F.lit(2.0))
            / F.col("n_orders").cast("double")
        )
        .over(w)
        .alias("ssg"),
        F.sum("sz").over(w).alias("s"),
        F.sum(F.col("qz").cast("double")).over(w).alias("q"),
    )
    return (
        tot.join(F.broadcast(med), "segment")
        .select(
            "segment",
            "n_orders",
            "median_cents",
            F.expr("CAST(sz * 100 div n_orders AS BIGINT)").alias(
                "mean_absdev_e2"
            ),
            F.round(
                ((F.col("n") - F.col("k")).cast("double")
                 / (F.col("k") - 1).cast("double"))
                * (
                    F.col("ssg")
                    - F.pow(F.col("s").cast("double"), F.lit(2.0))
                    / F.col("n").cast("double")
                )
                / (F.col("q") - F.col("ssg")),
                4,
            ).alias("f_stat"),
        )
        .orderBy("segment")
    )


@query(
    "q_wilcoxon_signed",
    oracle="""
    WITH unit AS (
        SELECT p.p_brand AS brand, l.l_partkey,
               CASE WHEN l.l_shipdate < TIMESTAMP '1998-07-01'
                    THEN 0 ELSE 1 END AS era,
               CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    per_era AS (
        SELECT brand, l_partkey, era,
               CAST(sum(cents) // count(*) AS BIGINT) AS mean_cents
        FROM unit
        GROUP BY brand, l_partkey, era
    ),
    diffs AS (
        SELECT a.brand, a.l_partkey,
               b.mean_cents - a.mean_cents AS d
        FROM per_era a JOIN per_era b
          ON a.l_partkey = b.l_partkey AND a.era = 0 AND b.era = 1
        WHERE b.mean_cents <> a.mean_cents
    ),
    ranked AS (
        SELECT brand, d,
               CAST(row_number() OVER (
                   PARTITION BY brand ORDER BY abs(d), l_partkey)
                   AS BIGINT) AS rk
        FROM diffs
    )
    SELECT brand,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(CASE WHEN d > 0 THEN rk ELSE 0 END) AS BIGINT) AS w_plus,
           round((CAST(sum(CASE WHEN d > 0 THEN rk ELSE 0 END) AS DOUBLE)
                  - CAST(count(*) * (count(*) + 1) AS DOUBLE) / 4.0)
                 / sqrt(CAST(count(*) * (count(*) + 1) AS DOUBLE)
                        * CAST(2 * count(*) + 1 AS DOUBLE) / 24.0), 4) + 0.0
               AS z_score
    FROM ranked
    GROUP BY brand
    ORDER BY brand
    """,
)
def q_wilcoxon_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank per brand: did per-part mean line price
    MOVE between the first and second halves of the corpus (split at
    1998-07-01), tested without assuming the changes are normal? Pairs
    are parts sold in BOTH eras; d = second-era mean cents − first-era
    (exact nonneg integer division per era — sums of positive cents);
    zero differences drop (the textbook convention); |d| ranks within
    brand are the deterministic (abs(d), partkey) order via the
    partitioned ranking operator (25 bounded brand keys). W+ and n are
    exact integers; the normal-approximation z is one sqrt-normalized
    double, round(,4). At 100 TB the per-(brand, part, era) aggregate
    is one map-side-combinable shuffle; the era pivot is an equi
    self-join on partkey."""
    from mapreduce_llm_spark.operators.ranking import partitioned_row_number

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    unit = li.join(p, li["l_partkey"] == p["p_partkey"]).select(
        F.col("p_brand").alias("brand"),
        "l_partkey",
        F.when(F.col("l_shipdate") < F.lit("1998-07-01").cast("timestamp_ntz"), 0)
        .otherwise(1)
        .alias("era"),
        F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
    )
    per_era = unit.groupBy("brand", "l_partkey", "era").agg(
        F.expr("CAST(sum(cents) div count(*) AS BIGINT)").alias("mean_cents")
    )
    a = per_era.where(F.col("era") == 0).select(
        "brand", "l_partkey", F.col("mean_cents").alias("m0")
    )
    b = per_era.where(F.col("era") == 1).select(
        F.col("l_partkey").alias("pk_b"), F.col("mean_cents").alias("m1")
    )
    diffs = (
        a.join(b, a["l_partkey"] == b["pk_b"])
        .where(F.col("m1") != F.col("m0"))
        .select("brand", "l_partkey", (F.col("m1") - F.col("m0")).alias("d"))
    )
    ranked = partitioned_row_number(
        diffs, ["brand"], [F.abs(F.col("d")), F.col("l_partkey")], alias="rk"
    )
    return (
        ranked.groupBy("brand")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum(F.when(F.col("d") > 0, F.col("rk")).otherwise(0))
            .cast("long")
            .alias("w_plus"),
            F.round(
                (
                    F.sum(
                        F.when(F.col("d") > 0, F.col("rk")).otherwise(0)
                    ).cast("double")
                    - (F.count("*") * (F.count("*") + 1)).cast("double")
                    / F.lit(4.0)
                )
                / F.sqrt(
                    (F.count("*") * (F.count("*") + 1)).cast("double")
                    * (2 * F.count("*") + 1).cast("double")
                    / F.lit(24.0)
                ),
                4,
            ).alias("z_score"),
        )
        .orderBy("brand")
    )


@query(
    "q_ljung_box",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
               CAST(count(*) AS BIGINT) AS y
        FROM orders
        GROUP BY date_trunc('day', o_orderdate)
    ),
    indexed AS (
        SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
               y,
               CAST(count(*) OVER () AS BIGINT) AS n,
               CAST(sum(y) OVER () AS BIGINT) AS s
        FROM daily
    ),
    centered AS (
        SELECT t, n, n * y - s AS yc
        FROM indexed
    ),
    den AS (
        SELECT CAST(sum(CAST(yc AS HUGEINT) * yc) AS HUGEINT) AS d,
               max(n) AS n
        FROM centered
    ),
    lags AS (
        SELECT unnest(generate_series(1, 5)) AS lag
    ),
    num AS (
        SELECT l.lag,
               CAST(count(*) AS BIGINT) AS n_terms,
               CAST(sum(CAST(a.yc AS HUGEINT) * b.yc) AS HUGEINT) AS num
        FROM lags l
        JOIN centered a ON TRUE
        JOIN centered b ON b.t = a.t + l.lag
        GROUP BY l.lag
    ),
    r AS (
        SELECT lag, n_terms,
               CAST(num AS DOUBLE) / CAST(d.d AS DOUBLE) AS rk,
               d.n AS n
        FROM num, den d
    )
    SELECT lag, n_terms,
           round(rk, 4) + 0.0 AS r_k,
           round(sum(CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE)
                     * rk * rk / CAST(n - lag AS DOUBLE)) OVER (
                ORDER BY lag
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
               AS q_stat
    FROM r
    ORDER BY lag
    """,
)
def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on the daily order-count series,
    lags 1..5: is there ANY autocorrelation left, the whiteness check
    behind every forecast query already registered (q_forecast_naive /
    q_forecast_mase assume the residual series is noise). Integer-
    exact trick: with ỹ = n·y − Σy (integer), every autocovariance is
    Σỹ_t·ỹ_{t+k} / Σỹ² with the n² scale cancelling — numerator and
    denominator are exact HUGEINT/DECIMAL sums (ỹ² passes int64 at
    scale, the CLAUDE.md HUGEINT rule), so r_k is ONE double divide,
    round(,4). Q accumulates over the 5 ordered lag rows (a ROWS
    frame — deterministic summation order both engines). The day
    series is bounded by the CALENDAR (~2400 rows at any SF); the lag
    expansion is a 5-row grid cross (plan-lint NLJ allowlist) resolved by
    an equi-join on t+lag."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.count("*").cast("long").alias("y")
    )
    wday = Window.partitionBy(F.pmod(F.col("y"), F.lit(1)))
    indexed = daily.select(
        F.row_number()
        .over(
            Window.partitionBy(F.pmod(F.col("y"), F.lit(1))).orderBy("day")
        )
        .cast("long")
        .alias("t"),
        "y",
        F.count("*").over(wday).cast("long").alias("n"),
        F.sum("y").over(wday).cast("long").alias("s"),
    )
    centered = indexed.select(
        "t", "n", (F.col("n") * F.col("y") - F.col("s")).alias("yc")
    )
    den = centered.agg(
        F.sum(F.col("yc").cast("decimal(19,0)") * F.col("yc"))
        .cast("decimal(38,0)")
        .alias("d"),
        F.max("n").alias("n"),
    )
    lags = spark.range(1, 6).select(F.col("id").cast("long").alias("lag"))
    a = centered.select(F.col("t").alias("ta"), F.col("yc").alias("ya"))
    b = centered.select(F.col("t").alias("tb"), F.col("yc").alias("yb"))
    expanded = a.crossJoin(F.broadcast(lags)).join(
        b, F.col("tb") == F.col("ta") + F.col("lag")
    )
    num = expanded.groupBy("lag").agg(
        F.count("*").cast("long").alias("n_terms"),
        F.sum(F.col("ya").cast("decimal(19,0)") * F.col("yb"))
        .cast("decimal(38,0)")
        .alias("num"),
    )
    r = num.crossJoin(F.broadcast(den)).select(
        "lag",
        "n_terms",
        (F.col("num").cast("double") / F.col("d").cast("double")).alias("rk"),
        "n",
    )
    wq = (
        Window.partitionBy(F.pmod(F.col("n_terms"), F.lit(1)))
        .orderBy("lag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return r.select(
        "lag",
        "n_terms",
        F.round("rk", 4).alias("r_k"),
        F.round(
            F.sum(
                F.col("n").cast("double")
                * (F.col("n") + 2).cast("double")
                * F.col("rk")
                * F.col("rk")
                / (F.col("n") - F.col("lag")).cast("double")
            ).over(wq),
            4,
        ).alias("q_stat"),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# Tranche 2 — corpus morphology & lexical structure: the sub-word and
# rank-size diagnostics a tokenizer/curation team reads before fixing
# vocabulary budgets.
# ---------------------------------------------------------------------------


@query(
    "q_affix_profile",
    oracle="""
    WITH w AS (
        SELECT lang, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
        FROM documents
    ),
    suf AS (
        SELECT lang, right(w, 3) AS suffix,
               CAST(count(*) AS BIGINT) AS n
        FROM w
        WHERE length(w) >= 5
        GROUP BY lang, right(w, 3)
    ),
    ranked AS (
        SELECT lang, suffix, n,
               CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS lang_total,
               row_number() OVER (
                   PARTITION BY lang ORDER BY n DESC, suffix) AS rk
        FROM suf
    )
    SELECT lang, suffix, n AS n_words,
           CAST(n * 10000 // lang_total AS BIGINT) AS share_bp
    FROM ranked
    WHERE rk <= 10
    ORDER BY lang, n_words DESC, suffix
    """,
)
def q_affix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 three-character suffixes per language over words of
    length ≥ 5 — the cheap morphology fingerprint (inflection-heavy
    languages concentrate suffix mass; templated or synthetic text
    concentrates HARDER), the precursor to any subword-vocabulary
    budget split by language. One token aggregation to the per-lang
    suffix vocabulary, a keyed rank window over that aggregated frame
    (per-lang suffix cardinality is vocabulary-bounded, ≤26³ — never
    row-proportional), exact bp shares. Ordered with the (count desc,
    suffix) tie-break both engines."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "lang", F.explode(alpha_words(F.col("text"))).alias("w")
    ).where(F.length("w") >= 5)
    suf = w.groupBy("lang", F.expr("right(w, 3)").alias("suffix")).agg(
        F.count("*").cast("long").alias("n")
    )
    wl = Window.partitionBy("lang")
    ranked = suf.select(
        "lang",
        "suffix",
        "n",
        F.sum("n").over(wl).cast("long").alias("lang_total"),
        F.row_number()
        .over(Window.partitionBy("lang").orderBy(F.col("n").desc(), "suffix"))
        .alias("rk"),
    )
    return (
        ranked.where(F.col("rk") <= 10)
        .select(
            "lang",
            "suffix",
            F.col("n").alias("n_words"),
            F.expr("CAST(n * 10000 div lang_total AS BIGINT)").alias(
                "share_bp"
            ),
        )
        .orderBy("lang", F.col("n_words").desc(), "suffix")
    )


@query(
    "q_bigram_asymmetry",
    oracle="""
    WITH w AS (
        SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
        FROM documents
    ),
    bg AS (
        SELECT unnest(list_transform(
                   generate_series(1, length(w) - 1),
                   i -> substr(w, CAST(i AS INTEGER), 2))) AS g
        FROM w
        WHERE length(w) >= 2
    ),
    dirs AS (
        SELECT concat(least(substr(g, 1, 1), substr(g, 2, 1)),
                      greatest(substr(g, 1, 1), substr(g, 2, 1))) AS pair,
               CAST(sum(CASE WHEN substr(g, 1, 1) < substr(g, 2, 1)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_fwd,
               CAST(sum(CASE WHEN substr(g, 1, 1) > substr(g, 2, 1)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_rev
        FROM bg
        WHERE substr(g, 1, 1) <> substr(g, 2, 1)
        GROUP BY 1
    )
    SELECT pair, n_fwd, n_rev,
           CAST(abs(n_fwd - n_rev) * 10000 // (n_fwd + n_rev) AS BIGINT)
               AS asym_bp
    FROM dirs
    ORDER BY n_fwd + n_rev DESC, pair
    LIMIT 20
    """,
)
def q_bigram_asymmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional asymmetry of the 20 most frequent letter pairs:
    natural orthography is strongly ordered ('th' vastly outnumbers
    'ht'), so a pair inventory whose directions are balanced flags
    shuffled, encrypted, or synthetic text — the character-level twin
    of q_bits_per_char's conditional entropy, reduced to an exact
    integer diagnostic. Bigrams explode per word with the sequence
    guard (Spark's sequence(1,0) DESCENDS — the CLAUDE.md rule);
    direction counts collapse to the ≤26·25/2 unordered-pair frame;
    the asymmetry is an exact bp floor. Top-20 with the
    (total desc, pair) tie-break."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(F.explode(alpha_words(F.col("text"))).alias("w")).where(
        F.length("w") >= 2
    )
    bg = w.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("g")
    )
    dirs = (
        bg.where(F.expr("substr(g, 1, 1) <> substr(g, 2, 1)"))
        .groupBy(
            F.expr(
                "concat(least(substr(g, 1, 1), substr(g, 2, 1)),"
                " greatest(substr(g, 1, 1), substr(g, 2, 1)))"
            ).alias("pair")
        )
        .agg(
            F.sum(
                F.when(F.expr("substr(g, 1, 1) < substr(g, 2, 1)"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_fwd"),
            F.sum(
                F.when(F.expr("substr(g, 1, 1) > substr(g, 2, 1)"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_rev"),
        )
    )
    return (
        dirs.select(
            "pair",
            "n_fwd",
            "n_rev",
            F.expr(
                "CAST(abs(n_fwd - n_rev) * 10000 div (n_fwd + n_rev)"
                " AS BIGINT)"
            ).alias("asym_bp"),
        )
        .orderBy((F.col("n_fwd") + F.col("n_rev")).desc(), "pair")
        .limit(20)
    )


@query(
    "q_initial_letter_bias",
    oracle="""
    WITH w AS (
        SELECT lang, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
        FROM documents
    ),
    ini AS (
        SELECT lang, substr(w, 1, 1) AS letter,
               CAST(count(*) AS BIGINT) AS n
        FROM w
        WHERE w <> ''
        GROUP BY lang, substr(w, 1, 1)
    ),
    corpus AS (
        SELECT letter,
               CAST(sum(n) AS BIGINT) AS cn,
               CAST(sum(sum(n)) OVER () AS BIGINT) AS ctot
        FROM ini
        GROUP BY letter
    ),
    langtot AS (
        SELECT lang, letter, n,
               CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS ltot
        FROM ini
    )
    SELECT l.lang, l.letter, l.n AS n_words,
           CAST(l.n * 10000 // l.ltot AS BIGINT) AS lang_bp,
           CAST(l.n * 10000 // l.ltot AS BIGINT)
               - CAST(c.cn * 10000 // c.ctot AS BIGINT) AS dev_bp
    FROM langtot l JOIN corpus c ON l.letter = c.letter
    ORDER BY l.lang, l.letter
    """,
)
def q_initial_letter_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-initial letter distribution per language against the
    pooled corpus: which initials a language over/under-uses, in
    signed basis points — the language-ID feature (word-initial
    distributions separate languages harder than raw letter
    frequencies) exposed as an auditable table. Two bounded
    aggregations (≤26 letters × ≤|langs| cells); the corpus leg joins
    back EQUI on letter (broadcast-sized by construction, no
    nested-loop); all shares are exact bp floors."""
    docs = load_table(spark, sf_dir, "documents")
    ini = (
        docs.select(
            "lang", F.explode(alpha_words(F.col("text"))).alias("w")
        )
        .groupBy("lang", F.expr("substr(w, 1, 1)").alias("letter"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    corpus = ini.groupBy("letter").agg(F.sum("n").cast("long").alias("cn"))
    corpus = corpus.select(
        "letter",
        "cn",
        F.sum("cn")
        .over(Window.partitionBy(F.pmod(F.col("cn"), F.lit(1))))
        .cast("long")
        .alias("ctot"),
    )
    langtot = ini.select(
        "lang",
        "letter",
        "n",
        F.sum("n").over(Window.partitionBy("lang")).cast("long").alias("ltot"),
    )
    return (
        langtot.join(F.broadcast(corpus), "letter")
        .select(
            "lang",
            "letter",
            F.col("n").alias("n_words"),
            F.expr("CAST(n * 10000 div ltot AS BIGINT)").alias("lang_bp"),
            (
                F.expr("CAST(n * 10000 div ltot AS BIGINT)")
                - F.expr("CAST(cn * 10000 div ctot AS BIGINT)")
            ).alias("dev_bp"),
        )
        .orderBy("lang", "letter")
    )


@query(
    "q_rare_word_load",
    oracle="""
    WITH tok AS (
        SELECT doc_id, source,
               unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
        FROM documents
    ),
    tok2 AS (
        SELECT doc_id, source, w FROM tok WHERE w <> ''
    ),
    df AS (
        SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM tok2
        GROUP BY w
    ),
    per_doc AS (
        SELECT t.doc_id, t.source,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN d.df <= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_rare
        FROM tok2 t JOIN df d ON t.w = d.w
        GROUP BY t.doc_id, t.source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_rare) * 10000 // sum(n_tokens) AS BIGINT)
               AS pooled_rare_bp,
           CAST(sum(CASE WHEN n_rare * 10000 // n_tokens > 2000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy_docs
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """,
)
def q_rare_word_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token burden per source: the share of token OCCURRENCES
    whose word appears in ≤ 2 documents corpus-wide, plus the count of
    docs where that burden passes 20% — the practical "will the
    tokenizer fragment this source into byte fallbacks" signal
    (q_hapax_rate counts the rare VOCABULARY; this weighs its
    occurrence mass where it actually lands). Document frequency is
    one distinct aggregation on (word, doc); the df join back to
    occurrences is equi on word (data-proportional, hash-partitioned);
    loads are exact bp floors at both the doc and source level."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", F.explode(alpha_words(F.col("text"))).alias("w")
    )
    dfq = tok.groupBy("w").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    per_doc = (
        tok.join(dfq, "w")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("df") <= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_rare"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.expr(
                "CAST(sum(n_rare) * 10000 div sum(n_tokens) AS BIGINT)"
            ).alias("pooled_rare_bp"),
            F.sum(
                F.when(
                    F.expr("n_rare * 10000 div n_tokens > 2000"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_heavy_docs"),
        )
        .orderBy("source")
    )


@query(
    "q_doclen_ranksize",
    oracle="""
    WITH ranked AS (
        SELECT source, n_chars,
               CAST(row_number() OVER (
                   PARTITION BY source ORDER BY n_chars DESC, doc_id)
                   AS BIGINT) AS rk
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           round(regr_slope(ln(n_chars), ln(rk)), 4) + 0.0 AS ranksize_slope
    FROM ranked
    GROUP BY source
    ORDER BY source
    """,
)
def q_doclen_ranksize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-size exponent of DOCUMENT LENGTHS per source: the
    least-squares slope of ln(length) on ln(rank) — crawled corpora
    show heavy-tailed length laws while templated dumps are nearly
    flat, so this is q_zipf_slope's document-level twin (words there,
    documents here) and the length-mix health check behind chunking
    budgets. Ranks come from the partitioned ranking operator
    (low-cardinality source keys, per-key volumes are row-
    proportional — the plain keyed window would funnel each source
    through one task at 100 TB); the fit is the shared regr_slope
    fold, round(,4) with the -0.0 normalizer."""
    from mapreduce_llm_spark.operators.ranking import partitioned_row_number

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "n_chars", "doc_id"
    )
    ranked = partitioned_row_number(
        docs,
        ["source"],
        [F.col("n_chars").desc(), F.col("doc_id")],
        alias="rk",
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.max("n_chars").cast("long").alias("max_chars"),
            F.round(
                F.regr_slope(F.log(F.col("n_chars")), F.log(F.col("rk")))
                + F.lit(0.0),
                4,
            ).alias("ranksize_slope"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Tranche 3 — event-stream behavior: session-definition sensitivity,
# exact value percentiles, calendar value premia, per-user modality.
# ---------------------------------------------------------------------------


@query(
    "q_session_threshold_sweep",
    oracle="""
    WITH gaps AS (
        SELECT (epoch_us(ts) - lag(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id))
                   // 1000000 AS gap_s
        FROM events
    ),
    agg AS (
        SELECT (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
                   AS n_users,
               (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_events,
               CAST(sum(CASE WHEN gap_s > 600 THEN 1 ELSE 0 END) AS BIGINT)
                   AS b600,
               CAST(sum(CASE WHEN gap_s > 1800 THEN 1 ELSE 0 END) AS BIGINT)
                   AS b1800,
               CAST(sum(CASE WHEN gap_s > 3600 THEN 1 ELSE 0 END) AS BIGINT)
                   AS b3600
        FROM gaps
        WHERE gap_s IS NOT NULL
    )
    SELECT threshold_s, n_sessions,
           CAST(n_events * 100 // n_sessions AS BIGINT)
               AS events_per_session_e2
    FROM (
        SELECT CAST(600 AS BIGINT) AS threshold_s,
               n_users + b600 AS n_sessions, n_events FROM agg
        UNION ALL
        SELECT CAST(1800 AS BIGINT), n_users + b1800, n_events FROM agg
        UNION ALL
        SELECT CAST(3600 AS BIGINT), n_users + b3600, n_events FROM agg
    )
    ORDER BY threshold_s
    """,
)
def q_session_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-count sensitivity to the inactivity threshold: the
    corpus session count and mean session depth under 10/30/60-minute
    gap definitions — the calibration table every sessionization
    parameter choice (q_evt_sessionize pins ONE threshold) should be
    read against. A session count under threshold T is n_users +
    #(gaps > T), so the whole sweep is ONE pass over the per-user lag
    gaps with three conditional sums, unpivoted to rows — no grid
    cross, no second scan, no nested loop. Exact integers
    throughout."""
    ev = load_table(spark, sf_dir, "events")
    gaps = ev.select(
        F.expr(
            "(unix_micros(ts) - lag(unix_micros(ts)) OVER ("
            "PARTITION BY user_id ORDER BY ts, event_id)) div 1000000"
        ).alias("gap_s")
    ).where(F.col("gap_s").isNotNull())
    scalars = ev.agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.count("*").cast("long").alias("n_events"),
    )
    agg = gaps.agg(
        F.sum(F.when(F.col("gap_s") > 600, 1).otherwise(0))
        .cast("long")
        .alias("b600"),
        F.sum(F.when(F.col("gap_s") > 1800, 1).otherwise(0))
        .cast("long")
        .alias("b1800"),
        F.sum(F.when(F.col("gap_s") > 3600, 1).otherwise(0))
        .cast("long")
        .alias("b3600"),
    ).crossJoin(F.broadcast(scalars))
    swept = agg.selectExpr(
        "stack(3,"
        " CAST(600 AS BIGINT), n_users + b600,"
        " CAST(1800 AS BIGINT), n_users + b1800,"
        " CAST(3600 AS BIGINT), n_users + b3600"
        ") AS (threshold_s, n_sessions)",
        "n_events",
    )
    return swept.select(
        "threshold_s",
        "n_sessions",
        F.expr("CAST(n_events * 100 div n_sessions AS BIGINT)").alias(
            "events_per_session_e2"
        ),
    ).orderBy("threshold_s")


@query(
    "q_type_value_percentiles",
    oracle="""
    WITH v AS (
        SELECT event_type,
               CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v_e4,
               event_id
        FROM events
    ),
    ranked AS (
        SELECT event_type, v_e4,
               CAST(row_number() OVER (
                   PARTITION BY event_type ORDER BY v_e4, event_id)
                   AS BIGINT) AS rn,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM v
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_events,
           CAST(max(CASE WHEN rn = greatest(1, n * 25 // 100)
                         THEN v_e4 END) AS BIGINT) AS p25_e4,
           CAST(max(CASE WHEN rn = greatest(1, n * 50 // 100)
                         THEN v_e4 END) AS BIGINT) AS p50_e4,
           CAST(max(CASE WHEN rn = greatest(1, n * 75 // 100)
                         THEN v_e4 END) AS BIGINT) AS p75_e4
    FROM ranked
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_type_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT value quartiles per event type (rank-selected, the
    repo's deterministic lower-quantile convention rn = ⌊n·q⌋ with the
    (value, event_id) tie-break) — the distribution summary behind
    any per-type alerting threshold, computed without approx_quantile
    so the oracle can replay it bit-for-bit. Ranks come from the
    partitioned ranking operator (5 bounded type keys, per-key volume
    row-proportional — a plain keyed window would funnel each type
    through one task at 100 TB); the three quartiles fold in one
    grouped conditional-max pass. All values exact e4 integers."""
    from mapreduce_llm_spark.operators.ranking import partitioned_row_number

    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)").alias("v_e4"),
        "event_id",
    )
    ranked = partitioned_row_number(
        v, ["event_type"], [F.col("v_e4"), F.col("event_id")], alias="rn"
    )
    counts = ranked.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n")
    )
    return (
        ranked.join(F.broadcast(counts), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("greatest(1, n * 25 div 100)"),
                    F.col("v_e4"),
                )
            )
            .cast("long")
            .alias("p25_e4"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("greatest(1, n * 50 div 100)"),
                    F.col("v_e4"),
                )
            )
            .cast("long")
            .alias("p50_e4"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("greatest(1, n * 75 div 100)"),
                    F.col("v_e4"),
                )
            )
            .cast("long")
            .alias("p75_e4"),
        )
        .orderBy("event_type")
    )


@query(
    "q_dow_value_premium",
    oracle="""
    WITH d AS (
        SELECT isodow(o_orderdate) AS dow,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS v
        FROM orders
        GROUP BY isodow(o_orderdate)
    ),
    tot AS (
        SELECT dow, n_orders, v,
               CAST(v // n_orders AS BIGINT) AS mean_cents,
               sum(n_orders) OVER () AS tot_n,
               sum(v) OVER () AS tot_v
        FROM d
    )
    SELECT dow, n_orders, mean_cents,
           CAST(floor(CAST(v // n_orders AS DOUBLE) * 10000.0
                      * CAST(tot_n AS DOUBLE)
                      / CAST(tot_v AS DOUBLE)) - 10000 AS BIGINT)
               AS premium_bp
    FROM tot
    ORDER BY dow
    """,
)
def q_dow_value_premium(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week order-value premium: each ISO weekday's mean order
    value against the corpus mean, in signed basis points — the
    weekly pricing rhythm (q_dow_stability watches COUNTS; this
    prices the day). One aggregation to 7 rows, totals as windows
    over that bounded frame; the premium converts each int64 term to
    DOUBLE before the product (the q_bot_score pinned-double pattern —
    an int64 product form would pass 2^63 at scale) under floor.
    Spark weekday()+1 ≡ DuckDB isodow (the CLAUDE.md calendar
    rule)."""
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy((F.weekday("o_orderdate") + 1).alias("dow")).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
        .cast("long")
        .alias("v"),
    )
    w = Window.partitionBy(F.pmod(F.col("n_orders"), F.lit(1)))
    tot = d.select(
        "dow",
        "n_orders",
        "v",
        F.expr("CAST(v div n_orders AS BIGINT)").alias("mean_cents"),
        F.sum("n_orders").over(w).alias("tot_n"),
        F.sum("v").over(w).alias("tot_v"),
    )
    return tot.select(
        "dow",
        "n_orders",
        "mean_cents",
        F.expr(
            "CAST(floor(CAST(v div n_orders AS DOUBLE) * 10000.0D"
            " * CAST(tot_n AS DOUBLE)"
            " / CAST(tot_v AS DOUBLE)) - 10000 AS BIGINT)"
        ).alias("premium_bp"),
    ).orderBy("dow")


@query(
    "q_user_modal_share",
    oracle="""
    WITH per_type AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        FROM events
        GROUP BY user_id, event_type
    ),
    per_user AS (
        SELECT user_id,
               CAST(sum(n) AS BIGINT) AS n_events,
               CAST(max(n) AS BIGINT) AS modal_n
        FROM per_type
        GROUP BY user_id
    ),
    banded AS (
        SELECT user_id, n_events, modal_n,
               least(modal_n * 10000 // n_events // 1000,
                     CAST(9 AS BIGINT)) AS band
        FROM per_user
    )
    SELECT band,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n_events) * 100 // count(*) AS BIGINT)
               AS mean_events_e2,
           CAST(sum(modal_n) * 10000 // sum(n_events) AS BIGINT)
               AS pooled_modal_bp
    FROM banded
    GROUP BY band
    ORDER BY band
    """,
)
def q_user_modal_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral concentration distribution: per user, the share of
    events in their MOST frequent type (the modal share), banded into
    bp deciles — how specialized the user base is (q_user_type_affinity
    names each user's modal type; this measures how dominant it is,
    the input to any personalization-worthiness call). Two grouped
    aggregations (user×type, then user); the band is an exact
    integer floor chain (share bp // 1000, capped at 9); band rows
    carry exact e2/bp summary integers. No window, no join — fully
    map-side-combinable at any scale."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("long").alias("n")
    )
    per_user = per_type.groupBy("user_id").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.max("n").cast("long").alias("modal_n"),
    )
    banded = per_user.select(
        "n_events",
        "modal_n",
        F.expr(
            "least(modal_n * 10000 div n_events div 1000, CAST(9 AS BIGINT))"
        ).alias("band"),
    )
    return (
        banded.groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.expr("CAST(sum(n_events) * 100 div count(*) AS BIGINT)").alias(
                "mean_events_e2"
            ),
            F.expr(
                "CAST(sum(modal_n) * 10000 div sum(n_events) AS BIGINT)"
            ).alias("pooled_modal_bp"),
        )
        .orderBy("band")
    )


@query(
    "q_gap_weekend_mix",
    oracle="""
    WITH g AS (
        SELECT isodow(ts) AS dow,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS d1,
               lead(CAST(date_trunc('day', ts) AS TIMESTAMP)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS d2,
               (lead(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)
                - epoch_us(ts)) // 1000000 AS gap_s
        FROM events
    )
    SELECT dow,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(sum(gap_s) * 100 // count(*) AS BIGINT) AS mean_gap_s_e2,
           CAST(sum(CASE WHEN d2 > d1 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS crosses_day_bp
    FROM g
    WHERE gap_s IS NOT NULL
    GROUP BY dow
    ORDER BY dow
    """,
)
def q_gap_weekend_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap profile by the weekday the gap STARTS on: mean
    gap seconds (exact e2) and the share of gaps that cross a calendar
    day boundary — does engagement started late in the week stall
    over the weekend (the re-engagement-send-time input;
    q_interarrival_hazard models gap magnitude, this locates it on
    the calendar). One per-user lead window pass; whole-second gaps
    by integer µs division; day-crossing is an exact date_trunc
    comparison. Spark weekday()+1 ≡ DuckDB isodow."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        (F.weekday("ts") + 1).alias("dow"),
        F.date_trunc("day", "ts").alias("d1"),
        F.lead(F.date_trunc("day", F.col("ts"))).over(w).alias("d2"),
        F.expr(
            "(lead(unix_micros(ts)) OVER ("
            "PARTITION BY user_id ORDER BY ts, event_id)"
            " - unix_micros(ts)) div 1000000"
        ).alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    return (
        g.groupBy("dow")
        .agg(
            F.count("*").cast("long").alias("n_gaps"),
            F.expr("CAST(sum(gap_s) * 100 div count(*) AS BIGINT)").alias(
                "mean_gap_s_e2"
            ),
            F.expr(
                "CAST(sum(CASE WHEN d2 > d1 THEN 1 ELSE 0 END) * 10000"
                " div count(*) AS BIGINT)"
            ).alias("crosses_day_bp"),
        )
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# Tranche 4 — catalog & pricing structure: name-token co-occurrence,
# realized-vs-list yield, assortment coverage, price/quantity return
# links.
# ---------------------------------------------------------------------------


@query(
    "q_partname_cooccur",
    oracle="""
    WITH toks AS (
        SELECT split_part(p_name, ' ', 1) AS adj,
               split_part(p_name, ' ', 2) AS noun
        FROM part
        WHERE length(split_part(p_name, ' ', 2)) > 0
    ),
    pairs AS (
        SELECT adj, noun, CAST(count(*) AS BIGINT) AS n_parts
        FROM toks
        GROUP BY adj, noun
    ),
    m AS (
        SELECT adj, noun, n_parts,
               CAST(sum(n_parts) OVER (PARTITION BY adj) AS BIGINT) AS n_adj,
               CAST(sum(n_parts) OVER (PARTITION BY noun) AS BIGINT) AS n_noun,
               CAST(sum(n_parts) OVER () AS BIGINT) AS n
        FROM pairs
    )
    SELECT adj, noun, n_parts,
           CAST(floor(CAST(n_parts * n AS DOUBLE) * 10000.0
                      / CAST(n_adj * n_noun AS DOUBLE)) AS BIGINT)
               AS lift_e4
    FROM m
    ORDER BY n_parts DESC, adj, noun
    LIMIT 20
    """,
)
def q_partname_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog naming co-occurrence: lift between the adjective and
    noun tokens of part names (an independent generator sits at lift
    1.0; systematic naming conventions — 'small' only ever pairing
    with 'bolt' — show as polarized lifts), the catalog-side twin of
    q_pair_lift's basket association. One grouped count to the
    token-pair frame (bounded by the naming vocabulary, never
    row-proportional), marginals as windows over that frame, lift as
    ONE int64→double divide under floor (numerator and denominator
    products stay under 2^53 until past sf1000 — the CLAUDE.md
    pinned-double rule). Top-20 with the (count desc, adj, noun)
    tie-break."""
    p = load_table(spark, sf_dir, "part")
    toks = p.select(
        F.expr("split_part(p_name, ' ', 1)").alias("adj"),
        F.expr("split_part(p_name, ' ', 2)").alias("noun"),
    ).where(F.length("noun") > 0)
    pairs = toks.groupBy("adj", "noun").agg(
        F.count("*").cast("long").alias("n_parts")
    )
    m = pairs.select(
        "adj",
        "noun",
        "n_parts",
        F.sum("n_parts").over(Window.partitionBy("adj")).cast("long").alias("n_adj"),
        F.sum("n_parts").over(Window.partitionBy("noun")).cast("long").alias("n_noun"),
        F.sum("n_parts")
        .over(Window.partitionBy(F.pmod(F.col("n_parts"), F.lit(1))))
        .cast("long")
        .alias("n"),
    )
    return (
        m.select(
            "adj",
            "noun",
            "n_parts",
            F.expr(
                "CAST(floor(CAST(n_parts * n AS DOUBLE) * 10000.0D"
                " / CAST(n_adj * n_noun AS DOUBLE)) AS BIGINT)"
            ).alias("lift_e4"),
        )
        .orderBy(F.col("n_parts").desc(), "adj", "noun")
        .limit(20)
    )


@query(
    "q_brand_realized_ratio",
    oracle="""
    WITH j AS (
        SELECT p.p_brand AS brand,
               CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                   AS BIGINT) AS realized_cents,
               CAST(floor(p.p_retailprice * 100 + 0.5) AS BIGINT)
                   * CAST(floor(l.l_quantity + 0.5) AS BIGINT) AS list_cents
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    )
    SELECT brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(realized_cents) AS BIGINT) AS realized_total_cents,
           CAST(floor(CAST(sum(realized_cents) AS DOUBLE) * 10000.0
                      / CAST(sum(list_cents) AS DOUBLE)) AS BIGINT)
               AS realized_ratio_e4
    FROM j
    GROUP BY brand
    ORDER BY brand
    """,
)
def q_brand_realized_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized-vs-list revenue yield per brand: post-discount line
    revenue over quantity × catalog list price, in exact e4 — the
    value-weighted markup ledger a pricing review opens with (in this
    corpus realized trades near 2× list: extendedprice is an
    independent price draw, which is precisely the divergence the
    audit exposes; q_unit_price_consistency watches the per-part
    spread). Realized cents floor an IEEE product
    both engines compute identically (the CLAUDE.md floor-of-multiply
    class); list cents are pure int64 products (quantity is integral —
    floored before the cast so the DuckDB-round vs Spark-trunc cast
    divergence can never engage); the final ratio is one int64→double
    divide under floor."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(p, li["l_partkey"] == p["p_partkey"]).select(
        F.col("p_brand").alias("brand"),
        F.expr(
            "CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)"
            " AS BIGINT)"
        ).alias("realized_cents"),
        (
            F.expr("CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)")
            * F.expr("CAST(floor(l_quantity + 0.5) AS BIGINT)")
        ).alias("list_cents"),
    )
    return (
        j.groupBy("brand")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum("realized_cents").cast("long").alias("realized_total_cents"),
            F.expr(
                "CAST(floor(CAST(sum(realized_cents) AS DOUBLE) * 10000.0D"
                " / CAST(sum(list_cents) AS DOUBLE)) AS BIGINT)"
            ).alias("realized_ratio_e4"),
        )
        .orderBy("brand")
    )


@query(
    "q_brand_size_coverage",
    oracle="""
    WITH per_brand AS (
        SELECT p_brand AS brand,
               CAST(count(DISTINCT p_size) AS BIGINT) AS n_sizes,
               CAST(min(p_size) AS BIGINT) AS size_min,
               CAST(max(p_size) AS BIGINT) AS size_max,
               CAST(count(*) AS BIGINT) AS n_parts
        FROM part
        GROUP BY p_brand
    ),
    g AS (
        SELECT CAST(count(DISTINCT p_size) AS BIGINT) AS g_sizes FROM part
    )
    SELECT b.brand, b.n_parts, b.n_sizes, b.size_min, b.size_max,
           CAST(b.n_sizes * 10000 // g.g_sizes AS BIGINT) AS coverage_bp
    FROM per_brand b, g
    ORDER BY b.brand
    """,
)
def q_brand_size_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assortment breadth per brand: how much of the catalog's size
    spectrum each brand covers (distinct sizes, span, and coverage of
    the global distinct-size count in bp) — the assortment-planning
    complement to q_brand_breadth. Two bounded aggregations; the
    1-row global distinct-size leg joins back as a broadcast scalar
    cross (plan-lint NLJ allowlist — bounded by construction); shares
    are exact bp floors."""
    p = load_table(spark, sf_dir, "part")
    per_brand = p.groupBy(F.col("p_brand").alias("brand")).agg(
        F.countDistinct("p_size").cast("long").alias("n_sizes"),
        F.min("p_size").cast("long").alias("size_min"),
        F.max("p_size").cast("long").alias("size_max"),
        F.count("*").cast("long").alias("n_parts"),
    )
    g = p.agg(F.countDistinct("p_size").cast("long").alias("g_sizes"))
    return (
        per_brand.crossJoin(F.broadcast(g))
        .select(
            "brand",
            "n_parts",
            "n_sizes",
            "size_min",
            "size_max",
            F.expr("CAST(n_sizes * 10000 div g_sizes AS BIGINT)").alias(
                "coverage_bp"
            ),
        )
        .orderBy("brand")
    )


@query(
    "q_price_band_return",
    oracle="""
    WITH j AS (
        SELECT least(greatest(CAST(floor(p.p_retailprice * 100 + 0.5)
                                   AS BIGINT) // 1000 - 90,
                              CAST(0 AS BIGINT)),
                     CAST(9 AS BIGINT)) AS price_band,
               CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
               CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS r
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    )
    SELECT price_band,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(r) * 10000 // count(*) AS BIGINT) AS return_bp,
           CAST(sum(CASE WHEN r = 1 THEN cents ELSE 0 END) * 10000
                // sum(cents) AS BIGINT) AS value_return_bp
    FROM j
    GROUP BY price_band
    ORDER BY price_band
    """,
)
def q_price_band_return(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return incidence by catalog price band: line-count and
    value-weighted return shares across fixed $10 list-price bands
    (the catalog prices span 900-1000; the band is an exact integer
    floor chain anchored at $900, clamped to [0, 9] so a catalog
    refresh cannot push rows off the grid) — do pricier variants come
    back more, and does the value answer differ from the count answer
    (q_returns_value slices by calendar; this slices by price point).
    One join, one grouped pass, exact bp floors."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(p, li["l_partkey"] == p["p_partkey"]).select(
        F.expr(
            "least(greatest(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)"
            " div 1000 - 90, CAST(0 AS BIGINT)), CAST(9 AS BIGINT))"
        ).alias("price_band"),
        F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("r"),
    )
    return (
        j.groupBy("price_band")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.expr("CAST(sum(r) * 10000 div count(*) AS BIGINT)").alias(
                "return_bp"
            ),
            F.expr(
                "CAST(sum(CASE WHEN r = 1 THEN cents ELSE 0 END) * 10000"
                " div sum(cents) AS BIGINT)"
            ).alias("value_return_bp"),
        )
        .orderBy("price_band")
    )


@query(
    "q_quantity_return_link",
    oracle="""
    WITH j AS (
        SELECT (CAST(floor(l_quantity + 0.5) AS BIGINT) - 1) // 10
                   AS qty_band,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS r
        FROM lineitem
    )
    SELECT qty_band,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(r) * 10000 // count(*) AS BIGINT) AS return_bp,
           CAST(sum(CASE WHEN r = 1 THEN cents ELSE 0 END) * 10000
                // sum(cents) AS BIGINT) AS value_return_bp
    FROM j
    GROUP BY qty_band
    ORDER BY qty_band
    """,
)
def q_quantity_return_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return incidence by ORDER QUANTITY band (1-10, 11-20, … 41-50):
    do bulk lines come back at different rates, by count and by value
    — the operational complement to q_price_band_return on the
    quantity axis (bulk returns cost disproportionate freight). The
    band is exact integer arithmetic on the integral quantity
    (floored before the cast — the CLAUDE.md cast-divergence rule);
    one grouped pass over lineitem, no join, exact bp floors."""
    li = load_table(spark, sf_dir, "lineitem")
    j = li.select(
        F.expr(
            "(CAST(floor(l_quantity + 0.5) AS BIGINT) - 1) div 10"
        ).alias("qty_band"),
        F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("r"),
    )
    return (
        j.groupBy("qty_band")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.expr("CAST(sum(r) * 10000 div count(*) AS BIGINT)").alias(
                "return_bp"
            ),
            F.expr(
                "CAST(sum(CASE WHEN r = 1 THEN cents ELSE 0 END) * 10000"
                " div sum(cents) AS BIGINT)"
            ).alias("value_return_bp"),
        )
        .orderBy("qty_band")
    )


# ---------------------------------------------------------------------------
# Tranche 5 — cross-table integrity & referential audits: the checks a
# data platform runs on every snapshot before anything downstream is
# allowed to trust it.
# ---------------------------------------------------------------------------


@query(
    "q_name_key_consistency",
    oracle="""
    WITH checks AS (
        SELECT 'customer' AS relation,
               CASE WHEN c_name = concat('Customer#',
                        lpad(CAST(c_custkey AS VARCHAR), 9, '0'))
                    THEN 1 ELSE 0 END AS ok
        FROM customer
        UNION ALL
        SELECT 'supplier',
               CASE WHEN s_name = concat('Supplier#',
                        lpad(CAST(s_suppkey AS VARCHAR), 9, '0'))
                    THEN 1 ELSE 0 END
        FROM supplier
    )
    SELECT relation,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(ok) AS BIGINT) AS n_match,
           CAST(sum(ok) * 10000 // count(*) AS BIGINT) AS match_bp
    FROM checks
    GROUP BY relation
    ORDER BY relation
    """,
)
def q_name_key_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denormalized-field integrity: the display name of every
    customer and supplier must embed its own key ('Customer#' +
    9-digit zero-padded custkey — the generator's contract). A
    mismatch means the name and the key were updated independently —
    the classic denormalization drift every warehouse audit greps
    for. One union of two projections, one grouped pass, exact bp;
    string building is locale-free concat/lpad identical in both
    engines."""
    c = load_table(spark, sf_dir, "customer").select(
        F.lit("customer").alias("relation"),
        F.when(
            F.col("c_name")
            == F.concat(
                F.lit("Customer#"),
                F.lpad(F.col("c_custkey").cast("string"), 9, "0"),
            ),
            1,
        )
        .otherwise(0)
        .alias("ok"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("relation"),
        F.when(
            F.col("s_name")
            == F.concat(
                F.lit("Supplier#"),
                F.lpad(F.col("s_suppkey").cast("string"), 9, "0"),
            ),
            1,
        )
        .otherwise(0)
        .alias("ok"),
    )
    return (
        c.unionByName(s)
        .groupBy("relation")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("ok").cast("long").alias("n_match"),
            F.expr("CAST(sum(ok) * 10000 div count(*) AS BIGINT)").alias(
                "match_bp"
            ),
        )
        .orderBy("relation")
    )


@query(
    "q_acctbal_percentiles",
    oracle="""
    WITH v AS (
        SELECT c_mktsegment AS segment,
               CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents,
               c_custkey
        FROM customer
    ),
    ranked AS (
        SELECT segment, cents,
               CAST(row_number() OVER (
                   PARTITION BY segment ORDER BY cents, c_custkey)
                   AS BIGINT) AS rn,
               CAST(count(*) OVER (PARTITION BY segment) AS BIGINT) AS n
        FROM v
    )
    SELECT segment,
           CAST(max(n) AS BIGINT) AS n_customers,
           CAST(max(CASE WHEN rn = greatest(1, n * 10 // 100)
                         THEN cents END) AS BIGINT) AS p10_cents,
           CAST(max(CASE WHEN rn = greatest(1, n * 50 // 100)
                         THEN cents END) AS BIGINT) AS p50_cents,
           CAST(max(CASE WHEN rn = greatest(1, n * 90 // 100)
                         THEN cents END) AS BIGINT) AS p90_cents
    FROM ranked
    GROUP BY segment
    ORDER BY segment
    """,
)
def q_acctbal_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT account-balance deciles per market segment (p10/p50/p90,
    rank-selected with the (cents, custkey) tie-break) — the credit-
    exposure summary behind q_supplier_balance_risk's flags, computed
    without approx_percentile so the oracle replays it bit-for-bit.
    Balances can be NEGATIVE: floor(x·100 + 0.5) of a negative double
    is the same value in both engines (floor, not cast — the CLAUDE.md
    divergence rule). Ranks come from the partitioned ranking operator
    (5 bounded segment keys, row-proportional partitions)."""
    from mapreduce_llm_spark.operators.ranking import partitioned_row_number

    c = load_table(spark, sf_dir, "customer")
    v = c.select(
        F.col("c_mktsegment").alias("segment"),
        F.expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").alias("cents"),
        "c_custkey",
    )
    ranked = partitioned_row_number(
        v, ["segment"], [F.col("cents"), F.col("c_custkey")], alias="rn"
    )
    counts = ranked.groupBy("segment").agg(
        F.count("*").cast("long").alias("n")
    )
    return (
        ranked.join(F.broadcast(counts), "segment")
        .groupBy("segment")
        .agg(
            F.max("n").cast("long").alias("n_customers"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("greatest(1, n * 10 div 100)"),
                    F.col("cents"),
                )
            )
            .cast("long")
            .alias("p10_cents"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("greatest(1, n * 50 div 100)"),
                    F.col("cents"),
                )
            )
            .cast("long")
            .alias("p50_cents"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("greatest(1, n * 90 div 100)"),
                    F.col("cents"),
                )
            )
            .cast("long")
            .alias("p90_cents"),
        )
        .orderBy("segment")
    )


@query(
    "q_region_acct_net",
    oracle="""
    WITH cb AS (
        SELECT n.n_regionkey AS rk,
               CAST(count(*) AS BIGINT) AS n_cust,
               CAST(sum(CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS cust_cents
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_regionkey
    ),
    sb AS (
        SELECT n.n_regionkey AS rk,
               CAST(count(*) AS BIGINT) AS n_supp,
               CAST(sum(CAST(floor(s.s_acctbal * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS supp_cents
        FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_regionkey
    )
    SELECT r.r_name AS region,
           cb.n_cust, cb.cust_cents, sb.n_supp, sb.supp_cents,
           cb.cust_cents - sb.supp_cents AS net_cents
    FROM region r
    JOIN cb ON cb.rk = r.r_regionkey
    JOIN sb ON sb.rk = r.r_regionkey
    ORDER BY region
    """,
)
def q_region_acct_net(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regional balance sheet: customer account mass vs supplier
    account mass per region, and the signed net — which regions the
    book is long (q_nation_trade_balance nets FLOWS; this nets the
    STANDING balances). Two independent grouped sums roll up through
    broadcast nation/region joins; balances can be negative so cents
    are floor(x·100 + 0.5) (sign-exact both engines) and the net is a
    plain int64 difference — no division anywhere, nothing to
    round."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    cb = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_regionkey").alias("rk"))
        .agg(
            F.count("*").cast("long").alias("n_cust"),
            F.sum(F.expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)"))
            .cast("long")
            .alias("cust_cents"),
        )
    )
    sb = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_regionkey").alias("rk2"))
        .agg(
            F.count("*").cast("long").alias("n_supp"),
            F.sum(F.expr("CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)"))
            .cast("long")
            .alias("supp_cents"),
        )
    )
    return (
        cb.join(sb, cb["rk"] == sb["rk2"])
        .join(F.broadcast(r), cb["rk"] == r["r_regionkey"])
        .select(
            F.col("r_name").alias("region"),
            "n_cust",
            "cust_cents",
            "n_supp",
            "supp_cents",
            (F.col("cust_cents") - F.col("supp_cents")).alias("net_cents"),
        )
        .orderBy("region")
    )


@query(
    "q_date_sanity",
    oracle="""
    WITH j AS (
        SELECT date_diff('day', o.o_orderdate, l.l_shipdate) AS lead_days
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN lead_days < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ship_before_order,
           CAST(sum(CASE WHEN lead_days < 0 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS violation_bp,
           CAST(sum(CASE WHEN lead_days = 0 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS same_day_bp,
           CAST(min(lead_days) AS BIGINT) AS min_lead_days,
           CAST(max(lead_days) AS BIGINT) AS max_lead_days
    FROM j
    """,
)
def q_date_sanity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal referential audit: lines shipped BEFORE their order
    existed (a hard causality violation the generator does not in
    fact prevent — the audit quantifies it rather than assuming it
    away), same-day shipments, and the lead-time envelope. One
    fact-to-fact equi-join on orderkey (co-partitioned at scale), one
    scalar pass, exact day arithmetic on date_diff — no floats
    anywhere."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias(
            "lead_days"
        )
    )
    return j.agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.when(F.col("lead_days") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_ship_before_order"),
        F.expr(
            "CAST(sum(CASE WHEN lead_days < 0 THEN 1 ELSE 0 END) * 10000"
            " div count(*) AS BIGINT)"
        ).alias("violation_bp"),
        F.expr(
            "CAST(sum(CASE WHEN lead_days = 0 THEN 1 ELSE 0 END) * 10000"
            " div count(*) AS BIGINT)"
        ).alias("same_day_bp"),
        F.min("lead_days").cast("long").alias("min_lead_days"),
        F.max("lead_days").cast("long").alias("max_lead_days"),
    )


@query(
    "q_embed_coverage",
    oracle="""
    WITH j AS (
        SELECT d.doc_id, e.vec_id
        FROM documents d
        FULL OUTER JOIN embeddings e ON d.doc_id = e.vec_id
    )
    SELECT CAST(sum(CASE WHEN doc_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN vec_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_vecs,
           CAST(sum(CASE WHEN doc_id IS NOT NULL AND vec_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(sum(CASE WHEN vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_doc_only,
           CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_vec_only
    FROM j
    """,
)
def q_embed_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-coverage reconciliation: the full-outer ledger
    between the document corpus and the embedding table on the shared
    id space — how many docs lack a vector (stale embedding job) and
    how many vectors lack a doc (deleted docs, leaked rows). The
    question every retrieval index rebuild starts with; one full
    outer equi-join (hash-partitioned on the id at scale) folded to a
    single exact-count row."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    e = load_table(spark, sf_dir, "embeddings").select("vec_id")
    j = d.join(e, d["doc_id"] == e["vec_id"], "full_outer")
    return j.agg(
        F.sum(F.when(F.col("doc_id").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_docs"),
        F.sum(F.when(F.col("vec_id").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_vecs"),
        F.sum(
            F.when(
                F.col("doc_id").isNotNull() & F.col("vec_id").isNotNull(), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_matched"),
        F.sum(F.when(F.col("vec_id").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_doc_only"),
        F.sum(F.when(F.col("doc_id").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_vec_only"),
    )


# ---------------------------------------------------------------------------
# Tranche 6 — order time-series shape: structural breaks, seasonal
# peaks, rolling co-movement, momentum, and calendar normalization.
# ---------------------------------------------------------------------------


@query(
    "q_slope_break",
    oracle="""
    WITH monthly AS (
        SELECT c.c_mktsegment AS segment,
               CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP) AS m,
               CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS v
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment, date_trunc('month', o.o_orderdate)
    ),
    indexed AS (
        SELECT segment, v,
               CAST(row_number() OVER (
                   PARTITION BY segment ORDER BY m) AS BIGINT) AS x,
               CAST(count(*) OVER (PARTITION BY segment) AS BIGINT) AS nm
        FROM monthly
    ),
    halves AS (
        SELECT segment, nm,
               CASE WHEN x <= nm // 2 THEN 0 ELSE 1 END AS half,
               x, v
        FROM indexed
    ),
    sums AS (
        SELECT segment, half, max(nm) AS nm,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(v) AS BIGINT) AS sv,
               CAST(sum(x * v) AS BIGINT) AS sxv,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM halves
        GROUP BY segment, half
    ),
    slopes AS (
        SELECT segment, half, nm,
               CAST(CASE WHEN n * sxx - sx * sx > 0 THEN
                    floor(CAST(n * sxv - sx * sv AS DOUBLE)
                          / CAST(n * sxx - sx * sx AS DOUBLE))
                    END AS BIGINT) AS slope
        FROM sums
    )
    SELECT a.segment,
           CAST(max(a.nm) AS BIGINT) AS n_months,
           CAST(max(CASE WHEN a.half = 0 THEN a.slope END) AS BIGINT)
               AS slope_first_cents,
           CAST(max(CASE WHEN a.half = 1 THEN a.slope END) AS BIGINT)
               AS slope_second_cents,
           CAST(max(CASE WHEN a.half = 1 THEN a.slope END)
                - max(CASE WHEN a.half = 0 THEN a.slope END) AS BIGINT)
               AS slope_delta_cents
    FROM slopes a
    GROUP BY a.segment
    ORDER BY a.segment
    """,
)
def q_slope_break(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural-break screen per market segment: the exact OLS slope
    of monthly order value over the FIRST half of the series vs the
    SECOND, and the signed delta — the one-table answer to "did this
    segment's trend change mid-history" (q_value_trend_ols fits one
    global slope; a break makes that single number a lie). The
    q_value_trend_ols integer-moment discipline per half: x ≤ ~80
    keeps every moment sum exact int64, each slope is one
    int64→double divide under floor with the zero-variance guard; the
    month index is a keyed window over the calendar-bounded monthly
    frame."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    monthly = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.date_trunc("month", "o_orderdate").alias("m"),
        )
        .agg(
            F.sum(F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
            .cast("long")
            .alias("v")
        )
    )
    wseg = Window.partitionBy("segment")
    indexed = monthly.select(
        "segment",
        "v",
        F.row_number()
        .over(Window.partitionBy("segment").orderBy("m"))
        .cast("long")
        .alias("x"),
        F.count("*").over(wseg).cast("long").alias("nm"),
    )
    halves = indexed.select(
        "segment",
        "nm",
        F.when(F.col("x") <= F.expr("nm div 2"), 0).otherwise(1).alias("half"),
        "x",
        "v",
    )
    sums = halves.groupBy("segment", "half").agg(
        F.max("nm").alias("nm"),
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("v").cast("long").alias("sv"),
        F.sum(F.col("x") * F.col("v")).cast("long").alias("sxv"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    slopes = sums.select(
        "segment",
        "half",
        "nm",
        F.expr(
            "CAST(CASE WHEN n * sxx - sx * sx > 0 THEN"
            " floor(CAST(n * sxv - sx * sv AS DOUBLE)"
            " / CAST(n * sxx - sx * sx AS DOUBLE)) END AS BIGINT)"
        ).alias("slope"),
    )
    return (
        slopes.groupBy("segment")
        .agg(
            F.max("nm").cast("long").alias("n_months"),
            F.max(F.when(F.col("half") == 0, F.col("slope")))
            .cast("long")
            .alias("slope_first_cents"),
            F.max(F.when(F.col("half") == 1, F.col("slope")))
            .cast("long")
            .alias("slope_second_cents"),
            (
                F.max(F.when(F.col("half") == 1, F.col("slope")))
                - F.max(F.when(F.col("half") == 0, F.col("slope")))
            )
            .cast("long")
            .alias("slope_delta_cents"),
        )
        .orderBy("segment")
    )


@query(
    "q_peak_month",
    oracle="""
    WITH monthly AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(month(o_orderdate) AS BIGINT) AS mon,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS v
        FROM orders
        GROUP BY year(o_orderdate), month(o_orderdate)
    ),
    shares AS (
        SELECT yr, mon, v,
               CAST(sum(v) OVER (PARTITION BY yr) AS BIGINT) AS ytot,
               CAST(v * 10000 // sum(v) OVER (PARTITION BY yr) AS BIGINT)
                   AS share_bp
        FROM monthly
    )
    SELECT yr,
           CAST(max(ytot) AS BIGINT) AS year_cents,
           CAST(count(*) AS BIGINT) AS n_months,
           CAST(max(share_bp * 100 + mon) % 100 AS BIGINT) AS peak_month,
           CAST(max(share_bp * 100 + mon) // 100 AS BIGINT)
               AS peak_share_bp
    FROM shares
    GROUP BY yr
    ORDER BY yr
    """,
)
def q_peak_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal concentration per year: which month carries the
    largest value share, and how large it is — the inventory-
    prebuild calendar (q_monthly_seasonality averages the month
    profile ACROSS years; this names each year's actual peak, so a
    migrating peak is visible). Shares are exact bp floors over the
    ≤12-row per-year frame; the peak is the packed nonneg-integer
    argmax (share_bp·100 + month — the q_kmeans_step rule; ties
    resolve to the later month identically in both engines, all
    integer)."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mon"),
    ).agg(
        F.sum(F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
        .cast("long")
        .alias("v")
    )
    wy = Window.partitionBy("yr")
    shares = monthly.select(
        "yr",
        "mon",
        "v",
        F.sum("v").over(wy).cast("long").alias("ytot"),
        F.expr("CAST(v * 10000 div sum(v) OVER (PARTITION BY yr) AS BIGINT)").alias(
            "share_bp"
        ),
    )
    return (
        shares.groupBy("yr")
        .agg(
            F.max("ytot").cast("long").alias("year_cents"),
            F.count("*").cast("long").alias("n_months"),
            (F.max(F.col("share_bp") * 100 + F.col("mon")) % 100)
            .cast("long")
            .alias("peak_month"),
            F.expr("CAST(max(share_bp * 100 + mon) div 100 AS BIGINT)").alias(
                "peak_share_bp"
            ),
        )
        .orderBy("yr")
    )

@query(
    "q_rolling_corr",
    oracle="""
    WITH monthly AS (
        SELECT c.c_mktsegment AS segment,
               CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP) AS m,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS v
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment, date_trunc('month', o.o_orderdate)
    ),
    indexed AS (
        SELECT segment, m, cnt, v,
               CAST(row_number() OVER (
                   PARTITION BY segment ORDER BY m) AS BIGINT) AS rn
        FROM monthly
    )
    SELECT b.segment, b.m,
           round(corr(CAST(w.cnt AS DOUBLE), CAST(w.v AS DOUBLE)), 4) + 0.0
               AS corr6
    FROM indexed b
    JOIN indexed w
      ON w.segment = b.segment AND w.rn BETWEEN b.rn - 5 AND b.rn
    WHERE b.rn >= 6
    GROUP BY b.segment, b.m
    ORDER BY b.segment, b.m
    """,
)
def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-month rolling correlation between order COUNT and order
    VALUE per segment: does volume still predict revenue, month by
    month — a decoupling (corr collapsing) flags a mix shift that the
    static q_agg_corr can't time-localize. The 6-month frame is
    materialized as a range self-join of the CALENDAR-BOUNDED monthly
    series (~400 rows at any SF — the broadcast nested-loop is a
    bounded grid, plan-lint NLJ allowlist), then the grouped corr fold
    (the q_agg_corr precedent; Spark's ANSI windowed corr raises
    DIVIDE_BY_ZERO on the unavoidable 1-row warm-up frames, so the
    window form is not portable), round(,4) with the -0.0
    normalizer."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    monthly = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.date_trunc("month", "o_orderdate").alias("m"),
        )
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum(F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
            .cast("long")
            .alias("v"),
        )
    )
    indexed = monthly.select(
        "segment",
        "m",
        "cnt",
        "v",
        F.row_number()
        .over(Window.partitionBy("segment").orderBy("m"))
        .cast("long")
        .alias("rn"),
    )
    b = indexed.select(
        F.col("segment").alias("bseg"), F.col("m").alias("m"), F.col("rn").alias("brn")
    ).where(F.col("brn") >= 6)
    wnd = indexed.select(
        F.col("segment").alias("wseg"),
        F.col("rn").alias("wrn"),
        F.col("cnt").alias("wcnt"),
        F.col("v").alias("wv"),
    )
    j = b.join(
        wnd,
        (F.col("wseg") == F.col("bseg"))
        & (F.col("wrn") >= F.col("brn") - 5)
        & (F.col("wrn") <= F.col("brn")),
    )
    return (
        j.groupBy(F.col("bseg").alias("segment"), "m")
        .agg(
            F.round(
                F.corr(
                    F.col("wcnt").cast("double"), F.col("wv").cast("double")
                )
                + F.lit(0.0),
                4,
            ).alias("corr6")
        )
        .orderBy("segment", "m")
    )


@query(
    "q_momentum_flips",
    oracle="""
    WITH monthly AS (
        SELECT c.c_mktsegment AS segment,
               CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP) AS m,
               CAST(count(*) AS BIGINT) AS cnt
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment, date_trunc('month', o.o_orderdate)
    ),
    diffs AS (
        SELECT segment, m,
               cnt - lag(cnt) OVER (PARTITION BY segment ORDER BY m) AS d
        FROM monthly
    ),
    signs AS (
        SELECT segment, m,
               CASE WHEN d > 0 THEN 1 ELSE -1 END AS s
        FROM diffs
        WHERE d IS NOT NULL AND d <> 0
    ),
    runs AS (
        SELECT segment, s,
               lag(s) OVER (PARTITION BY segment ORDER BY m) AS prev_s
        FROM signs
    )
    SELECT d.segment,
           CAST(count(*) AS BIGINT) AS n_changes,
           CAST(sum(CASE WHEN d.d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
           CAST(sum(CASE WHEN d.d < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
           (SELECT CAST(count(*) AS BIGINT) FROM runs r
            WHERE r.segment = d.segment
              AND r.prev_s IS NOT NULL AND r.s <> r.prev_s) AS n_flips
    FROM diffs d
    WHERE d.d IS NOT NULL AND d.d <> 0
    GROUP BY d.segment
    ORDER BY d.segment
    """,
)
def q_momentum_flips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Momentum reversals per segment: over the monthly order-count
    series, how many month-over-month movements there are, their
    up/down split, and how often the DIRECTION flips — a flip count
    near n_changes−1 is mean reversion (noise), a low one is real
    momentum (q_monotone_runs measures the longest streaks on the
    events series; this counts regime changes on orders). Two lag
    windows over the calendar-bounded monthly frame; zero diffs drop
    before the flip pairing so a flat month cannot manufacture two
    flips. All exact integers."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    monthly = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.date_trunc("month", "o_orderdate").alias("m"),
        )
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    w = Window.partitionBy("segment").orderBy("m")
    diffs = monthly.select(
        "segment",
        "m",
        (F.col("cnt") - F.lag("cnt").over(w)).alias("d"),
    ).where(F.col("d").isNotNull() & (F.col("d") != 0))
    signs = diffs.select(
        "segment",
        "m",
        F.when(F.col("d") > 0, 1).otherwise(-1).alias("s"),
    )
    runs = signs.select(
        "segment",
        "s",
        F.lag("s").over(Window.partitionBy("segment").orderBy("m")).alias(
            "prev_s"
        ),
    )
    flips = runs.where(
        F.col("prev_s").isNotNull() & (F.col("s") != F.col("prev_s"))
    ).groupBy("segment").agg(F.count("*").cast("long").alias("n_flips"))
    base = diffs.groupBy("segment").agg(
        F.count("*").cast("long").alias("n_changes"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_up"),
        F.sum(F.when(F.col("d") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_down"),
    )
    return (
        base.join(flips, "segment", "left")
        .select(
            "segment",
            "n_changes",
            "n_up",
            "n_down",
            F.coalesce("n_flips", F.lit(0)).cast("long").alias("n_flips"),
        )
        .orderBy("segment")
    )


@query(
    "q_per_day_rate",
    oracle="""
    WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders
        GROUP BY date_trunc('month', o_orderdate)
    ),
    rated AS (
        SELECT m, n_orders,
               CAST(date_diff('day', m, m + INTERVAL 1 MONTH) AS BIGINT)
                   AS days_in_month,
               CAST(n_orders * 100 //
                    date_diff('day', m, m + INTERVAL 1 MONTH) AS BIGINT)
                   AS rate_e2
        FROM monthly
    )
    SELECT m, n_orders, days_in_month, rate_e2,
           CAST(row_number() OVER (ORDER BY n_orders DESC, m)
                - row_number() OVER (ORDER BY rate_e2 DESC, m) AS BIGINT)
               AS rank_shift
    FROM rated
    ORDER BY m
    """,
)
def q_per_day_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-length normalization: monthly order counts vs the
    per-day RATE (count·100 // days-in-month, exact e2), and how many
    rank positions each month moves once February stops being
    penalized for being short — the correction every month-over-month
    report needs before declaring a dip. Day counts come from exact
    date arithmetic (month-start to next month-start); both rankings
    are row_number with the month tie-break over the calendar-bounded
    monthly frame (≤ ~84 rows at any SF — the single-task window is
    bounded by construction, never row-proportional)."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(F.count("*").cast("long").alias("n_orders"))
    rated = monthly.select(
        "m",
        "n_orders",
        F.datediff(F.add_months(F.col("m"), 1), F.col("m"))
        .cast("long")
        .alias("days_in_month"),
        F.expr(
            "CAST(n_orders * 100 div"
            " datediff(add_months(m, 1), m) AS BIGINT)"
        ).alias("rate_e2"),
    )
    wcal = Window.partitionBy(F.pmod(F.col("n_orders"), F.lit(1)))
    return rated.select(
        "m",
        "n_orders",
        "days_in_month",
        "rate_e2",
        (
            F.row_number().over(wcal.orderBy(F.col("n_orders").desc(), "m"))
            - F.row_number().over(wcal.orderBy(F.col("rate_e2").desc(), "m"))
        )
        .cast("long")
        .alias("rank_shift"),
    ).orderBy("m")


# ---------------------------------------------------------------------------
# Tranche 7 — LLM data-prep planning: packing efficiency, dataset
# cards, curriculum schedules, duplicate-cluster mass, lexical rank
# scores.
# ---------------------------------------------------------------------------


@query(
    "q_packing_bound",
    oracle="""
    WITH toks AS (
        SELECT len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                               w -> w <> '')) AS tok
        FROM documents
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(tok) AS BIGINT) AS total_tok,
               CAST(sum((tok + 63) // 64) AS BIGINT) AS naive64,
               CAST(sum((tok + 127) // 128) AS BIGINT) AS naive128,
               CAST(sum((tok + 255) // 256) AS BIGINT) AS naive256
        FROM toks
    )
    SELECT budget, n_docs, total_tok, naive_chunks,
           CAST((total_tok + budget - 1) // budget AS BIGINT) AS lower_bound,
           CAST((naive_chunks - (total_tok + budget - 1) // budget) * 10000
                // ((total_tok + budget - 1) // budget) AS BIGINT)
               AS slack_bp
    FROM (
        SELECT CAST(64 AS BIGINT) AS budget, n_docs, total_tok,
               naive64 AS naive_chunks FROM agg
        UNION ALL
        SELECT CAST(128 AS BIGINT), n_docs, total_tok, naive128 FROM agg
        UNION ALL
        SELECT CAST(256 AS BIGINT), n_docs, total_tok, naive256 FROM agg
    )
    ORDER BY budget
    """,
)
def q_packing_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing headroom under token budgets 64/128/256: the
    naive one-doc-per-chunk count Σ⌈tok/b⌉ against the bin-packing
    LOWER bound ⌈Σtok/b⌉, and the slack between them in bp — how much
    compute a packer (operators/packing.py, rows-gated) can possibly
    recover at each context length, BEFORE running one. The whole
    sweep is one pass with three conditional ceil-division sums
    unpivoted to rows (the q_session_threshold_sweep pattern — no
    grid cross); everything is exact integer ceil/floor division."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.size(alpha_words(F.col("text"))).cast("long").alias("tok"))
    agg = toks.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("total_tok"),
        F.sum(F.expr("(tok + 63) div 64")).cast("long").alias("naive64"),
        F.sum(F.expr("(tok + 127) div 128")).cast("long").alias("naive128"),
        F.sum(F.expr("(tok + 255) div 256")).cast("long").alias("naive256"),
    )
    swept = agg.selectExpr(
        "stack(3,"
        " CAST(64 AS BIGINT), naive64,"
        " CAST(128 AS BIGINT), naive128,"
        " CAST(256 AS BIGINT), naive256"
        ") AS (budget, naive_chunks)",
        "n_docs",
        "total_tok",
    )
    return swept.select(
        "budget",
        "n_docs",
        "total_tok",
        "naive_chunks",
        F.expr("CAST((total_tok + budget - 1) div budget AS BIGINT)").alias(
            "lower_bound"
        ),
        F.expr(
            "CAST((naive_chunks - (total_tok + budget - 1) div budget)"
            " * 10000 div ((total_tok + budget - 1) div budget) AS BIGINT)"
        ).alias("slack_bp"),
    ).orderBy("budget")


@query(
    "q_source_card",
    oracle="""
    WITH per_doc AS (
        SELECT source, lang, n_chars,
               len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                               w -> w <> '')) AS tok
        FROM documents
    ),
    card AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(tok) AS BIGINT) AS n_tokens,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(sum(n_chars) * 100 // count(*) AS BIGINT)
                   AS mean_chars_e2
        FROM per_doc
        GROUP BY source
    )
    SELECT source, n_docs, n_tokens, n_langs, mean_chars_e2,
           CAST(n_tokens * 10000 // sum(n_tokens) OVER () AS BIGINT)
               AS token_share_bp
    FROM card
    ORDER BY source
    """,
)
def q_source_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-pass dataset card per source: docs, tokens, language
    breadth, mean document length, and the source's share of total
    token mass — the summary table a mixture-weights decision
    (q_mix_weights, q_data_budget) is made FROM. One grouped pass
    over a tokenized projection, the corpus total as a window over
    the ≤|sources| card frame, exact integer e2/bp floors."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        "lang",
        "n_chars",
        F.size(alpha_words(F.col("text"))).cast("long").alias("tok"),
    )
    card = per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("n_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.expr("CAST(sum(n_chars) * 100 div count(*) AS BIGINT)").alias(
            "mean_chars_e2"
        ),
    )
    w = Window.partitionBy(F.pmod(F.col("n_docs"), F.lit(1)))
    return card.select(
        "source",
        "n_docs",
        "n_tokens",
        "n_langs",
        "mean_chars_e2",
        F.expr(
            "CAST(n_tokens * 10000 div sum(n_tokens) OVER"
            " (PARTITION BY pmod(n_docs, 1)) AS BIGINT)"
        ).alias("token_share_bp"),
    ).orderBy("source")


@query(
    "q_curriculum_schedule",
    oracle="""
    WITH per_doc AS (
        SELECT least(n_chars // 64, CAST(9 AS BIGINT)) AS band,
               len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                               w -> w <> '')) AS tok,
               len(list_distinct(list_filter(
                   regexp_split_to_array(lower(text), '[^a-z]+'),
                   w -> w <> ''))) AS dtok
        FROM documents
    ),
    banded AS (
        SELECT band,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(tok) AS BIGINT) AS n_tokens,
               CAST(sum(dtok) * 10000 // sum(tok) AS BIGINT)
                   AS pooled_ttr_bp
        FROM per_doc
        GROUP BY band
    )
    SELECT band, n_docs, n_tokens, pooled_ttr_bp,
           CAST(sum(n_tokens) OVER (ORDER BY band
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 10000
                // sum(n_tokens) OVER () AS BIGINT) AS cum_token_bp
    FROM banded
    ORDER BY band
    """,
)
def q_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-curriculum schedule: documents banded into fixed 64-char
    length bands (capped at band 9), each band's token mass, pooled
    type-token ratio, and the CUMULATIVE token share if training
    consumed bands short-to-long — the table a curriculum sampler is
    configured from (short docs first is the classic warm-up; the cum
    column says how many tokens that buys). Exact integer banding and
    bp floors; the cumulative share is an ordered ROWS frame over the
    ≤10-row band frame (deterministic summation order)."""
    docs = load_table(spark, sf_dir, "documents")
    ws = alpha_words(F.col("text"))
    per_doc = docs.select(
        F.expr("least(n_chars div 64, CAST(9 AS BIGINT))").alias("band"),
        F.size(ws).cast("long").alias("tok"),
        F.size(F.array_distinct(ws)).cast("long").alias("dtok"),
    )
    banded = per_doc.groupBy("band").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("n_tokens"),
        F.expr("CAST(sum(dtok) * 10000 div sum(tok) AS BIGINT)").alias(
            "pooled_ttr_bp"
        ),
    )
    wb = Window.partitionBy(F.pmod(F.col("n_docs"), F.lit(1)))
    return banded.select(
        "band",
        "n_docs",
        "n_tokens",
        "pooled_ttr_bp",
        F.expr(
            "CAST(sum(n_tokens) OVER (PARTITION BY pmod(n_docs, 1)"
            " ORDER BY band ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            " * 10000 div sum(n_tokens) OVER (PARTITION BY pmod(n_docs, 1))"
            " AS BIGINT)"
        ).alias("cum_token_bp"),
    ).orderBy("band")


@query(
    "q_dup_size_hist",
    oracle="""
    WITH clusters AS (
        SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS k
        FROM documents
        GROUP BY md5(text)
    ),
    tot AS (
        SELECT CAST(sum(k) AS BIGINT) AS n_docs FROM clusters
    )
    SELECT c.k AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(count(*) * c.k AS BIGINT) AS n_docs_in,
           CAST(count(*) * c.k * 10000 // max(t.n_docs) AS BIGINT)
               AS doc_share_bp
    FROM clusters c, tot t
    GROUP BY c.k
    ORDER BY c.k
    """,
)
def q_dup_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate cluster-size histogram: group documents by
    content hash, then histogram the cluster sizes — how much of the
    corpus sits in singletons vs k-way copies (q_dedup_exact removes
    duplicates; q_dedup_savings prices them; this shows the SHAPE,
    which decides whether near-dup work is even worth scheduling).
    Content identity via md5 (the cross-engine fingerprint basis —
    xxhash64 has no DuckDB twin); two grouped passes, a 1-row total
    leg as a broadcast scalar cross (plan-lint NLJ allowlist), exact bp
    floors."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = docs.groupBy(F.md5(F.col("text")).alias("h")).agg(
        F.count("*").cast("long").alias("k")
    )
    tot = clusters.agg(F.sum("k").cast("long").alias("n_docs"))
    return (
        clusters.crossJoin(F.broadcast(tot))
        .groupBy(F.col("k").alias("cluster_size"))
        .agg(
            F.count("*").cast("long").alias("n_clusters"),
            (F.count("*") * F.col("cluster_size")).cast("long").alias("n_docs_in"),
            F.expr(
                "CAST(count(*) * cluster_size * 10000 div max(n_docs)"
                " AS BIGINT)"
            ).alias("doc_share_bp"),
        )
        .orderBy("cluster_size")
    )


@query(
    "q_lexical_rank_score",
    oracle="""
    WITH tok AS (
        SELECT source,
               unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
        FROM documents
    ),
    tok2 AS (SELECT source, w FROM tok WHERE w <> ''),
    vocab AS (
        SELECT w, CAST(count(*) AS BIGINT) AS n
        FROM tok2
        GROUP BY w
    ),
    ranked AS (
        SELECT w,
               CAST(row_number() OVER (ORDER BY n DESC, w) AS BIGINT) AS rk
        FROM vocab
    )
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(r.rk) * 100 // count(*) AS BIGINT) AS mean_rank_e2,
           CAST(sum(CASE WHEN r.rk <= 100 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS head100_bp
    FROM tok2 t JOIN ranked r ON t.w = r.w
    GROUP BY t.source
    ORDER BY t.source
    """,
)
def q_lexical_rank_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical sophistication per source: the occurrence-weighted mean
    corpus-frequency RANK of its tokens (exact e2) and the share of
    occurrences drawn from the top-100 head words — boilerplate
    sources live in the head, technical ones sit deep in the tail
    (q_vocab_coverage asks how much vocab covers the corpus; this
    scores each source against the shared rank scale). Vocabulary
    ranks are a deterministic (freq desc, word) total order from the
    distributed global ranking operator over the vocab frame; the
    rank join back to occurrences is equi on word; all outputs exact
    integer floors."""
    from mapreduce_llm_spark.operators.ranking import global_row_number

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(alpha_words(F.col("text"))).alias("w")
    )
    vocab = tok.groupBy("w").agg(F.count("*").cast("long").alias("n"))
    ranked = global_row_number(
        vocab, [F.col("n").desc(), F.col("w")], alias="rk"
    ).select("w", "rk")
    return (
        tok.join(ranked, "w")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.expr("CAST(sum(rk) * 100 div count(*) AS BIGINT)").alias(
                "mean_rank_e2"
            ),
            F.expr(
                "CAST(sum(CASE WHEN rk <= 100 THEN 1 ELSE 0 END) * 10000"
                " div count(*) AS BIGINT)"
            ).alias("head100_bp"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Tranche 8 — embedding geometry: dimension redundancy, label signal,
# component mass, concentration, and shell occupancy.
# ---------------------------------------------------------------------------


@query(
    "q_embed_dim_corr",
    oracle="""
    WITH flat AS (
        SELECT vec_id, i AS dim, CAST(embedding[i] AS DOUBLE) AS val
        FROM embeddings, unnest(generate_series(1, 16)) AS t(i)
    )
    SELECT CAST(a.dim AS BIGINT) AS dim_a,
           CAST(b.dim AS BIGINT) AS dim_b,
           round(corr(a.val, b.val), 4) + 0.0 AS corr_ab
    FROM flat a JOIN flat b ON a.vec_id = b.vec_id AND a.dim < b.dim
    GROUP BY a.dim, b.dim
    ORDER BY dim_a, dim_b
    """,
)
def q_embed_dim_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise correlation of the first 16 embedding dimensions (all
    120 unordered pairs): heavy off-diagonal correlation means the
    space wastes capacity and PQ/IVF codebooks (q_embed_pq, q_sim_ivf)
    should rotate first — the redundancy report behind any
    dimensionality decision. Vectors flatten to 16 rows each
    (fixed-width explode), pair via an equi self-join on vec_id
    (row-proportional, hash-partitioned; the <-predicate prunes to
    the 120-pair grid per vector), then the shared sample-corr fold
    per dim pair, round(,4) with -0.0 normalization (the corr
    class)."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", F.posexplode(F.slice("embedding", 1, 16)).alias("pos", "fv")
    ).select(
        "vec_id",
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.col("fv").cast("double").alias("val"),
    )
    a = flat.select(
        F.col("vec_id").alias("ida"), F.col("dim").alias("dim_a"), F.col("val").alias("va")
    )
    b = flat.select(
        F.col("vec_id").alias("idb"), F.col("dim").alias("dim_b"), F.col("val").alias("vb")
    )
    return (
        a.join(b, (F.col("ida") == F.col("idb")) & (F.col("dim_a") < F.col("dim_b")))
        .groupBy("dim_a", "dim_b")
        .agg(F.round(F.corr("va", "vb") + F.lit(0.0), 4).alias("corr_ab"))
        .orderBy("dim_a", "dim_b")
    )


@query(
    "q_embed_dim_anova",
    oracle="""
    WITH flat AS (
        SELECT label, i AS dim, CAST(embedding[i] AS DOUBLE) AS val
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    ),
    per_cell AS (
        SELECT dim, label,
               CAST(count(*) AS BIGINT) AS n,
               avg(val) AS m,
               var_samp(val) AS v
        FROM flat
        GROUP BY dim, label
    ),
    celled AS (
        SELECT dim, label, n, m, v,
               sum(n * m) OVER (PARTITION BY dim)
                   / sum(n) OVER (PARTITION BY dim) AS gm
        FROM per_cell
    ),
    per_dim AS (
        SELECT dim,
               CAST(sum(n) AS BIGINT) AS n_tot,
               CAST(count(*) AS BIGINT) AS k,
               sum((n - 1) * v) AS ssw,
               sum(n * (m - gm) * (m - gm)) AS ssb
        FROM celled
        GROUP BY dim
    )
    SELECT CAST(dim AS BIGINT) AS dim, n_tot,
           round(CASE WHEN ssw > 0 THEN
                 (ssb / (k - 1)) / (ssw / (n_tot - k)) END, 4) + 0.0
               AS f_stat
    FROM per_dim
    ORDER BY dim
    """,
)
def q_embed_dim_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension label signal: the one-way ANOVA F of each
    embedding coordinate across class labels — WHICH of the 64 axes
    actually separate the classes (the feature-selection table before
    training a probe; q_embed_axis_dominance finds each vector's
    loudest axis, this finds the corpus's discriminative ones).
    Per-(dim, label) moments via the shared avg/var_samp folds; the
    F statistic combines the ≤|labels| bounded cell rows per dim in
    double with the zero-variance guard, round(,4) (corr-class —
    every sum spans ≤10 similar-magnitude cells)."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "label", F.posexplode("embedding").alias("pos", "fv")
    ).select(
        "label",
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.col("fv").cast("double").alias("val"),
    )
    per_cell = flat.groupBy("dim", "label").agg(
        F.count("*").cast("long").alias("n"),
        F.avg("val").alias("m"),
        F.var_samp("val").alias("v"),
    )
    wd = Window.partitionBy("dim")
    gm = F.sum(F.col("n") * F.col("m")).over(wd) / F.sum("n").over(wd)
    celled = per_cell.withColumn("gm", gm)
    per_dim = celled.groupBy("dim").agg(
        F.sum("n").cast("long").alias("n_tot"),
        F.count("*").cast("long").alias("k"),
        F.sum((F.col("n") - 1) * F.col("v")).alias("ssw"),
        F.sum(
            F.col("n") * (F.col("m") - F.col("gm")) * (F.col("m") - F.col("gm"))
        ).alias("ssb"),
    )
    return per_dim.select(
        F.col("dim").cast("long").alias("dim"),
        "n_tot",
        F.round(
            F.when(
                F.col("ssw") > 0,
                (F.col("ssb") / (F.col("k") - 1))
                / (F.col("ssw") / (F.col("n_tot") - F.col("k"))),
            )
            + F.lit(0.0),
            4,
        ).alias("f_stat"),
    ).orderBy("dim")


@query(
    "q_embed_component_hist",
    oracle="""
    WITH flat AS (
        SELECT CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
    ),
    binned AS (
        SELECT least(greatest(CAST(floor(val * 10) AS BIGINT),
                              CAST(-10 AS BIGINT)),
                     CAST(9 AS BIGINT)) AS bin,
               CAST(count(*) AS BIGINT) AS n
        FROM flat
        GROUP BY 1
    )
    SELECT bin, n AS n_components,
           CAST(n * 10000 // sum(n) OVER () AS BIGINT) AS share_bp
    FROM binned
    ORDER BY bin
    """,
)
def q_embed_component_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global histogram of raw embedding components in fixed 0.1-wide
    bins (clamped to [-1.0, 1.0)): the quantizer-design input —
    q_embed_quantize picks a grid, this shows the mass the grid must
    cover, and a spike at the clamp bins flags un-normalized vectors.
    Binning is floor(val·10) on the double-widened component —
    identical IEEE multiply+floor both engines (the CLAUDE.md
    floor-of-multiply class); counts and shares are exact
    integers."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(F.explode("embedding").alias("fv")).select(
        F.col("fv").cast("double").alias("val")
    )
    binned = flat.groupBy(
        F.expr(
            "least(greatest(CAST(floor(val * 10) AS BIGINT),"
            " CAST(-10 AS BIGINT)), CAST(9 AS BIGINT))"
        ).alias("bin")
    ).agg(F.count("*").cast("long").alias("n"))
    return binned.select(
        "bin",
        F.col("n").alias("n_components"),
        F.expr(
            "CAST(n * 10000 div sum(n) OVER (PARTITION BY pmod(n, 1))"
            " AS BIGINT)"
        ).alias("share_bp"),
    ).orderBy("bin")


@query(
    "q_embed_topk_mass",
    oracle="""
    WITH per_vec AS (
        SELECT label,
               CAST(floor(
                   list_sum(list_slice(list_reverse_sort(
                       list_transform(embedding,
                           x -> abs(CAST(x AS DOUBLE)))), 1, 4))
                   * 10000.0
                   / list_sum(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE))))
               ) AS BIGINT) AS top4_e4
        FROM embeddings
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(top4_e4) // count(*) AS BIGINT) AS mean_top4_e4,
           CAST(min(top4_e4) AS BIGINT) AS min_top4_e4,
           CAST(max(top4_e4) AS BIGINT) AS max_top4_e4
    FROM per_vec
    GROUP BY label
    ORDER BY label
    """,
)
def q_embed_topk_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component-mass concentration per label: the share of each
    vector's L1 mass carried by its 4 largest |components|, floored
    to an exact e4 integer per row BEFORE any cross-row aggregation
    (the CLAUDE.md per-row-pin rule: means of doubles would expose
    summation order; means of int64 never do) — near-one-hot vectors
    quantize and prune cheaply, dense isotropic ones do not, so this
    is the sparsification go/no-go next to q_embed_sparsity. The
    per-row fold (transform → sort desc → slice → sum) runs JVM-side
    over the array in a deterministic order both engines share."""
    emb = load_table(spark, sf_dir, "embeddings")
    absarr = F.transform("embedding", lambda x: F.abs(x.cast("double")))
    top4 = F.slice(F.reverse(F.array_sort(absarr)), 1, 4)
    lsum = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)  # noqa: E731
    per_vec = emb.select(
        "label",
        F.floor(lsum(top4) * F.lit(10000.0) / lsum(absarr))
        .cast("long")
        .alias("top4_e4"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.expr("CAST(sum(top4_e4) div count(*) AS BIGINT)").alias(
                "mean_top4_e4"
            ),
            F.min("top4_e4").cast("long").alias("min_top4_e4"),
            F.max("top4_e4").cast("long").alias("max_top4_e4"),
        )
        .orderBy("label")
    )


@query(
    "q_embed_shells",
    oracle="""
    WITH per_vec AS (
        SELECT label,
               CAST(floor(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) * 10000.0)
                   AS BIGINT) AS norm2_e4
        FROM embeddings
    ),
    shelled AS (
        SELECT label,
               least(norm2_e4 // 2500, CAST(9 AS BIGINT)) AS shell,
               norm2_e4
        FROM per_vec
    )
    SELECT shell, label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(norm2_e4) // count(*) AS BIGINT) AS mean_norm2_e4
    FROM shelled
    GROUP BY shell, label
    ORDER BY shell, label
    """,
)
def q_embed_shells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Norm-shell occupancy by label: vectors banded by squared L2
    norm into 0.25-wide shells (capped at shell 9) — normalized
    embeddings collapse into one shell, and a label whose vectors
    live in a different shell than the rest will dominate dot-product
    retrieval for the wrong reason (the q_embed_norm_bias failure
    mode, localized per label). The squared norm floors to an exact
    e4 integer per row (deterministic JVM-side fold, identical order
    both engines); shells and means are pure integer arithmetic from
    there."""
    emb = load_table(spark, sf_dir, "embeddings")
    sq = F.transform(
        "embedding", lambda x: x.cast("double") * x.cast("double")
    )
    norm2 = F.aggregate(sq, F.lit(0.0), lambda a, x: a + x)
    per_vec = emb.select(
        "label",
        F.floor(norm2 * F.lit(10000.0)).cast("long").alias("norm2_e4"),
    )
    shelled = per_vec.select(
        "label",
        F.expr("least(norm2_e4 div 2500, CAST(9 AS BIGINT))").alias("shell"),
        "norm2_e4",
    )
    return (
        shelled.groupBy("shell", "label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.expr("CAST(sum(norm2_e4) div count(*) AS BIGINT)").alias(
                "mean_norm2_e4"
            ),
        )
        .orderBy("shell", "label")
    )


# ---------------------------------------------------------------------------
# Tranche 9 — retail behavioral dynamics: priority escalation, return
# drift, within-order inequality, supplier dormancy, lifecycle curves.
# ---------------------------------------------------------------------------


@query(
    "q_priority_escalation",
    oracle="""
    WITH seq AS (
        SELECT c.c_mktsegment AS segment,
               CAST(substr(o.o_orderpriority, 1, 1) AS BIGINT) AS pr,
               lag(CAST(substr(o.o_orderpriority, 1, 1) AS BIGINT)) OVER (
                   PARTITION BY o.o_custkey
                   ORDER BY o.o_orderdate, o.o_orderkey) AS prev_pr
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN pr < prev_pr THEN 1 ELSE 0 END) AS BIGINT)
               AS n_escalations,
           CAST(sum(CASE WHEN pr > prev_pr THEN 1 ELSE 0 END) AS BIGINT)
               AS n_deescalations,
           CAST(sum(CASE WHEN pr < prev_pr THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS escalation_bp
    FROM seq
    WHERE prev_pr IS NOT NULL
    GROUP BY segment
    ORDER BY segment
    """,
)
def q_priority_escalation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority escalation propensity: across each customer's
    consecutive orders, how often the NEXT order carries a more
    urgent priority class (the numeric prefix of '1-URGENT'..'5-LOW'
    DECREASING) — sustained escalation is the unhappy-customer signal
    procurement teams chase (q_mktseg_priority_mix is the static mix;
    this is its within-customer dynamics). One lag window per
    customer (high-cardinality key, small partitions — the plain
    keyed window is the right plan), exact integer priority ranks
    from the string prefix, exact bp."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            F.col("c_mktsegment").alias("segment"),
            "o_custkey",
            "o_orderdate",
            "o_orderkey",
            F.expr("CAST(substr(o_orderpriority, 1, 1) AS BIGINT)").alias(
                "pr"
            ),
        )
        .select(
            "segment",
            "pr",
            F.lag("pr").over(w).alias("prev_pr"),
        )
        .where(F.col("prev_pr").isNotNull())
    )
    return (
        seq.groupBy("segment")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(F.when(F.col("pr") < F.col("prev_pr"), 1).otherwise(0))
            .cast("long")
            .alias("n_escalations"),
            F.sum(F.when(F.col("pr") > F.col("prev_pr"), 1).otherwise(0))
            .cast("long")
            .alias("n_deescalations"),
            F.expr(
                "CAST(sum(CASE WHEN pr < prev_pr THEN 1 ELSE 0 END) * 10000"
                " div count(*) AS BIGINT)"
            ).alias("escalation_bp"),
        )
        .orderBy("segment")
    )


@query(
    "q_return_drift",
    oracle="""
    WITH j AS (
        SELECT p.p_brand AS brand,
               CASE WHEN l.l_shipdate < TIMESTAMP '1998-07-01'
                    THEN 0 ELSE 1 END AS era,
               CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS r
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    per AS (
        SELECT brand,
               CAST(sum(CASE WHEN era = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_first,
               CAST(sum(CASE WHEN era = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_second,
               CAST(sum(CASE WHEN era = 0 THEN r ELSE 0 END) * 10000
                    // nullif(sum(CASE WHEN era = 0 THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS return_bp_first,
               CAST(sum(CASE WHEN era = 1 THEN r ELSE 0 END) * 10000
                    // nullif(sum(CASE WHEN era = 1 THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS return_bp_second
        FROM j
        GROUP BY brand
        HAVING sum(CASE WHEN era = 0 THEN 1 ELSE 0 END) > 0
           AND sum(CASE WHEN era = 1 THEN 1 ELSE 0 END) > 0
    )
    SELECT brand, n_first, n_second, return_bp_first, return_bp_second,
           return_bp_second - return_bp_first AS drift_bp
    FROM per
    ORDER BY brand
    """,
)
def q_return_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-rate drift per brand between the corpus's two halves
    (split at 1998-07-01): the signed bp movement of the return share
    — a quality regression localized to a brand and an era
    (q_brand_return_wilson bounds the static rate; this asks whether
    it MOVED). One join, one grouped pass with era-conditional sums
    (brands absent from either era drop — the drift is undefined
    there), exact bp floors and a plain integer difference."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(p, li["l_partkey"] == p["p_partkey"]).select(
        F.col("p_brand").alias("brand"),
        F.when(
            F.col("l_shipdate") < F.lit("1998-07-01").cast("timestamp_ntz"), 0
        )
        .otherwise(1)
        .alias("era"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("r"),
    )
    per = (
        j.groupBy("brand")
        .agg(
            F.sum(F.when(F.col("era") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_first"),
            F.sum(F.when(F.col("era") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_second"),
            F.expr(
                "CAST(sum(CASE WHEN era = 0 THEN r ELSE 0 END) * 10000"
                " div nullif(sum(CASE WHEN era = 0 THEN 1 ELSE 0 END), 0)"
                " AS BIGINT)"
            ).alias("return_bp_first"),
            F.expr(
                "CAST(sum(CASE WHEN era = 1 THEN r ELSE 0 END) * 10000"
                " div nullif(sum(CASE WHEN era = 1 THEN 1 ELSE 0 END), 0)"
                " AS BIGINT)"
            ).alias("return_bp_second"),
        )
        .where((F.col("n_first") > 0) & (F.col("n_second") > 0))
    )
    return per.select(
        "brand",
        "n_first",
        "n_second",
        "return_bp_first",
        "return_bp_second",
        (F.col("return_bp_second") - F.col("return_bp_first")).alias(
            "drift_bp"
        ),
    ).orderBy("brand")


@query(
    "q_order_value_gini",
    oracle="""
    WITH lines AS (
        SELECT l_orderkey,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
               row_number() OVER (
                   PARTITION BY l_orderkey
                   ORDER BY l_extendedprice, l_partkey, l_suppkey,
                            l_linenumber) AS rn
        FROM lineitem
    ),
    per_order AS (
        SELECT a.l_orderkey,
               CAST(max(greatest(a.rn, b.rn)) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN a.rn < b.rn
                             THEN abs(a.cents - b.cents) ELSE 0 END)
                   AS BIGINT) AS absdiff,
               CAST(sum(CASE WHEN a.rn = b.rn THEN a.cents ELSE 0 END)
                   AS BIGINT) AS total
        FROM lines a JOIN lines b ON a.l_orderkey = b.l_orderkey
        GROUP BY a.l_orderkey
        HAVING max(greatest(a.rn, b.rn)) >= 2
    ),
    ginis AS (
        SELECT n_lines,
               absdiff * 10000 // (n_lines * total) AS gini_e4
        FROM per_order
    )
    SELECT n_lines,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(gini_e4) // count(*) AS BIGINT) AS mean_gini_e4,
           CAST(max(gini_e4) AS BIGINT) AS max_gini_e4
    FROM ginis
    GROUP BY n_lines
    ORDER BY n_lines
    """,
)
def q_order_value_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-order value inequality: the exact Gini coefficient of
    line values inside each multi-line order (G = Σ_{i<j}|xᵢ−xⱼ| /
    (n·Σx), e4-floored integer), summarized by basket width — a high
    within-order Gini means one anchor item plus filler, a low one
    means balanced baskets; the assortment signal behind
    q_basket_pairs. The pair expansion self-joins ONLY within an
    order (≤13 lines ⇒ ≤78 pairs — the capped-basket-quadratic class,
    linear in orders at any SF); line identity is a per-order rank
    (l_linenumber REPEATS in this corpus — the ROUND12 catch — so the
    rank orders on (price, part, supp, linenumber)); every Gini is
    exact integer arithmetic, and the per-order e4 pin makes the band
    means exact too."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_extendedprice", "l_partkey", "l_suppkey", "l_linenumber"
    )
    lines = li.select(
        "l_orderkey",
        F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
        F.row_number().over(w).alias("rn"),
    )
    a = lines.select(
        F.col("l_orderkey").alias("ka"), F.col("cents").alias("ca"), F.col("rn").alias("ra")
    )
    b = lines.select(
        F.col("l_orderkey").alias("kb"), F.col("cents").alias("cb"), F.col("rn").alias("rb")
    )
    per_order = (
        a.join(b, F.col("ka") == F.col("kb"))
        .groupBy("ka")
        .agg(
            F.max(F.greatest(F.col("ra"), F.col("rb")))
            .cast("long")
            .alias("n_lines"),
            F.sum(
                F.when(
                    F.col("ra") < F.col("rb"),
                    F.abs(F.col("ca") - F.col("cb")),
                ).otherwise(0)
            )
            .cast("long")
            .alias("absdiff"),
            F.sum(F.when(F.col("ra") == F.col("rb"), F.col("ca")).otherwise(0))
            .cast("long")
            .alias("total"),
        )
        .where(F.col("n_lines") >= 2)
    )
    ginis = per_order.select(
        "n_lines",
        F.expr("absdiff * 10000 div (n_lines * total)").alias("gini_e4"),
    )
    return (
        ginis.groupBy("n_lines")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.expr("CAST(sum(gini_e4) div count(*) AS BIGINT)").alias(
                "mean_gini_e4"
            ),
            F.max("gini_e4").cast("long").alias("max_gini_e4"),
        )
        .orderBy("n_lines")
    )


@query(
    "q_dormant_suppliers",
    oracle="""
    WITH cutoff AS (
        SELECT max(l_shipdate) - INTERVAL 180 DAY AS cut FROM lineitem
    ),
    per_supp AS (
        SELECT l_suppkey,
               CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS cents,
               max(l_shipdate) AS last_ship
        FROM lineitem
        GROUP BY l_suppkey
    ),
    flagged AS (
        SELECT s.s_nationkey,
               p.cents,
               CASE WHEN p.last_ship < c.cut THEN 1 ELSE 0 END AS dormant
        FROM per_supp p
        JOIN supplier s ON p.l_suppkey = s.s_suppkey
        CROSS JOIN cutoff c
    )
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(dormant) AS BIGINT) AS n_dormant,
           CAST(sum(dormant) * 10000 // count(*) AS BIGINT) AS dormant_bp,
           CAST(sum(CASE WHEN dormant = 1 THEN cents ELSE 0 END) * 10000
                // sum(cents) AS BIGINT) AS dormant_value_bp
    FROM flagged f JOIN nation n ON f.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY nation
    """,
)
def q_dormant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier dormancy ledger per nation: suppliers with no shipment
    in the corpus's final 180 days, their head-count share, and the
    share of HISTORICAL value they used to carry — high dormant value
    is a supply-continuity risk (q_slow_movers flags parts; this
    flags the supply side). One supplier aggregate, the corpus
    horizon as a 1-row broadcast scalar cross (plan-lint NLJ allowlist),
    broadcast nation dim, exact bp floors."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cutoff = li.agg(
        F.expr("max(l_shipdate) - INTERVAL 180 DAY").alias("cut")
    )
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
        .cast("long")
        .alias("cents"),
        F.max("l_shipdate").alias("last_ship"),
    )
    flagged = (
        per_supp.join(s, per_supp["l_suppkey"] == s["s_suppkey"])
        .crossJoin(F.broadcast(cutoff))
        .select(
            "s_nationkey",
            "cents",
            F.when(F.col("last_ship") < F.col("cut"), 1).otherwise(0).alias(
                "dormant"
            ),
        )
    )
    return (
        flagged.join(F.broadcast(n), flagged["s_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").cast("long").alias("n_suppliers"),
            F.sum("dormant").cast("long").alias("n_dormant"),
            F.expr("CAST(sum(dormant) * 10000 div count(*) AS BIGINT)").alias(
                "dormant_bp"
            ),
            F.expr(
                "CAST(sum(CASE WHEN dormant = 1 THEN cents ELSE 0 END)"
                " * 10000 div sum(cents) AS BIGINT)"
            ).alias("dormant_value_bp"),
        )
        .orderBy("nation")
    )


@query(
    "q_customer_age_curve",
    oracle="""
    WITH aged AS (
        SELECT date_diff('day',
                   min(o_orderdate) OVER (PARTITION BY o_custkey),
                   o_orderdate) // 180 AS age_band,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
    )
    SELECT CAST(age_band AS BIGINT) AS age_band,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(sum(cents) // count(*) AS BIGINT) AS mean_cents
    FROM aged
    GROUP BY age_band
    ORDER BY age_band
    """,
)
def q_customer_age_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order value by RELATIONSHIP AGE: every order indexed by
    half-year bands since that customer's first order (account-time,
    not calendar time — the orders-side twin of the
    q_user_week_curve on events) — do long-tenured accounts spend
    more per order, the question LTV models assume an answer to. One
    keyed min-window for the first-order anchor, exact day arithmetic
    and integer banding, one grouped pass."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    aged = o.select(
        F.expr(
            "datediff(o_orderdate, min(o_orderdate) OVER"
            " (PARTITION BY o_custkey)) div 180"
        )
        .cast("long")
        .alias("age_band"),
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
    )
    return (
        aged.groupBy("age_band")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.expr("CAST(sum(cents) div count(*) AS BIGINT)").alias(
                "mean_cents"
            ),
        )
        .orderBy("age_band")
    )


# ---------------------------------------------------------------------------
# Tranche 10 — window close: calendar concentration, value-band
# Markov structure, nth-value surface, supplier specialization,
# nation assortment reach.
# ---------------------------------------------------------------------------


@query(
    "q_type_hour_concentration",
    oracle="""
    WITH hourly AS (
        SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        GROUP BY event_type, hour(ts)
    ),
    shares AS (
        SELECT event_type, hr, n,
               CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS tot,
               CAST(n * 10000 // sum(n) OVER (PARTITION BY event_type)
                   AS BIGINT) AS share_bp
        FROM hourly
    )
    SELECT event_type,
           CAST(max(tot) AS BIGINT) AS n_events,
           CAST(max(share_bp * 100 + hr) % 100 AS BIGINT) AS peak_hour,
           CAST(max(share_bp * 100 + hr) // 100 AS BIGINT) AS peak_share_bp,
           CAST(count(*) AS BIGINT) AS n_active_hours
    FROM shares
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_type_hour_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diurnal concentration per event type: the peak hour, its share
    of the type's traffic, and how many hours the type is active at
    all — batch-job types spike in one hour while organic types
    spread (q_hourly_profile is the pooled curve; this names each
    type's peak). Shares are exact bp floors over the ≤24-row
    per-type frame; the peak is the packed nonneg-integer argmax
    (share_bp·100 + hour, ties to the later hour — all integer, both
    engines identical)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hr")
    ).agg(F.count("*").cast("long").alias("n"))
    wt = Window.partitionBy("event_type")
    shares = hourly.select(
        "event_type",
        "hr",
        "n",
        F.sum("n").over(wt).cast("long").alias("tot"),
        F.expr(
            "CAST(n * 10000 div sum(n) OVER (PARTITION BY event_type)"
            " AS BIGINT)"
        ).alias("share_bp"),
    )
    return (
        shares.groupBy("event_type")
        .agg(
            F.max("tot").cast("long").alias("n_events"),
            (F.max(F.col("share_bp") * 100 + F.col("hr")) % 100)
            .cast("long")
            .alias("peak_hour"),
            F.expr(
                "CAST(max(share_bp * 100 + hr) div 100 AS BIGINT)"
            ).alias("peak_share_bp"),
            F.count("*").cast("long").alias("n_active_hours"),
        )
        .orderBy("event_type")
    )


@query(
    "q_value_band_markov",
    oracle="""
    WITH banded AS (
        SELECT user_id, ts, event_id,
               least(CAST(floor(value * 10000 + 0.5) AS BIGINT) // 1000000,
                     CAST(4 AS BIGINT)) AS band
        FROM events
    ),
    pairs AS (
        SELECT band AS from_band,
               lead(band) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS to_band
        FROM banded
    )
    SELECT from_band, to_band,
           CAST(count(*) AS BIGINT) AS n_trans,
           CAST(count(*) * 10000 // sum(count(*))
                OVER (PARTITION BY from_band) AS BIGINT) AS row_share_bp
    FROM pairs
    WHERE to_band IS NOT NULL
    GROUP BY from_band, to_band
    ORDER BY from_band, to_band
    """,
)
def q_value_band_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition matrix between VALUE bands of
    consecutive events per user ($100-wide bands of the e4 value,
    capped at band 4): does a high-value action predict another one
    — the magnitude companion to q_markov_transitions' type matrix,
    and the input to any value-escalation trigger. One lead window
    per user, exact integer banding (floor-of-multiply cents), one
    grouped count with the row-normalizing window over the ≤25-cell
    matrix, exact bp floors."""
    ev = load_table(spark, sf_dir, "events")
    banded = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.expr(
            "least(CAST(floor(value * 10000 + 0.5) AS BIGINT) div 1000000,"
            " CAST(4 AS BIGINT))"
        ).alias("band"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = banded.select(
        F.col("band").alias("from_band"),
        F.lead("band").over(w).alias("to_band"),
    ).where(F.col("to_band").isNotNull())
    wf = Window.partitionBy("from_band")
    return (
        pairs.groupBy("from_band", "to_band")
        .agg(F.count("*").cast("long").alias("n_trans"))
        .select(
            "from_band",
            "to_band",
            "n_trans",
            F.expr(
                "CAST(n_trans * 10000 div sum(n_trans) OVER"
                " (PARTITION BY from_band) AS BIGINT)"
            ).alias("row_share_bp"),
        )
        .orderBy("from_band", "to_band")
    )


@query(
    "q_win_nth_value",
    oracle="""
    WITH ranked AS (
        SELECT o_custkey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               nth_value(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT), 2)
                   OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate DESC, o_orderkey DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND UNBOUNDED FOLLOWING) AS second_latest,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders
    ),
    per_cust AS (
        SELECT o_custkey, cents AS latest_cents, second_latest
        FROM ranked
        WHERE rn = 1 AND second_latest IS NOT NULL
    )
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_repeat_customers,
           CAST(sum(p.latest_cents) // count(*) AS BIGINT)
               AS mean_latest_cents,
           CAST(sum(p.second_latest) // count(*) AS BIGINT)
               AS mean_prior_cents,
           CAST(sum(p.latest_cents) // count(*)
                - sum(p.second_latest) // count(*) AS BIGINT) AS trend_cents
    FROM per_cust p JOIN customer c ON p.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY segment
    """,
)
def q_win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value window surface over per-customer order history: each
    repeat customer's LATEST vs SECOND-LATEST order value, averaged
    per segment — is the marginal order growing or shrinking (the
    per-customer two-point trend behind q_customer_age_curve's
    pooled bands). nth_value(…, 2) over the full keyed frame
    (UNBOUNDED/UNBOUNDED — the frame clause is mandatory for
    cross-engine agreement: the default frame stops at CURRENT ROW
    and nulls the lookahead); customer keys are high-cardinality so
    the keyed window stays distributed. Exact cents, exact integer
    means."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = o.select(
        "o_custkey",
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
        F.nth_value(
            F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"), 2
        )
        .over(wf)
        .alias("second_latest"),
        F.row_number().over(w).alias("rn"),
    )
    per_cust = ranked.where(
        (F.col("rn") == 1) & F.col("second_latest").isNotNull()
    ).select("o_custkey", F.col("cents").alias("latest_cents"), "second_latest")
    return (
        per_cust.join(c, per_cust["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").cast("long").alias("n_repeat_customers"),
            F.expr("CAST(sum(latest_cents) div count(*) AS BIGINT)").alias(
                "mean_latest_cents"
            ),
            F.expr("CAST(sum(second_latest) div count(*) AS BIGINT)").alias(
                "mean_prior_cents"
            ),
            F.expr(
                "CAST(sum(latest_cents) div count(*)"
                " - sum(second_latest) div count(*) AS BIGINT)"
            ).alias("trend_cents"),
        )
        .orderBy("segment")
    )


@query(
    "q_supplier_brand_affinity",
    oracle="""
    WITH per_cell AS (
        SELECT l.l_suppkey, p.p_brand,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY l.l_suppkey, p.p_brand
    ),
    per_supp AS (
        SELECT l_suppkey,
               CAST(sum(n) AS BIGINT) AS n_lines,
               CAST(max(n) AS BIGINT) AS modal_n,
               CAST(count(*) AS BIGINT) AS n_brands
        FROM per_cell
        GROUP BY l_suppkey
    ),
    banded AS (
        SELECT least(modal_n * 10000 // n_lines // 1000, CAST(9 AS BIGINT))
                   AS band,
               n_lines, modal_n, n_brands
        FROM per_supp
    )
    SELECT band,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(n_brands) * 100 // count(*) AS BIGINT)
               AS mean_brands_e2,
           CAST(sum(modal_n) * 10000 // sum(n_lines) AS BIGINT)
               AS pooled_modal_bp
    FROM banded
    GROUP BY band
    ORDER BY band
    """,
)
def q_supplier_brand_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier specialization distribution: per supplier, the share
    of its line volume in its single biggest brand (the modal brand
    share), banded into bp deciles with brand-breadth means — a
    supply base concentrated at band 9 is a set of single-brand
    houses, one at band 1 is commodity brokers (q_supplier_dependency
    views this from the buyer side). Two grouped aggregations and an
    exact integer floor chain — the q_user_modal_share shape on the
    supply ledger."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    per_cell = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("l_suppkey", "p_brand")
        .agg(F.count("*").cast("long").alias("n"))
    )
    per_supp = per_cell.groupBy("l_suppkey").agg(
        F.sum("n").cast("long").alias("n_lines"),
        F.max("n").cast("long").alias("modal_n"),
        F.count("*").cast("long").alias("n_brands"),
    )
    banded = per_supp.select(
        F.expr(
            "least(modal_n * 10000 div n_lines div 1000, CAST(9 AS BIGINT))"
        ).alias("band"),
        "n_lines",
        "modal_n",
        "n_brands",
    )
    return (
        banded.groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n_suppliers"),
            F.expr("CAST(sum(n_brands) * 100 div count(*) AS BIGINT)").alias(
                "mean_brands_e2"
            ),
            F.expr(
                "CAST(sum(modal_n) * 10000 div sum(n_lines) AS BIGINT)"
            ).alias("pooled_modal_bp"),
        )
        .orderBy("band")
    )


@query(
    "q_nation_assortment_reach",
    oracle="""
    WITH j AS (
        SELECT n.n_name AS nation,
               l.l_partkey, l.l_suppkey, l.l_orderkey,
               CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    SELECT nation,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
           CAST(sum(cents) // count(DISTINCT l_partkey) AS BIGINT)
               AS cents_per_part
    FROM j
    GROUP BY nation
    ORDER BY nation
    """,
)
def q_nation_assortment_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demand-side assortment reach per customer nation: how many
    distinct parts and suppliers a nation's purchasing actually
    touches, and the value intensity per touched part — narrow reach
    with high intensity is a concentration exposure
    (q_supplier_reach is the mirror from the supply side; q_trade_
    locality prices the geography). The star join rolls lineitem
    through orders and customer to the broadcast nation dim; the two
    count-distincts shuffle on (nation, key) with partial
    aggregation. Exact integer division for the intensity."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            "l_partkey",
            "l_suppkey",
            F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").alias(
                "cents"
            ),
        )
    )
    return (
        j.groupBy("nation")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.countDistinct("l_partkey").cast("long").alias("n_parts"),
            F.countDistinct("l_suppkey").cast("long").alias("n_suppliers"),
            F.expr(
                "CAST(sum(cents) div count(DISTINCT l_partkey) AS BIGINT)"
            ).alias("cents_per_part"),
        )
        .orderBy("nation")
    )
