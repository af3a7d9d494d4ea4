"""Round-6 oracle-backed batch: sequence/pattern analytics (the
MATCH_RECOGNIZE operator's declared surface, in-session funnels),
model-eval and finance analytics (decile lift, Lorenz concentration,
ABC classification, CLV), robust statistics (MAD anomalies, runs
test, peak detection), and commerce/text diagnostics.

Cross-engine determinism discipline (the round-5 gotcha pile,
systematized): every emitted ratio/mean derives from EXACT integer or
decimal aggregates, then is either (a) emitted as a scaled-integer
``*_e4`` column (floor(x*10000) — both engines compute the SAME
double from the same exact inputs, so the floor is bit-stable, and no
round-half-implementation divergence can enter), (b) emitted as a
decimal-sum VARCHAR (q_agg_decimal_exact pattern), or (c) rounded to
4dp only where the value is irrational-ish (logs, sqrt, correlation)
so a half-way 5th decimal is measure-zero. Multi-row DOUBLE sums
appear only over per-group row counts bounded by a calendar or a
band/bucket alphabet, never fact volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_llm_spark.io import load_table
from mapreduce_llm_spark.operators.match_recognize import match_recognize
from mapreduce_llm_spark.operators.ranking import (
    global_prefix_sum,
    global_row_number,
)
from mapreduce_llm_spark.queries.common import ts_micros
from mapreduce_llm_spark.registry import query

_THIRTY_MIN_US = 30 * 60 * 1_000_000


@query(
    "q_match_recognize",
    oracle=r"""
    WITH capped AS (
        SELECT user_id, ts, event_id, event_type, value,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rk
        FROM events QUALIFY rk <= 1000
    ),
    sym AS (
        SELECT user_id, ts, event_id, value,
               CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                    WHEN 'purchase' THEN 'p' ELSE 'x' END AS s
        FROM capped
    ),
    seqs AS (
        SELECT user_id,
               string_agg(s, '' ORDER BY ts, event_id) AS str,
               list(struct_pack(ts := ts, value := value)
                    ORDER BY ts, event_id) AS rows_
        FROM sym GROUP BY user_id
    ),
    br AS (
        SELECT user_id, rows_,
               string_split(regexp_replace(str, 'vc+p', '<\0>', 'g'), '<')
                   AS parts
        FROM seqs
    ),
    walk AS (
        SELECT user_id, rows_, i AS ord, parts[i] AS p,
               strpos(parts[i], '>') - 1 AS mlen,
               coalesce(sum(length(replace(parts[i], '>', ''))) OVER (
                   PARTITION BY user_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS pre_len
        FROM br, unnest(generate_series(1, len(parts))) AS t(i)
    ),
    m AS (
        SELECT user_id, CAST(ord - 1 AS INT) AS match_no,
               CAST(pre_len + 1 AS BIGINT) AS start_pos,
               CAST(mlen AS INT) AS n_events,
               rows_[CAST(pre_len + 1 AS BIGINT):CAST(pre_len + mlen AS BIGINT)]
                   AS mr
        FROM walk WHERE ord > 1
    )
    SELECT user_id, match_no, start_pos, n_events,
           CAST(n_events - 2 AS INT) AS n_clicks,
           CAST(epoch_us(mr[n_events].ts) - epoch_us(mr[1].ts) AS BIGINT)
               AS span_us,
           round(list_sum(list_transform(mr, r -> coalesce(r.value, 0.0))), 4)
               AS spend
    FROM m
    ORDER BY user_id, match_no
    """,
)
def q_match_recognize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MATCH_RECOGNIZE operator's declared surface
    (operators/match_recognize.py): per-user row-pattern matches of
    view → click+ → purchase with row-level measures — count of
    clicks, wall-clock span, and spend summed over the MATCHED rows
    (what q_seq_pattern's initials-regex cannot see). Histories cap at
    1000 events/user identically on both engines. The oracle
    re-derives match positions INDEPENDENTLY: same bracket encoding,
    but a window cumsum walk instead of Spark's F.aggregate fold — a
    cross-implementation proof of the position algebra, like
    q_nearest_event's ASOF twin."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    capped = (
        e.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 1000)
        .select("user_id", "ts", "event_id", "event_type", "value")
    )
    m = match_recognize(
        capped,
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        symbols=[
            ("v", F.col("event_type") == "view"),
            ("c", F.col("event_type") == "click"),
            ("p", F.col("event_type") == "purchase"),
        ],
        pattern="vc+p",
    )
    first_ts = F.element_at("match_rows", 1)["ts"].cast("timestamp")
    last_ts = F.element_at("match_rows", -1)["ts"].cast("timestamp")
    return (
        m.select(
            "user_id",
            F.col("match_no").cast("int").alias("match_no"),
            F.col("start_pos").cast("long").alias("start_pos"),
            F.col("match_len").cast("int").alias("n_events"),
            (F.col("match_len") - 2).cast("int").alias("n_clicks"),
            (F.unix_micros(last_ts) - F.unix_micros(first_ts))
            .cast("long")
            .alias("span_us"),
            # coalesce inside the fold: a Spark left fold returns NULL
            # if ANY element is NULL while DuckDB's list_sum skips
            # NULLs — pin both engines to treat NULL value as 0.0 so a
            # future nullable-events encoding drift cannot diverge
            F.round(
                F.aggregate(
                    "match_rows",
                    F.lit(0.0),
                    lambda a, r: a + F.coalesce(r["value"], F.lit(0.0)),
                ),
                4,
            ).alias("spend"),
        )
        .orderBy("user_id", "match_no")
    )


@query(
    "q_sessionize_funnel",
    oracle="""
    WITH s AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > 1800000000
                    THEN 1 ELSE 0 END AS ns
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sid AS (
        SELECT *, sum(ns) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM s
    ),
    tv AS (
        SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
                   OVER (PARTITION BY user_id, sid) AS t_v
        FROM sid
    ),
    tc AS (
        SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_v THEN ts END)
                   OVER (PARTITION BY user_id, sid) AS t_c
        FROM tv
    ),
    tp AS (
        SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_c THEN ts END)
                   OVER (PARTITION BY user_id, sid) AS t_p
        FROM tc
    ),
    sess AS (
        SELECT DISTINCT user_id, sid, t_v, t_c, t_p FROM tp
    )
    SELECT CAST(count(*) AS BIGINT)      AS n_sessions,
           CAST(count(t_v) AS BIGINT)    AS n_view,
           CAST(count(t_c) AS BIGINT)    AS n_view_click,
           CAST(count(t_p) AS BIGINT)    AS n_full_funnel,
           CAST(count(t_v) * 10000 // nullif(count(*), 0) AS BIGINT)
               AS view_rate_e4,
           CAST(count(t_c) * 10000 // nullif(count(t_v), 0) AS BIGINT)
               AS click_rate_e4,
           CAST(count(t_p) * 10000 // nullif(count(t_c), 0) AS BIGINT)
               AS purchase_rate_e4
    FROM sess
    """,
)
def q_sessionize_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel WITHIN sessions: gap-sessionize (30-min
    inactivity, the q_evt_sessionize construction), then require
    view < click < purchase strictly in time inside ONE session —
    stricter than the user-level q_funnel_conversion (7-day window,
    cross-session) and order-blind q_window_funnel. The three stage
    timestamps are per-session window minima conditioned on the
    previous stage (t_click = min ts of clicks AFTER the first view),
    all over the same (user, session) partitioning — one shuffle on
    user_id total. Conversion rates are scaled-integer e4 floors of
    exact counts."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull()
        | ((ts_micros("ts") - F.unix_micros(prev.cast("timestamp"))) > _THIRTY_MIN_US),
        1,
    ).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    sid = e.withColumn("ns", new_sess).withColumn("sid", F.sum("ns").over(run))
    ws = Window.partitionBy("user_id", "sid")
    staged = (
        sid.withColumn(
            "t_v", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(ws)
        )
        .withColumn(
            "t_c",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("t_v")),
                    F.col("ts"),
                )
            ).over(ws),
        )
        .withColumn(
            "t_p",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_c")),
                    F.col("ts"),
                )
            ).over(ws),
        )
    )
    sess = staged.select("user_id", "sid", "t_v", "t_c", "t_p").distinct()
    return sess.agg(
        F.count("*").alias("n_sessions"),
        F.count("t_v").alias("n_view"),
        F.count("t_c").alias("n_view_click"),
        F.count("t_p").alias("n_full_funnel"),
        # nullif guards: Spark 4 ANSI div throws DIVIDE_BY_ZERO where
        # DuckDB // yields NULL — a zero-stage filtered corpus must
        # degrade to NULL identically on both engines, not crash here
        F.expr("count(t_v) * 10000 div nullif(count(*), 0)").alias("view_rate_e4"),
        F.expr("count(t_c) * 10000 div nullif(count(t_v), 0)").alias(
            "click_rate_e4"
        ),
        F.expr("count(t_p) * 10000 div nullif(count(t_c), 0)").alias(
            "purchase_rate_e4"
        ),
    )


@query(
    "q_decile_lift",
    oracle="""
    WITH spend AS (
        SELECT c_custkey, c_acctbal,
               coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))),
                        CAST(0 AS DECIMAL(18,2))) AS sp
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey, c_acctbal
    ),
    rn AS (
        SELECT *, row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS rn
        FROM spend
    ),
    tot AS (
        SELECT count(*) AS nc, sum(sp) AS ts FROM spend
    ),
    d AS (
        SELECT sp, CAST((rn - 1) * 10 // nc + 1 AS INT) AS decile, nc, ts
        FROM rn, tot
    )
    SELECT decile,
           CAST(count(*) AS BIGINT)   AS n_customers,
           CAST(sum(sp) AS VARCHAR)   AS sum_spend,
           CAST(floor(CAST(sum(sp) AS DOUBLE) / count(*)
                      / (CAST(any_value(ts) AS DOUBLE) / any_value(nc))
                      * 10000) AS BIGINT) AS lift_e4
    FROM d GROUP BY decile ORDER BY decile
    """,
)
def q_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-lift table: customers ranked by a propensity score
    (account balance as the stand-in), cut into 10 equal-population
    deciles, each decile's mean outcome (order spend) expressed as a
    multiple of the population mean — the evaluation artifact every
    targeting model ships with. The global rank uses
    global_row_number (range partition + offset prefix-sum), NOT a
    single-partition window: customer cardinality grows with the
    corpus. Decile boundaries are integer arithmetic ((rn-1)*10 div
    n), spend is an exact decimal sum, and the lift is an e4 floor of
    doubles both engines derive from the same decimals — no rounding
    divergence can enter. One 1-row broadcast cross for (n, total)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_totalprice").cast("decimal(18,2)").alias("p")
    )
    spend = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey", "c_acctbal")
        .agg(
            F.coalesce(F.sum("p"), F.lit(0).cast("decimal(18,2)")).alias("sp")
        )
    )
    ranked = global_row_number(
        spend, [F.col("c_acctbal").desc(), F.col("c_custkey")], alias="rn"
    )
    # (nc, ts) off the operator's materialized output — not a second
    # customer⋈orders pass (round-14 optimization; order-invariant)
    tot = ranked.agg(
        F.count("*").alias("nc"), F.sum("sp").alias("ts")
    )
    d = ranked.crossJoin(F.broadcast(tot)).withColumn(
        "decile", F.expr("CAST((rn - 1) * 10 div nc + 1 AS INT)")
    )
    return (
        d.groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("sp").cast("string").alias("sum_spend"),
            F.floor(
                F.sum("sp").cast("double")
                / F.count("*")
                / (F.first("ts").cast("double") / F.first("nc"))
                * 10000
            ).alias("lift_e4"),
        )
        .orderBy("decile")
    )


@query(
    "q_abc_classification",
    oracle="""
    WITH rev AS (
        SELECT l_partkey,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (CAST(1 AS DECIMAL(18,2))
                      - CAST(l_discount AS DECIMAL(18,2)))) AS rev
        FROM lineitem GROUP BY l_partkey
    ),
    cum AS (
        SELECT l_partkey, rev,
               sum(rev) OVER (ORDER BY rev DESC, l_partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
        FROM rev
    ),
    tot AS (SELECT sum(rev) AS total FROM rev),
    cls AS (
        SELECT CASE WHEN cum_rev * 5 <= total * 4 THEN 'A'
                    WHEN cum_rev * 20 <= total * 19 THEN 'B'
                    ELSE 'C' END AS abc_class,
               rev, total
        FROM cum, tot
    )
    SELECT abc_class,
           CAST(count(*) AS BIGINT)  AS n_parts,
           CAST(sum(rev) AS VARCHAR) AS class_revenue,
           CAST(floor(CAST(sum(rev) AS DOUBLE)
                      / CAST(any_value(total) AS DOUBLE) * 10000) AS BIGINT)
               AS share_e4
    FROM cls GROUP BY abc_class ORDER BY abc_class
    """,
)
def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue, class A
    = the prefix holding the first 80% of cumulative revenue, B to
    95%, C the tail. The cumulative ranking reuses global_prefix_sum
    (range partition + broadcast per-partition offsets — the
    compaction planner's primitive), because a part dimension at
    corpus scale cannot run through a single-partition window. Class
    cuts compare decimals cross-multiplied (cum*5 <= total*4), so the
    80/95 boundaries are EXACT — no float share ever decides a class.
    One 1-row broadcast cross for the total."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    rev = li.groupBy("l_partkey").agg(
        F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc)).alias("rev")
    )
    cum = global_prefix_sum(
        rev, [F.col("rev").desc(), F.col("l_partkey")], "rev", alias="cum_rev"
    )
    # total from the operator's checkpoint-backed output, not from a
    # second lineitem scan+aggregate: cum's lineage is truncated at the
    # materialization barrier, so this aggregate reads the ~|parts|-row
    # frame instead of re-running the whole revenue rollup (round-14
    # optimization; decimal sum is order-invariant, same multiset)
    tot = cum.agg(F.sum("rev").alias("total"))
    cls = cum.crossJoin(F.broadcast(tot)).withColumn(
        "abc_class",
        F.when(F.col("cum_rev") * 5 <= F.col("total") * 4, "A")
        .when(F.col("cum_rev") * 20 <= F.col("total") * 19, "B")
        .otherwise("C"),
    )
    return (
        cls.groupBy("abc_class")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("rev").cast("string").alias("class_revenue"),
            F.floor(
                F.sum("rev").cast("double")
                / F.first("total").cast("double")
                * 10000
            ).alias("share_e4"),
        )
        .orderBy("abc_class")
    )


@query(
    "q_lorenz_curve",
    oracle="""
    WITH spend AS (
        SELECT c_custkey,
               coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))),
                        CAST(0 AS DECIMAL(18,2))) AS sp
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey
    ),
    rn AS (
        SELECT sp,
               row_number() OVER (ORDER BY sp, c_custkey) AS rn,
               sum(sp) OVER (ORDER BY sp, c_custkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
        FROM spend
    ),
    tot AS (SELECT count(*) AS nc, sum(sp) AS total FROM spend),
    d AS (
        SELECT CAST((rn - 1) * 10 // nc + 1 AS INT) AS decile,
               rn, cum_rev, nc, total
        FROM rn, tot
    )
    SELECT decile,
           CAST(count(*) AS BIGINT)      AS n_customers,
           CAST(max(cum_rev) AS VARCHAR) AS cum_revenue,
           CAST(floor(CAST(max(cum_rev) AS DOUBLE)
                      / CAST(any_value(total) AS DOUBLE) * 10000) AS BIGINT)
               AS cum_share_e4,
           CAST(max(rn) * 10000 // any_value(nc) AS BIGINT) AS pop_share_e4
    FROM d GROUP BY decile ORDER BY decile
    """,
)
def q_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of revenue concentration: customers ordered
    poorest-first, cumulative revenue share sampled at each population
    decile — the curve whose gap to the diagonal is the Gini
    coefficient (q_gini's integral, emitted pointwise). Both global
    passes (rank and running revenue) are the distributed two-phase
    constructions (global_row_number / global_prefix_sum) over the
    same range partitioning, so the physical sort is shared; nothing
    funnels through one partition. Shares are e4 floors of
    decimal-derived doubles; the decimal cumulative sum itself is
    emitted as the exact check value."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_totalprice").cast("decimal(18,2)").alias("p")
    )
    spend = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(
            F.coalesce(F.sum("p"), F.lit(0).cast("decimal(18,2)")).alias("sp")
        )
    )
    order_cols = [F.col("sp"), F.col("c_custkey")]
    cum = global_prefix_sum(spend, order_cols, "sp", alias="cum_rev")
    ranked = global_row_number(cum, order_cols, alias="rn")
    # (nc, total) off the ranking operator's materialized output — not
    # a second customer⋈orders pass (round-14 optimization; count and
    # decimal sum are order-invariant over the same multiset)
    tot = ranked.agg(F.count("*").alias("nc"), F.sum("sp").alias("total"))
    d = ranked.crossJoin(F.broadcast(tot)).withColumn(
        "decile", F.expr("CAST((rn - 1) * 10 div nc + 1 AS INT)")
    )
    return (
        d.groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.max("cum_rev").cast("string").alias("cum_revenue"),
            F.floor(
                F.max("cum_rev").cast("double")
                / F.first("total").cast("double")
                * 10000
            ).alias("cum_share_e4"),
            F.expr("max(rn) * 10000 div first(nc)").alias("pop_share_e4"),
        )
        .orderBy("decile")
    )


@query(
    "q_anomaly_mad",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
        FROM events GROUP BY event_type, d
    ),
    med AS (
        SELECT event_type, quantile_cont(n, 0.5) AS med
        FROM daily GROUP BY event_type
    ),
    dev AS (
        SELECT daily.event_type, d, n, med, abs(n - med) AS adev
        FROM daily JOIN med USING (event_type)
    ),
    mad AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT dev.event_type,
           strftime(d, '%Y-%m-%d') AS day,
           CAST(n AS BIGINT)       AS n,
           med, mad,
           CAST(floor(adev / mad * 10000) AS BIGINT) AS score_e4
    FROM dev JOIN mad USING (event_type)
    WHERE mad > 0
    ORDER BY score_e4 DESC, dev.event_type, d
    LIMIT 20
    """,
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly scoring: daily event volumes scored by
    |n - median| / MAD — the outlier detector that, unlike z-scores,
    a single spike cannot poison (median and MAD have a 50% breakdown
    point; mean/stddev break at one bad day). Two grouped exact-median
    passes over the CALENDAR-bounded daily table, medians broadcast
    back, top-20 scores with full (type, day) tie-break. Integer
    counts make both engines' interpolated medians bit-identical, so
    the e4-floored score cannot diverge."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count("*").alias("n"))
    med = daily.groupBy("event_type").agg(
        F.percentile("n", F.lit(0.5)).alias("med")
    )
    dev = daily.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("n") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .where(F.col("mad") > 0)
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("n").cast("long").alias("n"),
            "med",
            "mad",
            F.floor(F.col("adev") / F.col("mad") * 10000).alias("score_e4"),
        )
        .orderBy(F.col("score_e4").desc(), "event_type", "day")
        .limit(20)
    )


@query(
    "q_order_gap_dist",
    oracle="""
    WITH gaps AS (
        SELECT o_custkey,
               date_diff('day',
                         lag(o_orderdate) OVER (
                             PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey),
                         o_orderdate) AS gap
        FROM orders
    ),
    b AS (
        SELECT o_custkey, gap,
               CASE WHEN gap <= 7 THEN '0:0-7'
                    WHEN gap <= 30 THEN '1:8-30'
                    WHEN gap <= 90 THEN '2:31-90'
                    WHEN gap <= 365 THEN '3:91-365'
                    ELSE '4:366+' END AS bucket
        FROM gaps WHERE gap IS NOT NULL
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT)                  AS n_gaps,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(sum(gap) * 10000 // count(*) AS BIGINT) AS avg_gap_days_e4
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def q_order_gap_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase interval distribution: per-customer gaps between
    consecutive orders (lag over the customer's date order), bucketed
    into the reorder-cadence bands a replenishment model trains on.
    One shuffle on custkey; the mean gap per band is an e4 integer
    ratio of the exact day-sum. Bucket labels carry a numeric sort
    prefix so ORDER BY bucket is stable lexically on both engines."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap"),
    ).where(F.col("gap").isNotNull())
    bucket = (
        F.when(F.col("gap") <= 7, "0:0-7")
        .when(F.col("gap") <= 30, "1:8-30")
        .when(F.col("gap") <= 90, "2:31-90")
        .when(F.col("gap") <= 365, "3:91-365")
        .otherwise("4:366+")
    )
    return (
        gaps.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_gaps"),
            F.count_distinct("o_custkey").alias("n_customers"),
            F.expr("sum(gap) * 10000 div count(*)").alias("avg_gap_days_e4"),
        )
        .orderBy("bucket")
    )


@query(
    "q_runs_test",
    oracle="""
    WITH daily AS (
        SELECT CAST(year(o_orderdate) AS INT) AS yr,
               CAST(o_orderdate AS DATE) AS d, count(*) AS n
        FROM orders GROUP BY yr, d
    ),
    med AS (SELECT yr, quantile_cont(n, 0.5) AS med FROM daily GROUP BY yr),
    flags AS (
        SELECT daily.yr, d, (n >= med) AS above
        FROM daily JOIN med USING (yr)
    ),
    runs AS (
        SELECT yr, above,
               CASE WHEN lag(above) OVER (PARTITION BY yr ORDER BY d) IS NULL
                         OR above <> lag(above) OVER (PARTITION BY yr ORDER BY d)
                    THEN 1 ELSE 0 END AS chg
        FROM flags
    ),
    stats AS (
        SELECT yr,
               CAST(sum(chg) AS BIGINT)                       AS n_runs,
               CAST(sum(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
               CAST(sum(CASE WHEN above THEN 0 ELSE 1 END) AS BIGINT) AS n_below
        FROM runs GROUP BY yr
    )
    SELECT yr, n_runs, n_above, n_below,
           round((n_runs - (1.0 + 2.0 * n_above * n_below
                                  / (n_above + n_below)))
                 / sqrt(2.0 * n_above * n_below
                        * (2.0 * n_above * n_below - n_above - n_below)
                        / ((n_above + n_below) * (n_above + n_below)
                           * (n_above + n_below - 1.0))), 4) AS z
    FROM stats
    WHERE n_above > 0 AND n_below > 0
    ORDER BY yr
    """,
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test per year: are daily order volumes
    randomly scattered around their median, or do they streak
    (momentum/regime behavior a forecaster must know about)? Runs are
    counted by a lag() change detector over the ≤366-day per-year
    daily table (the calendar bound that keeps the window safe at any
    corpus size); the expected-run count and variance are closed-form
    rationals of the above/below counts, so z is computed from
    integer-derived doubles identical on both engines, and the sqrt
    makes a 4dp half-way collision measure-zero."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.col("o_orderdate").cast("date").alias("d"),
    ).agg(F.count("*").alias("n"))
    med = daily.groupBy("yr").agg(F.percentile("n", F.lit(0.5)).alias("med"))
    flags = daily.join(F.broadcast(med), "yr").select(
        "yr", "d", (F.col("n") >= F.col("med")).alias("above")
    )
    w = Window.partitionBy("yr").orderBy("d")
    runs = flags.withColumn(
        "chg",
        F.when(
            F.lag("above").over(w).isNull()
            | (F.col("above") != F.lag("above").over(w)),
            1,
        ).otherwise(0),
    )
    stats = runs.groupBy("yr").agg(
        F.sum("chg").alias("n_runs"),
        F.sum(F.when(F.col("above"), 1).otherwise(0)).alias("n_above"),
        F.sum(F.when(F.col("above"), 0).otherwise(1)).alias("n_below"),
    )
    na, nb, r = F.col("n_above"), F.col("n_below"), F.col("n_runs")
    expected = 1.0 + 2.0 * na * nb / (na + nb)
    variance = (
        2.0
        * na
        * nb
        * (2.0 * na * nb - na - nb)
        / ((na + nb) * (na + nb) * (na + nb - 1.0))
    )
    return (
        stats.where((na > 0) & (nb > 0))
        .select(
            "yr",
            "n_runs",
            "n_above",
            "n_below",
            F.round((r - expected) / F.sqrt(variance), 4).alias("z"),
        )
        .orderBy("yr")
    )


@query(
    "q_peak_detect",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
        FROM events GROUP BY event_type, d
    ),
    w AS (
        SELECT event_type, d, n,
               lag(n)  OVER win AS prev_n,
               lead(n) OVER win AS next_n,
               sum(n)   OVER (win ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
                   AS sum7,
               count(n) OVER (win ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
                   AS cnt7
        FROM daily
        WINDOW win AS (PARTITION BY event_type ORDER BY d)
    )
    SELECT event_type,
           strftime(d, '%Y-%m-%d')  AS day,
           CAST(n AS BIGINT)        AS n,
           CAST(prev_n AS BIGINT)   AS prev_n,
           CAST(next_n AS BIGINT)   AS next_n,
           CAST(sum7 AS BIGINT)     AS sum7,
           CAST(cnt7 AS BIGINT)     AS cnt7
    FROM w
    WHERE prev_n IS NOT NULL AND next_n IS NOT NULL
      AND n > prev_n AND n > next_n
      AND cnt7 >= 4 AND n * cnt7 * 5 > sum7 * 6
    ORDER BY event_type, d
    """,
)
def q_peak_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-peak detection on daily volumes: a day is a peak when it
    beats both neighbors AND exceeds 1.2× its trailing-week average —
    the spike-marking primitive behind alerting and campaign
    attribution. The 1.2× test is cross-multiplied to pure integers
    (n·cnt·5 > sum·6), so no float threshold exists anywhere; all
    windows run over the calendar-bounded daily table partitioned by
    event type."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count("*").alias("n"))
    win = Window.partitionBy("event_type").orderBy("d")
    trail = win.rowsBetween(-7, -1)
    w = (
        daily.withColumn("prev_n", F.lag("n").over(win))
        .withColumn("next_n", F.lead("n").over(win))
        .withColumn("sum7", F.sum("n").over(trail))
        .withColumn("cnt7", F.count("n").over(trail))
    )
    return (
        w.where(
            F.col("prev_n").isNotNull()
            & F.col("next_n").isNotNull()
            & (F.col("n") > F.col("prev_n"))
            & (F.col("n") > F.col("next_n"))
            & (F.col("cnt7") >= 4)
            & (F.col("n") * F.col("cnt7") * 5 > F.col("sum7") * 6)
        )
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("n").cast("long").alias("n"),
            F.col("prev_n").cast("long").alias("prev_n"),
            F.col("next_n").cast("long").alias("next_n"),
            F.col("sum7").cast("long").alias("sum7"),
            F.col("cnt7").cast("long").alias("cnt7"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "q_price_elasticity",
    oracle="""
    WITH bands AS (
        SELECT p_brand,
               CAST(floor(l_extendedprice / 1000) AS BIGINT) AS band,
               CAST(sum(l_quantity) AS BIGINT) AS qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand, band
    )
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_bands,
           CAST(sum(qty) AS BIGINT) AS total_qty,
           round(regr_slope(ln(CAST(qty AS DOUBLE)),
                            ln((band + 0.5) * 1000.0)), 4) AS elasticity,
           round(regr_r2(ln(CAST(qty AS DOUBLE)),
                         ln((band + 0.5) * 1000.0)), 4)    AS fit_r2
    FROM bands
    GROUP BY p_brand
    HAVING count(*) >= 3
    ORDER BY p_brand
    """,
)
def q_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log price elasticity per brand: regress ln(total quantity
    demanded in a price band) on ln(band midpoint price) — the demand
    curve slope a pricing model starts from. Quantities collapse to
    EXACT integers per (brand, band) FIRST (the scale move: the
    regression runs over ≤ #bands points per brand, never fact rows),
    and both log coordinates derive from those integers, so the only
    cross-engine drift is the final ≤20-point moment sum —
    4dp-rounded like every correlation in the suite."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_quantity"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    bands = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy(
            "p_brand",
            F.floor(F.col("l_extendedprice") / 1000)
            .cast("long")
            .alias("band"),
        )
        .agg(F.sum("l_quantity").cast("long").alias("qty"))
    )
    y = F.log(F.col("qty").cast("double"))
    x = F.log((F.col("band") + 0.5) * 1000.0)
    return (
        bands.groupBy("p_brand")
        .agg(
            F.count("*").alias("n_bands"),
            F.sum("qty").cast("long").alias("total_qty"),
            F.round(F.regr_slope(y, x), 4).alias("elasticity"),
            F.round(F.regr_r2(y, x), 4).alias("fit_r2"),
        )
        .where(F.col("n_bands") >= 3)
        .orderBy("p_brand")
    )


@query(
    "q_char_entropy",
    oracle="""
    WITH chars AS (
        SELECT source, ch
        FROM (SELECT source, unnest(string_split(lower(text), '')) AS ch
              FROM documents)
        WHERE ch <> ''
    ),
    freq AS (
        SELECT source, ch, count(*) AS c FROM chars GROUP BY source, ch
    )
    SELECT source,
           CAST(sum(c) AS BIGINT)   AS n_chars,
           CAST(count(*) AS BIGINT) AS n_distinct_chars,
           round(log2(CAST(sum(c) AS DOUBLE))
                 - sum(c * log2(CAST(c AS DOUBLE)))
                   / CAST(sum(c) AS DOUBLE), 4) AS entropy_bits
    FROM freq GROUP BY source ORDER BY source
    """,
)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per source — the one-number
    compressibility check that flags templated or synthetic text
    (natural English sits near 4.1 bits/char; boilerplate collapses
    far below). Uses the aggregation-friendly identity H = log2(N) -
    (sum c*log2 c)/N so the entropy falls out of ONE grouped pass over
    (source, char) counts — the char explosion collapses to the
    ~40-symbol alphabet per source before any further math, so the
    final double sum spans alphabet-bounded terms only, and the log
    values make a 4dp half-way collision measure-zero."""
    d = load_table(spark, sf_dir, "documents")
    chars = d.select(
        "source", F.explode(F.split(F.lower("text"), "")).alias("ch")
    ).where(F.col("ch") != "")
    freq = chars.groupBy("source", "ch").agg(F.count("*").alias("c"))
    n = F.sum("c").cast("double")
    return (
        freq.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_chars"),
            F.count("*").alias("n_distinct_chars"),
            F.round(
                F.log2(n)
                - F.sum(F.col("c") * F.log2(F.col("c").cast("double"))) / n,
                4,
            ).alias("entropy_bits"),
        )
        .orderBy("source")
    )


@query(
    "q_holiday_effect",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS yr,
           CAST(count(*) FILTER (day(o_orderdate) <= 3) AS BIGINT)
               AS n_month_start,
           CAST(count(*) FILTER (day(o_orderdate) > 3) AS BIGINT)
               AS n_rest,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    FILTER (day(o_orderdate) <= 3) AS VARCHAR)
               AS rev_month_start,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    FILTER (day(o_orderdate) > 3) AS VARCHAR)
               AS rev_rest,
           CAST(floor(
               (CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                         FILTER (day(o_orderdate) <= 3) AS DOUBLE)
                / count(*) FILTER (day(o_orderdate) <= 3))
               / (CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                           FILTER (day(o_orderdate) > 3) AS DOUBLE)
                  / count(*) FILTER (day(o_orderdate) > 3))
               * 10000) AS BIGINT) AS avg_ratio_e4
    FROM orders
    GROUP BY yr
    ORDER BY yr
    """,
)
def q_holiday_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-start effect per year: mean order value in the first
    three days of a month vs the rest — the payday/billing-cycle
    seasonality check (q_seasonality's day-of-week twin, on the
    day-of-month axis). One conditional-aggregation pass (FILTER
    clauses), decimal sums emitted exactly, the avg-ratio as an e4
    floor of decimal-derived doubles."""
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    is_start = F.dayofmonth("o_orderdate") <= 3
    sum_h = F.sum(F.when(is_start, price))
    sum_r = F.sum(F.when(~is_start, price))
    n_h = F.count(F.when(is_start, F.lit(1)))
    n_r = F.count(F.when(~is_start, F.lit(1)))
    return (
        o.groupBy(F.year("o_orderdate").cast("int").alias("yr"))
        .agg(
            n_h.alias("n_month_start"),
            n_r.alias("n_rest"),
            sum_h.cast("string").alias("rev_month_start"),
            sum_r.cast("string").alias("rev_rest"),
            F.floor(
                (sum_h.cast("double") / n_h)
                / (sum_r.cast("double") / n_r)
                * 10000
            ).alias("avg_ratio_e4"),
        )
        .orderBy("yr")
    )


@query(
    "q_keyword_mix",
    oracle="""
    WITH k AS (
        SELECT source, kw,
               CASE WHEN strpos(lower(text), kw) > 0 THEN 1 ELSE 0 END AS hit
        FROM documents,
             unnest(['data', 'model', 'learning', 'system']) AS t(kw)
    )
    SELECT source, kw,
           CAST(count(*) AS BIGINT)  AS n_docs,
           CAST(sum(hit) AS BIGINT)  AS n_hits,
           CAST(CAST(sum(hit) AS BIGINT) * 10000 // count(*) AS BIGINT)
               AS hit_rate_e4
    FROM k GROUP BY source, kw ORDER BY source, kw
    """,
)
def q_keyword_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword coverage per source: for a fixed probe vocabulary, the
    fraction of documents mentioning each term — the cheap topical
    fingerprint that flags source drift before a model retrains. The
    keyword list explodes from a literal array (a Generate, not a
    join), substring probes stay JVM-side, rates are e4 integer
    ratios."""
    d = load_table(spark, sf_dir, "documents")
    kws = F.array(*[F.lit(k) for k in ["data", "model", "learning", "system"]])
    k = d.select(
        "source",
        F.explode(kws).alias("kw"),
        F.lower("text").alias("lt"),
    ).withColumn(
        "hit", F.when(F.instr(F.col("lt"), F.col("kw")) > 0, 1).otherwise(0)
    )
    return (
        k.groupBy("source", "kw")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("hit").alias("n_hits"),
            F.expr("sum(hit) * 10000 div count(*)").alias("hit_rate_e4"),
        )
        .orderBy("source", "kw")
    )


@query(
    "q_supplier_share_shift",
    oracle="""
    WITH rev AS (
        SELECT CAST(year(l_shipdate) AS INT) AS yr, n_name,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY yr, n_name
    ),
    sh AS (
        SELECT yr, n_name, rev,
               CAST(rev AS DOUBLE)
                   / CAST(sum(rev) OVER (PARTITION BY yr) AS DOUBLE) AS share
        FROM rev
    )
    SELECT yr, n_name,
           CAST(rev AS VARCHAR) AS revenue,
           CAST(floor(share * 10000) AS BIGINT) AS share_e4,
           CAST(floor((share - lag(share) OVER (
                 PARTITION BY n_name ORDER BY yr)) * 10000) AS BIGINT)
               AS share_delta_e4
    FROM sh
    ORDER BY yr, n_name
    """,
)
def q_supplier_share_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-base concentration drift: each supplier nation's share
    of annual shipped revenue and its year-over-year delta — the
    sourcing-risk dashboard row. Decimal revenue sums; the share
    window runs over ≤|nations| rows per year and the delta lag over
    ≤|years| rows per nation (both dimension-bounded); share deltas
    subtract the UNROUNDED shares (identical decimal-derived doubles
    on both engines). Emitted as e4 FLOORS, not round(,4): shares are
    money-shaped rational quotients, exactly the class where the 5th
    decimal can land on an exact half and the two engines' rounding
    libraries split (round-6 advice; module-header rule) — the query
    re-enters the round-7 window to refresh its external record under
    the changed columns."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.year("l_shipdate").cast("int").alias("yr"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("p"),
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("yr", "n_name")
        .agg(F.sum("p").alias("rev"))
    )
    wyr = Window.partitionBy("yr")
    wlag = Window.partitionBy("n_name").orderBy("yr")
    sh = rev.withColumn(
        "share",
        F.col("rev").cast("double") / F.sum("rev").over(wyr).cast("double"),
    )
    return sh.select(
        "yr",
        "n_name",
        F.col("rev").cast("string").alias("revenue"),
        F.floor(F.col("share") * 10000).alias("share_e4"),
        F.floor(
            (F.col("share") - F.lag("share").over(wlag)) * 10000
        ).alias("share_delta_e4"),
    ).orderBy("yr", "n_name")


@query(
    "q_return_affinity",
    oracle="""
    WITH per_brand AS (
        SELECT p_brand,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_returned
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    ),
    tot AS (
        SELECT sum(n_lines) AS tot_n, sum(n_returned) AS tot_r FROM per_brand
    )
    SELECT p_brand, n_lines, n_returned,
           CAST(n_returned * 10000 // n_lines AS BIGINT) AS return_rate_e4,
           CAST(n_returned * tot_n * 10000
                // nullif(n_lines * tot_r, 0) AS BIGINT) AS lift_e4
    FROM per_brand, tot
    ORDER BY p_brand
    """,
)
def q_return_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-rate affinity by brand: which brands come back more
    often than the corpus base rate (lift > 1e4) — the defect/abuse
    signal a catalog-quality pipeline ranks on. Pure integer counts;
    the lift is exact 64-bit integer arithmetic (n_ret·N·1e4 //
    (n·R)) with one 1-row broadcast cross for the corpus totals, so
    no float exists anywhere in the output."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    per_brand = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("n_returned"),
        )
    )
    tot = per_brand.agg(
        F.sum("n_lines").alias("tot_n"), F.sum("n_returned").alias("tot_r")
    )
    return (
        per_brand.crossJoin(F.broadcast(tot))
        .select(
            "p_brand",
            "n_lines",
            "n_returned",
            F.expr("n_returned * 10000 div n_lines").alias("return_rate_e4"),
            # nullif: a corpus with zero returns anywhere makes tot_r
            # 0 — Spark ANSI div would throw where DuckDB yields NULL
            F.expr(
                "n_returned * tot_n * 10000 div nullif(n_lines * tot_r, 0)"
            ).alias("lift_e4"),
        )
        .orderBy("p_brand")
    )


@query(
    "q_clv_simple",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers,
           CAST(count(o_orderkey) AS BIGINT)         AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
               AS total_revenue,
           CAST(count(o_orderkey) * 10000 // count(DISTINCT c_custkey)
                AS BIGINT) AS orders_per_cust_e4,
           CAST(floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                           AS DOUBLE)
                      / count(DISTINCT c_custkey) * 10000) AS BIGINT)
               AS clv_e4
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q_clv_simple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historic customer lifetime value by market segment: orders per
    customer and revenue per customer — the naive-CLV baseline every
    cohort model is benchmarked against. One join + one grouped pass;
    frequency is an exact integer e4 ratio and CLV an e4 floor of the
    decimal revenue over the exact distinct-customer count."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count_distinct("c_custkey").alias("n_customers"),
            F.count("o_orderkey").alias("n_orders"),
            F.sum("p").cast("string").alias("total_revenue"),
            F.expr(
                "count(o_orderkey) * 10000 div count(DISTINCT c_custkey)"
            ).alias("orders_per_cust_e4"),
            F.floor(
                F.sum("p").cast("double")
                / F.count_distinct("c_custkey")
                * 10000
            ).alias("clv_e4"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q_backlog_aging",
    oracle="""
    WITH maxd AS (SELECT max(o_orderdate) AS mx FROM orders),
    aged AS (
        SELECT date_diff('day', o_orderdate, mx) AS age,
               CAST(o_totalprice AS DECIMAL(18,2)) AS p
        FROM orders, maxd WHERE o_orderstatus = 'O'
    ),
    b AS (
        SELECT CASE WHEN age <= 365 THEN '0:0-1y'
                    WHEN age <= 730 THEN '1:1-2y'
                    WHEN age <= 1095 THEN '2:2-3y'
                    ELSE '3:3y+' END AS bucket,
               p
        FROM aged
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT)  AS n_orders,
           CAST(sum(p) AS VARCHAR)   AS open_value,
           CAST(count(*) * 10000 // sum(count(*)) OVER () AS BIGINT)
               AS pct_e4
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def q_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging: orders still in status 'O' bucketed
    by age against the corpus frontier date — the working-capital
    report. The frontier max is a 1-row broadcast cross; buckets are
    integer day arithmetic with lexically-ordered labels; open value
    is an exact decimal sum and the mix an e4 integer share (the
    share window runs over the 4-row bucket aggregate)."""
    o = load_table(spark, sf_dir, "orders")
    maxd = o.agg(F.max("o_orderdate").alias("mx"))
    aged = (
        o.where(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(maxd))
        .select(
            F.datediff(F.col("mx"), F.col("o_orderdate")).alias("age"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        )
    )
    bucket = (
        F.when(F.col("age") <= 365, "0:0-1y")
        .when(F.col("age") <= 730, "1:1-2y")
        .when(F.col("age") <= 1095, "2:2-3y")
        .otherwise("3:3y+")
    )
    g = aged.withColumn("bucket", bucket).groupBy("bucket").agg(
        F.count("*").alias("n_orders"),
        F.sum("p").cast("string").alias("open_value"),
    )
    wall = Window.partitionBy()
    return (
        g.withColumn("__tot", F.sum("n_orders").over(wall))
        .select(
            "bucket",
            "n_orders",
            "open_value",
            F.expr("n_orders * 10000 div __tot").alias("pct_e4"),
        )
        .orderBy("bucket")
    )
