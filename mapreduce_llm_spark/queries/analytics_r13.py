"""Round-13 registered surface — 50 oracle-backed analytics queries,
hash-proven through the driver-gate harness at sf0.01 AND the sf0.1 sweep env
before registration.

Tranche themes — capacity, interleaving, and positional structure:

- **Capacity headroom** (q_peak_to_mean, q_burst_ratio): peak-to-mean
  and burst-to-median load ratios — the two numbers an autoscaler
  configuration starts from.
- **Dormancy survival** (q_dormancy_survival): the share of users
  whose longest silence exceeds 1/3/7 days — the churn-definition
  sensitivity table.
- **Within-session drift** (q_value_by_depth): does event value grow
  or decay with session position?
- **Fulfilment interleaving** (q_order_overlap, q_span_by_size): how
  often a customer's next order arrives before the previous one
  finished shipping, and how the shipping span stretches with order
  size.
- **Pricing calendar / assortment breadth** (q_discount_seasonality,
  q_brand_breadth): the discount month-curve and the cross-brand
  shopping distribution.
- **Positional text structure** (q_word_len_by_position,
  q_head_mass): word length across document thirds, and the token
  mass the top-10 words absorb.
- **Order-book economics** (tranche 7): positional pricing within
  the order, the status×priority mix matrix, pent-up-demand gap
  pricing, balance-band ordering behavior, brand discount policy.
- **Event-stream behavior** (tranche 8): per-type value momentum,
  hour-of-day value premium, the lifecycle activity-week curve, the
  props payload profile, per-user modal-type affinity.
- **Star mix & dispersion** (tranche 9): regional part-size mix,
  embedding sign balance, the nation demand league table,
  within-order value concentration, brand price laddering.

Determinism discipline: identical to the r11/r12 staging — exact
integer counts and e4/bp floors via nonneg integer division, round(,4)
only on the allowed log/sqrt/corr class, nullif/CASE guards, packed
nonneg-integer argmax, explicit (ts, event_id) tie-breaks in every
ordered window.

Plan-lint status: no cartesian products, no Python crossings, no
nested-loop joins — the r13 staged NLJ allowlist was EMPTY, so
nothing carries into tests/test_plan_lint.py::NLJ_OK.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_llm_spark.io import load_table
from mapreduce_llm_spark.queries.common import alpha_words
from mapreduce_llm_spark.registry import query

QueryFn = Callable[[SparkSession, str], DataFrame]

# ---------------------------------------------------------------------------
# Tranche 1 — capacity and dormancy.
# ---------------------------------------------------------------------------


@query(
    "q_peak_to_mean",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        GROUP BY event_type, date_trunc('hour', ts)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(max(n) AS BIGINT) AS peak_hour_events,
           CAST(sum(n) // count(*) AS BIGINT) AS mean_hour_events,
           CAST(max(n) * count(*) * 10000 // sum(n) AS BIGINT)
               AS peak_to_mean_e4
    FROM hourly
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_peak_to_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-to-mean hourly load per event type — the first number a
    capacity plan needs: provisioning for the mean drops peak traffic,
    provisioning for the peak wastes (peak/mean − 1) of the fleet
    (q_peak_load finds WHEN the peak is; this sizes it against the
    average). Hourly counts are one aggregation; the ratio is exact:
    max·n_hours·10⁴ // Σn (all int64, no mean rounding loss)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").cast("long").alias("n"))
    return (
        hourly.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_hours"),
            F.max("n").cast("long").alias("peak_hour_events"),
            F.expr("CAST(sum(n) div count(*) AS BIGINT)").alias(
                "mean_hour_events"
            ),
            F.expr(
                "CAST(max(n) * count(*) * 10000 div sum(n) AS BIGINT)"
            ).alias("peak_to_mean_e4"),
        )
        .orderBy("event_type")
    )


@query(
    "q_burst_ratio",
    oracle="""
    WITH win5 AS (
        SELECT event_type,
               epoch_us(ts) // 300000000 AS w5,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        GROUP BY event_type, epoch_us(ts) // 300000000
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(max(n) AS BIGINT) AS burst_peak,
           round(median(n) + 0.0, 4) AS median_window,
           CAST(floor((CAST(max(n) AS DOUBLE) * 10000.0)
                      / median(n)) AS BIGINT) AS burst_ratio_e4
    FROM win5
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_burst_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst ratio at the 5-minute grain: the busiest 5-minute window
    vs the MEDIAN occupied window per type — the rate-limiter sizing
    number (peak-to-mean at the hour grain smooths bursts away; rate
    limits live at minutes). Window keys are integer µs-epoch
    divisions — no timestamp truncation ambiguity; the median of
    integer counts interpolates to binary-exact .0/.5 doubles, and
    the ratio is one double multiply-divide under floor (the
    q_bot_score pattern — median(n) can be a .5, so integer division
    is unavailable and the pinned-double form is the exact one)."""
    ev = load_table(spark, sf_dir, "events")
    win5 = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 300000000").alias("w5"),
    ).agg(F.count("*").cast("long").alias("n"))
    return (
        win5.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_windows"),
            F.max("n").cast("long").alias("burst_peak"),
            F.round(
                F.expr("percentile(n, 0.5)") + F.lit(0.0), 4
            ).alias("median_window"),
            F.expr(
                "CAST(floor((CAST(max(n) AS DOUBLE) * 10000.0)"
                " / percentile(n, 0.5)) AS BIGINT)"
            ).alias("burst_ratio_e4"),
        )
        .orderBy("event_type")
    )


@query(
    "q_dormancy_survival",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               (epoch_us(ts) - lag(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id))
                   // 1000000 AS gap_s
        FROM events
    ),
    per_user AS (
        SELECT user_id, max(gap_s) AS max_gap_s
        FROM gaps
        WHERE gap_s IS NOT NULL
        GROUP BY user_id
    ),
    expanded AS (
        SELECT user_id, max_gap_s,
               unnest([CAST(1 AS BIGINT), CAST(3 AS BIGINT),
                       CAST(7 AS BIGINT)]) AS threshold_days
        FROM per_user
    )
    SELECT threshold_days,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN max_gap_s >= threshold_days * 86400
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dormant,
           CAST(sum(CASE WHEN max_gap_s >= threshold_days * 86400
                         THEN 1 ELSE 0 END) * 10000 // count(*)
               AS BIGINT) AS dormant_bp
    FROM expanded
    GROUP BY threshold_days
    ORDER BY threshold_days
    """,
)
def q_dormancy_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dormancy survival table: the share of (multi-event) users whose
    LONGEST silence reaches 1, 3, and 7 days — the churn-definition
    sensitivity row (q_churn_label commits to one cutoff; this shows
    how much the 'churned' population moves as the cutoff slides).
    The threshold grid explodes per user row (a column, not a join);
    whole-second gaps and day thresholds compare as exact integers."""
    ev = load_table(spark, sf_dir, "events")
    gaps = ev.select(
        "user_id",
        F.expr(
            "(unix_micros(ts) - lag(unix_micros(ts)) OVER ("
            "PARTITION BY user_id ORDER BY ts, event_id))"
            " div 1000000"
        ).alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    per_user = gaps.groupBy("user_id").agg(
        F.max("gap_s").alias("max_gap_s")
    )
    expanded = per_user.select(
        "max_gap_s",
        F.explode(
            F.array(
                F.lit(1).cast("long"),
                F.lit(3).cast("long"),
                F.lit(7).cast("long"),
            )
        ).alias("threshold_days"),
    )
    return (
        expanded.groupBy("threshold_days")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.expr(
                "CAST(sum(CASE WHEN max_gap_s >= threshold_days *"
                " 86400 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_dormant"),
            F.expr(
                "CAST(sum(CASE WHEN max_gap_s >= threshold_days *"
                " 86400 THEN 1 ELSE 0 END) * 10000 div count(*)"
                " AS BIGINT)"
            ).alias("dormant_bp"),
        )
        .orderBy("threshold_days")
    )


@query(
    "q_value_by_depth",
    oracle="""
    WITH positioned AS (
        SELECT least(CAST(row_number() OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                        AS BIGINT), CAST(10 AS BIGINT)) AS depth,
               CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v_e4
        FROM events
    )
    SELECT depth,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(v_e4) // count(*) AS BIGINT) AS mean_value_e4,
           CAST(max(v_e4) AS BIGINT) AS max_value_e4
    FROM positioned
    GROUP BY depth
    ORDER BY depth
    """,
)
def q_value_by_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event value by within-user position: mean value at each of the
    user's first 10 events (10+ capped) — a rising curve means value
    compounds with engagement (onboarding works), a falling one means
    the first touch is the valuable one (acquisition is everything).
    Position is a keyed row_number with the engine-wide
    (ts, event_id) tie-break; values quantize to exact e4 integers
    before any sum."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    positioned = ev.select(
        F.least(
            F.row_number().over(w).cast("long"),
            F.lit(10).cast("long"),
        ).alias("depth"),
        F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)").alias(
            "v_e4"
        ),
    )
    return (
        positioned.groupBy("depth")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.expr("CAST(sum(v_e4) div count(*) AS BIGINT)").alias(
                "mean_value_e4"
            ),
            F.max("v_e4").cast("long").alias("max_value_e4"),
        )
        .orderBy("depth")
    )


# ---------------------------------------------------------------------------
# Tranche 2 — fulfilment interleaving and pricing calendar.
# ---------------------------------------------------------------------------


@query(
    "q_order_overlap",
    oracle="""
    WITH spans AS (
        SELECT o.o_custkey, o.o_orderkey, o.o_orderdate,
               max(l.l_shipdate) AS last_ship
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_custkey, o.o_orderkey, o.o_orderdate
    ),
    seq AS (
        SELECT o_custkey, o_orderdate,
               lag(last_ship) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS prev_last_ship
        FROM spans
    )
    SELECT CAST(count(*) AS BIGINT) AS n_consecutive_pairs,
           CAST(sum(CASE WHEN o_orderdate < prev_last_ship
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
           CAST(sum(CASE WHEN o_orderdate < prev_last_ship
                         THEN 1 ELSE 0 END) * 10000 // count(*)
               AS BIGINT) AS overlap_bp
    FROM seq
    WHERE prev_last_ship IS NOT NULL
    """,
)
def q_order_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order interleaving: across each customer's consecutive orders,
    how often the NEXT order is placed before the previous one
    finished shipping — high overlap means customers don't wait for
    delivery to reorder (a loyalty signal, and a warehouse-contention
    one). One fact join to get each order's last ship date, then a
    keyed lag per customer ordered by (date, orderkey); the overlap
    test is a pure timestamp comparison."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    spans = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey", "o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
    )
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    seq = spans.select(
        "o_orderdate",
        F.lag("last_ship").over(w).alias("prev_last_ship"),
    ).where(F.col("prev_last_ship").isNotNull())
    return seq.agg(
        F.count("*").cast("long").alias("n_consecutive_pairs"),
        F.expr(
            "CAST(sum(CASE WHEN o_orderdate < prev_last_ship THEN 1"
            " ELSE 0 END) AS BIGINT)"
        ).alias("n_overlap"),
        F.expr(
            "CAST(sum(CASE WHEN o_orderdate < prev_last_ship THEN 1"
            " ELSE 0 END) * 10000 div count(*) AS BIGINT)"
        ).alias("overlap_bp"),
    )


@query(
    "q_span_by_size",
    oracle="""
    WITH per_order AS (
        SELECT l_orderkey,
               least(CAST(count(*) AS BIGINT), CAST(7 AS BIGINT))
                   AS n_lines,
               datediff('day', min(l_shipdate), max(l_shipdate))
                   AS span_d
        FROM lineitem
        GROUP BY l_orderkey
    )
    SELECT n_lines,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(span_d) // count(*) AS BIGINT) AS mean_span_days,
           CAST(max(span_d) AS BIGINT) AS max_span_days,
           CAST(sum(CASE WHEN span_d = 0 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS single_day_bp
    FROM per_order
    GROUP BY n_lines
    ORDER BY n_lines
    """,
)
def q_span_by_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping span vs order size: for orders of 1..7+ lines, the
    mean first-to-last-shipment stretch and the share that shipped in
    a single day — quantifies how much each extra line costs in
    consolidation (q_fulfillment_span gives the global percentiles;
    this is the size-conditioned curve a packing policy is tuned on).
    One aggregation of lineitem keyed by order; day spans are exact
    integer datediffs."""
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.least(
            F.count("*").cast("long"), F.lit(7).cast("long")
        ).alias("n_lines"),
        F.datediff(F.max("l_shipdate"), F.min("l_shipdate")).alias(
            "span_d"
        ),
    )
    return (
        per_order.groupBy("n_lines")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.expr("CAST(sum(span_d) div count(*) AS BIGINT)").alias(
                "mean_span_days"
            ),
            F.max("span_d").cast("long").alias("max_span_days"),
            F.expr(
                "CAST(sum(CASE WHEN span_d = 0 THEN 1 ELSE 0 END)"
                " * 10000 div count(*) AS BIGINT)"
            ).alias("single_day_bp"),
        )
        .orderBy("n_lines")
    )


@query(
    "q_discount_seasonality",
    oracle="""
    WITH lines AS (
        SELECT CAST(extract(month FROM l_shipdate) AS BIGINT) AS mo,
               CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
                   AS disc_e2,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                   AS ext_cents
        FROM lineitem
    )
    SELECT mo,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(disc_e2) * 100 // count(*) AS BIGINT)
               AS mean_disc_bp,
           CAST(sum(ext_cents * disc_e2) // 100 AS BIGINT)
               AS discount_given_cents
    FROM lines
    GROUP BY mo
    ORDER BY mo
    """,
)
def q_discount_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount calendar: mean discount rate and total discount
    dollars given per calendar month (all years pooled) — does the
    synthetic pricing engine run seasonal promotions?
    (q_return_seasonality tracks the return flow by month; this
    tracks the margin given away.) The given-discount total is
    Σ(cents·disc_e2)/100 — integer-exact where a double Σ(price·disc)
    would drift with summation order."""
    li = load_table(spark, sf_dir, "lineitem")
    lines = li.select(
        F.expr("CAST(extract(month FROM l_shipdate) AS BIGINT)").alias(
            "mo"
        ),
        F.expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)").alias(
            "disc_e2"
        ),
        F.expr(
            "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
        ).alias("ext_cents"),
    )
    return (
        lines.groupBy("mo")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.expr(
                "CAST(sum(disc_e2) * 100 div count(*) AS BIGINT)"
            ).alias("mean_disc_bp"),
            F.expr(
                "CAST(sum(ext_cents * disc_e2) div 100 AS BIGINT)"
            ).alias("discount_given_cents"),
        )
        .orderBy("mo")
    )


@query(
    "q_brand_breadth",
    oracle="""
    WITH per_cust AS (
        SELECT o.o_custkey,
               CAST(count(DISTINCT p.p_brand) AS BIGINT) AS n_brands
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY o.o_custkey
    )
    SELECT least(n_brands, CAST(10 AS BIGINT)) AS brand_band,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(count(*) * 10000 // sum(count(*)) OVER () AS BIGINT)
               AS share_bp
    FROM per_cust
    GROUP BY least(n_brands, CAST(10 AS BIGINT))
    ORDER BY brand_band
    """,
)
def q_brand_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-brand shopping breadth: the distribution of distinct
    brands each buying customer has purchased (capped at 10+) —
    single-brand customers are loyalty-program targets, wide shoppers
    are price shoppers (q_brand_loyalty computes a share-of-wallet
    number; this is the population histogram it slots into). A
    three-table star join, one distinct count keyed by customer, and
    a windowed share over the ≤10-row band aggregate."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    per_cust = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .join(p, p.p_partkey == li.l_partkey)
        .groupBy("o_custkey")
        .agg(F.countDistinct("p_brand").cast("long").alias("n_brands"))
    )
    banded = per_cust.groupBy(
        F.least(F.col("n_brands"), F.lit(10).cast("long")).alias(
            "brand_band"
        )
    ).agg(F.count("*").cast("long").alias("n_customers"))
    return banded.select(
        "brand_band",
        "n_customers",
        F.expr(
            "CAST(n_customers * 10000 div (sum(n_customers) OVER ())"
            " AS BIGINT)"
        ).alias("share_bp"),
    ).orderBy("brand_band")


# ---------------------------------------------------------------------------
# Tranche 3 — positional text structure.
# ---------------------------------------------------------------------------


@query(
    "q_word_len_by_position",
    oracle="""
    WITH words AS (
        SELECT lang,
               list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                           x -> x <> '') AS ws
        FROM documents
    ),
    positioned AS (
        SELECT lang,
               least((i - 1) * 3 // CAST(len(ws) AS BIGINT),
                     CAST(2 AS BIGINT)) AS third,
               CAST(length(ws[i]) AS BIGINT) AS wlen
        FROM (
            SELECT lang, ws,
                   unnest(generate_series(
                       CAST(1 AS BIGINT),
                       CAST(len(ws) AS BIGINT))) AS i
            FROM words
            WHERE len(ws) >= 3
        )
    )
    SELECT lang, third,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(wlen) * 100 // count(*) AS BIGINT)
               AS mean_word_len_e2
    FROM positioned
    GROUP BY lang, third
    ORDER BY lang, third
    """,
)
def q_word_len_by_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word length across document thirds per language: mean word
    length (e2) in the opening, middle, and closing third — boilerplate
    openings and signature closings skew short; a flat profile means
    positional truncation (taking the first N words as a 'summary') is
    representative, a sloped one means it biases the vocabulary. The
    third index is an exact integer floor (i−1)·3 // len capped at 2;
    one posexplode and one aggregation."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "lang", alpha_words(F.col("text")).alias("ws")
    ).where(F.size("ws") >= 3)
    positioned = words.select(
        "lang",
        F.posexplode("ws").alias("i0", "w"),
        F.size("ws").cast("long").alias("len"),
    ).select(
        "lang",
        F.least(
            F.expr("CAST(i0 AS BIGINT) * 3 div len"),
            F.lit(2).cast("long"),
        ).alias("third"),
        F.length("w").cast("long").alias("wlen"),
    )
    return (
        positioned.groupBy("lang", "third")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.expr(
                "CAST(sum(wlen) * 100 div count(*) AS BIGINT)"
            ).alias("mean_word_len_e2"),
        )
        .orderBy("lang", "third")
    )


@query(
    "q_head_mass",
    oracle="""
    WITH wc AS (
        SELECT lang, w, CAST(count(*) AS BIGINT) AS n
        FROM (
            SELECT lang,
                   unnest(list_filter(
                       regexp_split_to_array(lower(text), '[^a-z]+'),
                       x -> x <> '')) AS w
            FROM documents
        )
        GROUP BY lang, w
    ),
    ranked AS (
        SELECT lang, n,
               row_number() OVER (
                   PARTITION BY lang ORDER BY n DESC, w) AS rk
        FROM wc
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN rk <= 10 THEN n ELSE 0 END) AS BIGINT)
               AS head_tokens,
           CAST(sum(CASE WHEN rk <= 10 THEN n ELSE 0 END) * 10000
                // sum(n) AS BIGINT) AS head_mass_bp
    FROM ranked
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_head_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head mass per language: the share of all tokens absorbed by the
    10 most frequent words — the one number that decides whether a
    stopword list is worth maintaining (head mass ≫ 10/V means yes;
    q_vocab_gini integrates the whole curve, this reads its head).
    Frequency ranks use row_number over the per-language VOCABULARY
    aggregate with the word as tie-break (deterministic; head mass is
    tie-order invariant only when rank-10 ties are broken identically
    on both engines — hence the explicit tie-break)."""
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(
            "lang", F.explode(alpha_words(F.col("text"))).alias("w")
        )
        .groupBy("lang", "w")
        .agg(F.count("*").cast("long").alias("n"))
    )
    ranked = wc.select(
        "lang",
        "n",
        F.row_number()
        .over(
            Window.partitionBy("lang").orderBy(F.col("n").desc(), "w")
        )
        .alias("rk"),
    )
    return (
        ranked.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("vocab_size"),
            F.sum("n").cast("long").alias("n_tokens"),
            F.expr(
                "CAST(sum(CASE WHEN rk <= 10 THEN n ELSE 0 END)"
                " AS BIGINT)"
            ).alias("head_tokens"),
            F.expr(
                "CAST(sum(CASE WHEN rk <= 10 THEN n ELSE 0 END)"
                " * 10000 div sum(n) AS BIGINT)"
            ).alias("head_mass_bp"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Tranche 4 (seed extension) — pricing structure and tail risk.
# ---------------------------------------------------------------------------


@query(
    "q_size_price_slope",
    oracle="""
    WITH pts AS (
        SELECT p_type,
               CAST(p_size AS BIGINT) AS x,
               CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS y
        FROM part
    ),
    sums AS (
        SELECT p_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM pts
        GROUP BY p_type
    )
    SELECT p_type, n,
           CAST(CASE WHEN n * sxx - sx * sx > 0 THEN
                floor((CAST(n * sxy - sx * sy AS DOUBLE) * 100.0)
                      / CAST(n * sxx - sx * sx AS DOUBLE))
                END AS BIGINT) AS slope_cents_per_size_e2,
           CAST(sy // n AS BIGINT) AS mean_price_cents
    FROM sums
    ORDER BY p_type
    """,
)
def q_size_price_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size premium per product type: the exact OLS slope of retail
    price (cents) on part size — does a bigger size command a higher
    list price, and does the premium differ by type? (q_rolling_ols
    fits time windows; this is the cross-sectional catalog fit.) All
    four moment sums are exact int64 (size ≤ 50, cents ≤ 10⁵, so
    Σxy ≤ 5·10⁶·|parts| stays safe at any SF); the slope is the
    one-double-divide floor pattern, e2, with the degenerate
    zero-variance guard emitting NULL rather than dividing."""
    p = load_table(spark, sf_dir, "part")
    pts = p.select(
        "p_type",
        F.col("p_size").cast("long").alias("x"),
        F.expr("CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)").alias(
            "y"
        ),
    )
    sums = pts.groupBy("p_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    return sums.select(
        "p_type",
        "n",
        F.expr(
            "CAST(CASE WHEN n * sxx - sx * sx > 0 THEN"
            " floor((CAST(n * sxy - sx * sy AS DOUBLE) * 100.0)"
            " / CAST(n * sxx - sx * sx AS DOUBLE)) END AS BIGINT)"
        ).alias("slope_cents_per_size_e2"),
        F.expr("CAST(sy div n AS BIGINT)").alias("mean_price_cents"),
    ).orderBy("p_type")


@query(
    "q_iqr_outliers",
    oracle="""
    WITH vals AS (
        SELECT event_type,
               CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v_e4
        FROM events
    ),
    fences AS (
        SELECT event_type,
               quantile_cont(v_e4, 0.25) AS q1,
               quantile_cont(v_e4, 0.75) AS q3
        FROM vals
        GROUP BY event_type
    )
    SELECT v.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN CAST(v.v_e4 AS DOUBLE)
                              > f.q3 + 1.5 * (f.q3 - f.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           CAST(sum(CASE WHEN CAST(v.v_e4 AS DOUBLE)
                              < f.q1 - 1.5 * (f.q3 - f.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(sum(CASE WHEN CAST(v.v_e4 AS DOUBLE)
                              > f.q3 + 1.5 * (f.q3 - f.q1)
                           OR CAST(v.v_e4 AS DOUBLE)
                              < f.q1 - 1.5 * (f.q3 - f.q1)
                         THEN 1 ELSE 0 END) * 10000 // count(*)
               AS BIGINT) AS outlier_bp
    FROM vals v
    JOIN fences f ON f.event_type = v.event_type
    GROUP BY v.event_type
    ORDER BY v.event_type
    """,
)
def q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier share per event type: events outside
    [Q1 − 1.5·IQR, Q3 + 1.5·IQR] of their type's value distribution —
    the boxplot definition every monitoring dashboard defaults to
    (q_anomaly_mad fences by MAD, q_clip_outliers by percentile; the
    IQR fence is the third standard and the one with a fixed 0.7%
    Gaussian false-positive rate). Quartiles interpolate e4 integers
    at dyadic fractions (.25/.75 → exact doubles, identical engines);
    the fence arithmetic is double but shared-form; counts and bp are
    exact. The fences join is per-type (a ≤|types|-row leg, AQE
    broadcasts it unhinted)."""
    ev = load_table(spark, sf_dir, "events")
    vals = ev.select(
        "event_type",
        F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)").alias(
            "v_e4"
        ),
    )
    fences = vals.groupBy("event_type").agg(
        F.expr("percentile(v_e4, 0.25)").alias("q1"),
        F.expr("percentile(v_e4, 0.75)").alias("q3"),
    )
    joined = vals.join(fences, "event_type")
    hi = F.col("v_e4").cast("double") > F.col("q3") + 1.5 * (
        F.col("q3") - F.col("q1")
    )
    lo = F.col("v_e4").cast("double") < F.col("q1") - 1.5 * (
        F.col("q3") - F.col("q1")
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias(
                "n_high"
            ),
            F.sum(F.when(lo, 1).otherwise(0)).cast("long").alias(
                "n_low"
            ),
            F.expr(
                "CAST(sum(CASE WHEN CAST(v_e4 AS DOUBLE) > q3 + 1.5 *"
                " (q3 - q1) OR CAST(v_e4 AS DOUBLE) < q1 - 1.5 * (q3"
                " - q1) THEN 1 ELSE 0 END) * 10000 div count(*)"
                " AS BIGINT)"
            ).alias("outlier_bp"),
        )
        .orderBy("event_type")
    )


@query(
    "q_delay_tail_risk",
    oracle="""
    WITH delays AS (
        SELECT o.o_orderpriority AS prio,
               datediff('day', o.o_orderdate, l.l_shipdate) AS delay_d
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )
    SELECT prio,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN delay_d > 60 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_over_60d,
           CAST(sum(CASE WHEN delay_d > 60 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS over_60d_bp,
           CAST(sum(CASE WHEN delay_d > 90 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS over_90d_bp,
           CAST(max(delay_d) AS BIGINT) AS max_delay_d
    FROM delays
    GROUP BY prio
    ORDER BY prio
    """,
)
def q_delay_tail_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfilment tail risk per priority: the share of lineitems
    shipping more than 60 and 90 days after order — medians
    (q_priority_inversion) rank typical service; customers churn on
    the TAIL, and a priority class whose 90-day exceedance is nonzero
    is an SLA breach whatever its median says. One fact join, exact
    integer day counts and bp floors."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    delays = o.join(li, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("prio"),
        F.datediff("l_shipdate", "o_orderdate").alias("delay_d"),
    )
    return (
        delays.groupBy("prio")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.expr(
                "CAST(sum(CASE WHEN delay_d > 60 THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_over_60d"),
            F.expr(
                "CAST(sum(CASE WHEN delay_d > 60 THEN 1 ELSE 0 END)"
                " * 10000 div count(*) AS BIGINT)"
            ).alias("over_60d_bp"),
            F.expr(
                "CAST(sum(CASE WHEN delay_d > 90 THEN 1 ELSE 0 END)"
                " * 10000 div count(*) AS BIGINT)"
            ).alias("over_90d_bp"),
            F.max("delay_d").cast("long").alias("max_delay_d"),
        )
        .orderBy("prio")
    )


@query(
    "q_dom_profile",
    oracle="""
    WITH dom AS (
        SELECT CAST(extract(day FROM o_orderdate) AS BIGINT) AS dom,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                   AS cents
        FROM orders
    )
    SELECT dom,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(*) * 10000 // sum(count(*)) OVER () AS BIGINT)
               AS share_bp,
           CAST(sum(cents) // count(*) AS BIGINT)
               AS mean_order_cents
    FROM dom
    GROUP BY dom
    ORDER BY dom
    """,
)
def q_dom_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-month order profile: volume share and mean order value
    for each calendar day 1–31 — the full curve behind
    q_month_end_load's tail summary (billing cycles, payday humps,
    and the mechanical 29–31 dip from short months all read directly
    off it). One aggregation; the share is a windowed bp floor over
    the 31-row aggregate."""
    o = load_table(spark, sf_dir, "orders")
    dom = o.select(
        F.expr("CAST(extract(day FROM o_orderdate) AS BIGINT)").alias(
            "dom"
        ),
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
    )
    agg = dom.groupBy("dom").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.expr("CAST(sum(cents) div count(*) AS BIGINT)").alias(
            "mean_order_cents"
        ),
    )
    return agg.select(
        "dom",
        "n_orders",
        F.expr(
            "CAST(n_orders * 10000 div (sum(n_orders) OVER ())"
            " AS BIGINT)"
        ).alias("share_bp"),
        "mean_order_cents",
    ).orderBy("dom")


@query(
    "q_brand_quantity_mix",
    oracle="""
    WITH lines AS (
        SELECT p.p_brand,
               CAST(floor(l.l_quantity + 0.5) AS BIGINT) AS qty
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
    )
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(qty) AS BIGINT) AS total_units,
           CAST(sum(qty) * 100 // count(*) AS BIGINT)
               AS mean_qty_e2,
           CAST(sum(CASE WHEN qty >= 40 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS bulk_line_bp
    FROM lines
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def q_brand_quantity_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-quantity mix per brand: mean units per line (e2) and the
    share of bulk lines (≥40 units) — separates brands moving by the
    pallet from brands moving by the piece, the demand-shape input to
    both replenishment and the q_discount_by_quantity schedule.
    Quantities are integral doubles floored to exact int64; one join,
    one aggregation, all integer emissions."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    lines = li.join(p, p.p_partkey == li.l_partkey).select(
        "p_brand",
        F.expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").alias("qty"),
    )
    return (
        lines.groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum("qty").cast("long").alias("total_units"),
            F.expr(
                "CAST(sum(qty) * 100 div count(*) AS BIGINT)"
            ).alias("mean_qty_e2"),
            F.expr(
                "CAST(sum(CASE WHEN qty >= 40 THEN 1 ELSE 0 END)"
                " * 10000 div count(*) AS BIGINT)"
            ).alias("bulk_line_bp"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# Tranche 5 (seed extension) — temporal correlation and cohort value.
# ---------------------------------------------------------------------------


@query(
    "q_gap_autocorr",
    oracle="""
    WITH gaps AS (
        SELECT event_type,
               (epoch_us(ts) - lag(epoch_us(ts)) OVER (
                    PARTITION BY event_type ORDER BY ts, event_id))
                   // 1000000 AS gap_s,
               ts, event_id
        FROM events
    ),
    pairs AS (
        SELECT event_type, gap_s,
               lead(gap_s) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id)
                   AS next_gap_s
        FROM gaps
        WHERE gap_s IS NOT NULL
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(corr(CAST(gap_s AS DOUBLE),
                      CAST(next_gap_s AS DOUBLE)) + 0.0, 4)
               AS gap_autocorr
    FROM pairs
    WHERE next_gap_s IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_gap_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of inter-event gaps per type: do long
    silences follow long silences? Positive autocorrelation means
    clustered arrivals (bursts + lulls — a Poisson model underprovisions
    the bursts); zero backs the memoryless model q_interarrival_hazard
    tests from the hazard side. Gaps and their successors come from
    two stacked keyed windows with the engine-wide (ts, event_id)
    tie-break; corr on exact integer seconds is the allowed round(,4)
    class."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.expr(
            "(unix_micros(ts) - lag(unix_micros(ts)) OVER ("
            "PARTITION BY event_type ORDER BY ts, event_id))"
            " div 1000000"
        ).alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    pairs = gaps.select(
        "event_type",
        "gap_s",
        F.lead("gap_s").over(w).alias("next_gap_s"),
    ).where(F.col("next_gap_s").isNotNull())
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(
                F.corr(
                    F.col("gap_s").cast("double"),
                    F.col("next_gap_s").cast("double"),
                )
                + F.lit(0.0),
                4,
            ).alias("gap_autocorr"),
        )
        .orderBy("event_type")
    )


@query(
    "q_tenure_value",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               datediff('day', min(o_orderdate), max(o_orderdate))
                   AS tenure_d,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                             AS BIGINT)) AS BIGINT) AS spend_cents
        FROM orders
        GROUP BY o_custkey
    )
    SELECT least(tenure_d // 365, CAST(6 AS BIGINT)) AS tenure_years,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(n_orders) * 100 // count(*) AS BIGINT)
               AS mean_orders_e2,
           CAST(sum(spend_cents) // count(*) AS BIGINT)
               AS mean_spend_cents
    FROM per_cust
    GROUP BY least(tenure_d // 365, CAST(6 AS BIGINT))
    ORDER BY tenure_years
    """,
)
def q_tenure_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer value by tenure: order count and total spend banded by
    the years between a customer's first and last order — the
    cheapest lifetime-value table there is (q_cohort_ltv tracks value
    by ACQUISITION cohort over calendar time; this collapses it to
    the tenure axis a retention program budgets against). One
    aggregation per customer, exact cents and day arithmetic."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.datediff(F.max("o_orderdate"), F.min("o_orderdate")).alias(
            "tenure_d"
        ),
        F.count("*").cast("long").alias("n_orders"),
        F.sum(
            F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
        )
        .cast("long")
        .alias("spend_cents"),
    )
    return (
        per_cust.groupBy(
            F.least(
                F.expr("tenure_d div 365"), F.lit(6).cast("long")
            ).alias("tenure_years")
        )
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.expr(
                "CAST(sum(n_orders) * 100 div count(*) AS BIGINT)"
            ).alias("mean_orders_e2"),
            F.expr(
                "CAST(sum(spend_cents) div count(*) AS BIGINT)"
            ).alias("mean_spend_cents"),
        )
        .orderBy("tenure_years")
    )


@query(
    "q_ttr_by_length",
    oracle="""
    WITH per_doc AS (
        SELECT CAST(len(list_filter(
                   regexp_split_to_array(lower(text), '[^a-z]+'),
                   x -> x <> '')) AS BIGINT) AS n_words,
               CAST(len(list_distinct(list_filter(
                   regexp_split_to_array(lower(text), '[^a-z]+'),
                   x -> x <> ''))) AS BIGINT) AS n_distinct
        FROM documents
    )
    SELECT least(n_words // 50, CAST(5 AS BIGINT)) AS length_band,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) // count(*) AS BIGINT) AS mean_words,
           CAST(sum(n_distinct) * 10000 // sum(n_words) AS BIGINT)
               AS pooled_ttr_e4
    FROM per_doc
    WHERE n_words >= 1
    GROUP BY least(n_words // 50, CAST(5 AS BIGINT))
    ORDER BY length_band
    """,
)
def q_ttr_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio by document length band (50-word bands): the
    pooled distinct-to-total word ratio per band — TTR falls
    mechanically with length (Heaps' law; q_ttr_heaps fits the
    exponent), so comparing RAW TTRs across sources with different
    length mixes lies: this table is the length-controlled baseline
    to compare against. Array-side distinct counts (no token
    explode), exact integer bp pooling."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        F.size(alpha_words(F.col("text"))).cast("long").alias("n_words"),
        F.size(F.array_distinct(alpha_words(F.col("text"))))
        .cast("long")
        .alias("n_distinct"),
    ).where(F.col("n_words") >= 1)
    return (
        per_doc.groupBy(
            F.least(
                F.expr("n_words div 50"), F.lit(5).cast("long")
            ).alias("length_band")
        )
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.expr(
                "CAST(sum(n_words) div count(*) AS BIGINT)"
            ).alias("mean_words"),
            F.expr(
                "CAST(sum(n_distinct) * 10000 div sum(n_words)"
                " AS BIGINT)"
            ).alias("pooled_ttr_e4"),
        )
        .orderBy("length_band")
    )


@query(
    "q_rank_stability",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        GROUP BY event_type, date_trunc('day', ts)
    ),
    ranked AS (
        SELECT event_type, day,
               CAST(row_number() OVER (
                   PARTITION BY day
                   ORDER BY n DESC, event_type) AS BIGINT) AS rk
        FROM daily
    ),
    deltas AS (
        SELECT event_type, rk,
               lag(rk) OVER (
                   PARTITION BY event_type ORDER BY day) AS prev_rk
        FROM ranked
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days_with_prev,
           CAST(sum(rk) * 100 // count(*) AS BIGINT) AS mean_rank_e2,
           CAST(sum(abs(rk - prev_rk)) * 100 // count(*) AS BIGINT)
               AS mean_abs_rank_change_e2
    FROM deltas
    WHERE prev_rk IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_rank_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily leaderboard stability: each event type's volume rank per
    day (ties broken by name) and the mean absolute day-over-day rank
    move — a stable ranking means dashboards sorted by volume stay
    readable; churn near the top means the mix genuinely rotates
    (q_daily_mix_entropy scores the mix's spread; this scores its
    ORDER). Per-day ranking is a window over the ≤|types|-row daily
    aggregate; rank deltas are exact integers through a keyed lag."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").cast("long").alias("n"))
    ranked = daily.select(
        "event_type",
        "day",
        F.row_number()
        .over(
            Window.partitionBy("day").orderBy(
                F.col("n").desc(), "event_type"
            )
        )
        .cast("long")
        .alias("rk"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    deltas = ranked.select(
        "event_type",
        "rk",
        F.lag("rk").over(w).alias("prev_rk"),
    ).where(F.col("prev_rk").isNotNull())
    return (
        deltas.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_days_with_prev"),
            F.expr(
                "CAST(sum(rk) * 100 div count(*) AS BIGINT)"
            ).alias("mean_rank_e2"),
            F.expr(
                "CAST(sum(abs(rk - prev_rk)) * 100 div count(*)"
                " AS BIGINT)"
            ).alias("mean_abs_rank_change_e2"),
        )
        .orderBy("event_type")
    )


@query(
    "q_session_value",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id,
               CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v_e4,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                        > 1800000000
                      OR lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                        IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, v_e4,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_seq
        FROM ordered
    ),
    per_session AS (
        SELECT user_id, session_seq,
               CAST(count(*) AS BIGINT) AS depth,
               CAST(sum(v_e4) AS BIGINT) AS value_e4
        FROM sessions
        GROUP BY user_id, session_seq
    )
    SELECT least(value_e4 // 500000, CAST(9 AS BIGINT))
               AS value_band,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(depth) * 100 // count(*) AS BIGINT)
               AS mean_depth_e2,
           CAST(sum(value_e4) // count(*) AS BIGINT)
               AS mean_value_e4
    FROM per_session
    GROUP BY least(value_e4 // 500000, CAST(9 AS BIGINT))
    ORDER BY value_band
    """,
)
def q_session_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session value distribution: total event value per 30-minute
    session, banded (50-value units, capped), with each band's mean
    depth — links the engagement shape (q_session_depth) to the money:
    do valuable sessions run deep, or do one-shot sessions carry the
    value? Sessionization is the engine's standard keyed lag+cumsum
    with explicit (ts, event_id) frame order on both engines; values
    quantize to exact e4 integers before any sum."""
    ev = load_table(spark, sf_dir, "events")
    lag_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)").alias(
            "v_e4"
        ),
        F.when(
            (
                F.expr("unix_micros(ts)")
                - F.lag(F.expr("unix_micros(ts)")).over(lag_w)
                > 1800000000
            )
            | F.lag(F.expr("unix_micros(ts)")).over(lag_w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = ordered.select(
        "user_id",
        "v_e4",
        F.sum("new_session").over(cum).alias("session_seq"),
    )
    per_session = sessions.groupBy("user_id", "session_seq").agg(
        F.count("*").cast("long").alias("depth"),
        F.sum("v_e4").cast("long").alias("value_e4"),
    )
    return (
        per_session.groupBy(
            F.least(
                F.expr("value_e4 div 500000"), F.lit(9).cast("long")
            ).alias("value_band")
        )
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.expr(
                "CAST(sum(depth) * 100 div count(*) AS BIGINT)"
            ).alias("mean_depth_e2"),
            F.expr(
                "CAST(sum(value_e4) div count(*) AS BIGINT)"
            ).alias("mean_value_e4"),
        )
        .orderBy("value_band")
    )


# ---------------------------------------------------------------------------
# Tranche 6 (seed extension) — loyalty, dependency, and continuity.
# ---------------------------------------------------------------------------


@query(
    "q_first_basket_effect",
    oracle="""
    WITH ranked AS (
        SELECT o_custkey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                   AS cents,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS rk,
               count(*) OVER (PARTITION BY o_custkey) AS n_orders
        FROM orders
    ),
    firsts AS (
        SELECT least(cents // 5000000, CAST(4 AS BIGINT))
                   AS first_value_band,
               CAST(n_orders AS BIGINT) AS n_orders
        FROM ranked
        WHERE rk = 1
    )
    SELECT first_value_band,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(n_orders) * 100 // count(*) AS BIGINT)
               AS mean_orders_e2,
           CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)
                * 10000 // count(*) AS BIGINT) AS repeat_bp
    FROM firsts
    GROUP BY first_value_band
    ORDER BY first_value_band
    """,
)
def q_first_basket_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-basket effect: customers banded by the value of their
    FIRST order ($50k bands), with the mean lifetime order count and
    the repeat rate per band — does a big first basket predict
    loyalty, or do whales one-shot? (q_new_vs_returning splits
    revenue; this is the acquisition-quality curve CRM spend is
    allocated on.) The first order is a rank-1 keyed window with the
    (date, orderkey) tie-break — the CLAUDE.md rule against packing
    timestamps into argmin integers; lifetime counts ride the same
    window scan as a partition count."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    ranked = o.select(
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
        F.row_number().over(w).alias("rk"),
        F.count("*")
        .over(Window.partitionBy("o_custkey"))
        .cast("long")
        .alias("n_orders"),
    )
    firsts = ranked.where(F.col("rk") == 1).select(
        F.least(
            F.expr("cents div 5000000"), F.lit(4).cast("long")
        ).alias("first_value_band"),
        "n_orders",
    )
    return (
        firsts.groupBy("first_value_band")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.expr(
                "CAST(sum(n_orders) * 100 div count(*) AS BIGINT)"
            ).alias("mean_orders_e2"),
            F.expr(
                "CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)"
                " * 10000 div count(*) AS BIGINT)"
            ).alias("repeat_bp"),
        )
        .orderBy("first_value_band")
    )


@query(
    "q_basket_size_trend",
    oracle="""
    WITH per_order AS (
        SELECT o.o_orderkey,
               CAST(extract(year FROM o.o_orderdate) AS BIGINT) AS yr,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(count(DISTINCT l.l_partkey) AS BIGINT) AS n_parts
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, extract(year FROM o.o_orderdate)
    )
    SELECT yr,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(n_lines) * 100 // count(*) AS BIGINT)
               AS mean_lines_e2,
           CAST(sum(n_parts) * 100 // count(*) AS BIGINT)
               AS mean_parts_e2
    FROM per_order
    GROUP BY yr
    ORDER BY yr
    """,
)
def q_basket_size_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket size by year: mean lines and mean distinct parts per
    order — is the catalog consolidating orders or fragmenting them?
    (q_order_size_profile is the static distribution; this is its
    trend, the number a packaging or free-shipping-threshold change
    is judged by.) One fact join keyed by order, two-level
    aggregation, exact e2 means."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(
            "o_orderkey",
            F.expr(
                "CAST(extract(year FROM o_orderdate) AS BIGINT)"
            ).alias("yr"),
        )
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.countDistinct("l_partkey").cast("long").alias("n_parts"),
        )
    )
    return (
        per_order.groupBy("yr")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.expr(
                "CAST(sum(n_lines) * 100 div count(*) AS BIGINT)"
            ).alias("mean_lines_e2"),
            F.expr(
                "CAST(sum(n_parts) * 100 div count(*) AS BIGINT)"
            ).alias("mean_parts_e2"),
        )
        .orderBy("yr")
    )


@query(
    "q_supplier_dependency",
    oracle="""
    WITH per_pair AS (
        SELECT l_partkey, l_suppkey,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem
        GROUP BY l_partkey, l_suppkey
    ),
    per_part AS (
        SELECT l_partkey,
               CAST(sum(n) AS BIGINT) AS total_lines,
               CAST(max(n) AS BIGINT) AS top_supp_lines
        FROM per_pair
        GROUP BY l_partkey
    )
    SELECT least(top_supp_lines * 10000 // total_lines // 2000,
                 CAST(4 AS BIGINT)) AS dependency_band,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(top_supp_lines * 10000 // total_lines)
                // count(*) AS BIGINT) AS mean_dependency_bp,
           CAST(sum(total_lines) // count(*) AS BIGINT)
               AS mean_lines
    FROM per_part
    GROUP BY least(top_supp_lines * 10000 // total_lines // 2000,
                   CAST(4 AS BIGINT))
    ORDER BY dependency_band
    """,
)
def q_supplier_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier dependency: each part's share of line volume filled by
    its single largest supplier, banded in 20-point steps — 100%
    dependency is a single point of failure even when multiple
    suppliers are NOMINALLY qualified (q_single_source_risk counts
    parts with one supplier; this grades the parts with several).
    Two-level integer aggregation; the per-part dependency bp is a
    nonneg integer floor and its band a second floor (floor-of-floor
    exact for nonneg operands)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_pair = li.groupBy("l_partkey", "l_suppkey").agg(
        F.count("*").cast("long").alias("n")
    )
    per_part = per_pair.groupBy("l_partkey").agg(
        F.sum("n").cast("long").alias("total_lines"),
        F.max("n").cast("long").alias("top_supp_lines"),
    )
    return (
        per_part.groupBy(
            F.least(
                F.expr("top_supp_lines * 10000 div total_lines div 2000"),
                F.lit(4).cast("long"),
            ).alias("dependency_band")
        )
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.expr(
                "CAST(sum(top_supp_lines * 10000 div total_lines)"
                " div count(*) AS BIGINT)"
            ).alias("mean_dependency_bp"),
            F.expr(
                "CAST(sum(total_lines) div count(*) AS BIGINT)"
            ).alias("mean_lines"),
        )
        .orderBy("dependency_band")
    )


@query(
    "q_source_lang_purity",
    oracle="""
    WITH cells AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        FROM documents
        GROUP BY source, lang
    ),
    ranked AS (
        SELECT source, lang, n,
               row_number() OVER (
                   PARTITION BY source ORDER BY n DESC, lang) AS rk,
               sum(n) OVER (PARTITION BY source) AS total,
               count(*) OVER (PARTITION BY source) AS n_langs
        FROM cells
    )
    SELECT source,
           CAST(total AS BIGINT) AS n_docs,
           CAST(n_langs AS BIGINT) AS n_langs,
           lang AS top_lang,
           CAST(n * 10000 // total AS BIGINT) AS top_lang_bp
    FROM ranked
    WHERE rk = 1
    ORDER BY source
    """,
)
def q_source_lang_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language purity per source: the dominant language, its share,
    and how many languages each source emits — the per-source reading
    of the q_cramers_v association (a crawler feed that's 95% one
    language can route to a monolingual pipeline; a 60% one can't).
    The dominant language is a rank-1 window over the ≤|langs|-row
    per-source aggregate with the language name as tie-break (the
    portable alternative to a struct argmax, which DuckDB's min_by
    can't express — the CLAUDE.md q_kmeans_step note)."""
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("n")
    )
    src = Window.partitionBy("source")
    ranked = cells.select(
        "source",
        "lang",
        "n",
        F.row_number()
        .over(src.orderBy(F.col("n").desc(), "lang"))
        .alias("rk"),
        F.sum("n").over(src).alias("total"),
        F.count("*").over(src).alias("n_langs"),
    )
    return (
        ranked.where(F.col("rk") == 1)
        .select(
            "source",
            F.col("total").cast("long").alias("n_docs"),
            F.col("n_langs").cast("long").alias("n_langs"),
            F.col("lang").alias("top_lang"),
            F.expr("CAST(n * 10000 div total AS BIGINT)").alias(
                "top_lang_bp"
            ),
        )
        .orderBy("source")
    )


@query(
    "q_part_continuity",
    oracle="""
    WITH per_part AS (
        SELECT l_partkey,
               CAST(count(DISTINCT extract(year FROM l_shipdate) * 12
                          + extract(month FROM l_shipdate))
                   AS BIGINT) AS n_active,
               CAST(max(extract(year FROM l_shipdate) * 12
                        + extract(month FROM l_shipdate))
                    - min(extract(year FROM l_shipdate) * 12
                          + extract(month FROM l_shipdate)) + 1
                   AS BIGINT) AS span_months
        FROM lineitem
        GROUP BY l_partkey
    )
    SELECT least(n_active * 10000 // span_months // 2000,
                 CAST(4 AS BIGINT)) AS continuity_band,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(n_active * 10000 // span_months) // count(*)
               AS BIGINT) AS mean_continuity_bp,
           CAST(sum(span_months) * 100 // count(*) AS BIGINT)
               AS mean_span_months_e2
    FROM per_part
    GROUP BY least(n_active * 10000 // span_months // 2000,
                   CAST(4 AS BIGINT))
    ORDER BY continuity_band
    """,
)
def q_part_continuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demand continuity per part: active months as a share of the
    part's first-to-last sale span, banded — continuous parts (band
    4) are forecastable staples, gappy ones (low bands) are
    intermittent demand that safety-stock formulas must treat
    specially (the XYZ axis of inventory classification;
    q_abc_classification is the value axis). Months are exact
    year·12+month integers; the continuity bp and its band are
    nonneg integer floors."""
    li = load_table(spark, sf_dir, "lineitem")
    mo = (
        "extract(year FROM l_shipdate) * 12"
        " + extract(month FROM l_shipdate)"
    )
    per_part = li.groupBy("l_partkey").agg(
        F.countDistinct(F.expr(mo)).cast("long").alias("n_active"),
        (F.max(F.expr(mo)) - F.min(F.expr(mo)) + 1)
        .cast("long")
        .alias("span_months"),
    )
    return (
        per_part.groupBy(
            F.least(
                F.expr("n_active * 10000 div span_months div 2000"),
                F.lit(4).cast("long"),
            ).alias("continuity_band")
        )
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.expr(
                "CAST(sum(n_active * 10000 div span_months)"
                " div count(*) AS BIGINT)"
            ).alias("mean_continuity_bp"),
            F.expr(
                "CAST(sum(span_months) * 100 div count(*) AS BIGINT)"
            ).alias("mean_span_months_e2"),
        )
        .orderBy("continuity_band")
    )


# ---------------------------------------------------------------------------
# Tranche 7 (seed extension) — regularity, universality, and parity.
# ---------------------------------------------------------------------------


@query(
    "q_reorder_regularity",
    oracle="""
    WITH gaps AS (
        SELECT o_custkey,
               datediff('day',
                   lag(o_orderdate) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey),
                   o_orderdate) AS gap_d
        FROM orders
    ),
    per_cust AS (
        SELECT o_custkey,
               CAST(count(*) AS BIGINT) AS n_gaps,
               CAST(sum(gap_d) AS BIGINT) AS sum_gap,
               CAST(max(gap_d) AS BIGINT) AS max_gap
        FROM gaps
        WHERE gap_d IS NOT NULL
        GROUP BY o_custkey
        HAVING count(*) >= 2 AND max(gap_d) > 0
    ),
    rated AS (
        SELECT sum_gap * 10000 // (n_gaps * max_gap) AS regularity_bp
        FROM per_cust
    )
    SELECT least(regularity_bp // 2000, CAST(4 AS BIGINT))
               AS regularity_band,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(regularity_bp) // count(*) AS BIGINT)
               AS mean_regularity_bp
    FROM rated
    GROUP BY least(regularity_bp // 2000, CAST(4 AS BIGINT))
    ORDER BY regularity_band
    """,
)
def q_reorder_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reorder regularity: per repeat customer (≥3 orders), the
    mean-to-max ratio of inter-order gaps, banded — a ratio near 1
    means clockwork reordering (subscription-like; forecast their
    demand), near 0 means one long dormancy dominates
    (q_gap_dominance's shape on the ORDER stream, folded to one
    number; q_subscription_detect hunts fixed periods, this grades
    everyone). mean/max folds into ONE nonneg integer floor
    Σgap·10⁴ // (n·max) — no intermediate mean rounding."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    gaps = o.select(
        "o_custkey",
        F.datediff(
            "o_orderdate", F.lag("o_orderdate").over(w)
        ).alias("gap_d"),
    ).where(F.col("gap_d").isNotNull())
    per_cust = (
        gaps.groupBy("o_custkey")
        .agg(
            F.count("*").cast("long").alias("n_gaps"),
            F.sum("gap_d").cast("long").alias("sum_gap"),
            F.max("gap_d").cast("long").alias("max_gap"),
        )
        .where((F.col("n_gaps") >= 2) & (F.col("max_gap") > 0))
    )
    rated = per_cust.select(
        F.expr("sum_gap * 10000 div (n_gaps * max_gap)").alias(
            "regularity_bp"
        )
    )
    return (
        rated.groupBy(
            F.least(
                F.expr("regularity_bp div 2000"),
                F.lit(4).cast("long"),
            ).alias("regularity_band")
        )
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.expr(
                "CAST(sum(regularity_bp) div count(*) AS BIGINT)"
            ).alias("mean_regularity_bp"),
        )
        .orderBy("regularity_band")
    )


@query(
    "q_cross_segment_parts",
    oracle="""
    WITH per_part AS (
        SELECT l.l_partkey,
               CAST(count(DISTINCT c.c_mktsegment) AS BIGINT)
                   AS n_segments,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY l.l_partkey
    )
    SELECT n_segments,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(n_lines) // count(*) AS BIGINT) AS mean_lines,
           CAST(count(*) * 10000 // sum(count(*)) OVER () AS BIGINT)
               AS share_bp
    FROM per_part
    GROUP BY n_segments
    ORDER BY n_segments
    """,
)
def q_cross_segment_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part universality across market segments: how many of the five
    segments each part sells into — universal parts (5/5) are safe
    stock anywhere; single-segment parts are niche assortment whose
    demand moves with that segment alone (the merchandising
    complement of q_mktseg_priority_mix). A two-hop star join keyed
    by part, one distinct count, and a windowed share over the
    ≤5-row histogram."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    per_part = (
        li.join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .groupBy("l_partkey")
        .agg(
            F.countDistinct("c_mktsegment")
            .cast("long")
            .alias("n_segments"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )
    hist = per_part.groupBy("n_segments").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.expr("CAST(sum(n_lines) div count(*) AS BIGINT)").alias(
            "mean_lines"
        ),
    )
    return hist.select(
        "n_segments",
        "n_parts",
        "mean_lines",
        F.expr(
            "CAST(n_parts * 10000 div (sum(n_parts) OVER ())"
            " AS BIGINT)"
        ).alias("share_bp"),
    ).orderBy("n_segments")


@query(
    "q_discount_return_link",
    oracle="""
    WITH lines AS (
        SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
                   AS disc_e2,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
        FROM lineitem
    )
    SELECT disc_e2,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(ret) AS BIGINT) AS n_returns,
           CAST(sum(ret) * 10000 // count(*) AS BIGINT) AS return_bp
    FROM lines
    GROUP BY disc_e2
    ORDER BY disc_e2
    """,
)
def q_discount_return_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount-return linkage: return rate at each discount percent —
    a return rate RISING with discount depth means promotions pull in
    low-intent purchases that bounce back (the margin leak compounds:
    the discount is gone AND the item returns);
    q_brand_return_wilson ranks who returns, this tests a causal
    channel for WHY. Single-table exact integers."""
    li = load_table(spark, sf_dir, "lineitem")
    lines = li.select(
        F.expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)").alias(
            "disc_e2"
        ),
        F.when(F.col("l_returnflag") == "R", 1)
        .otherwise(0)
        .alias("ret"),
    )
    return (
        lines.groupBy("disc_e2")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum("ret").cast("long").alias("n_returns"),
            F.expr(
                "CAST(sum(ret) * 10000 div count(*) AS BIGINT)"
            ).alias("return_bp"),
        )
        .orderBy("disc_e2")
    )


@query(
    "q_region_price_parity",
    oracle="""
    WITH ratios AS (
        SELECT r.r_name,
               CAST(floor((CAST(floor(l.l_extendedprice / l.l_quantity
                                      * 100 + 0.5) AS BIGINT)
                           * 10000.0)
                          / CAST(floor(p.p_retailprice * 100 + 0.5)
                                 AS DOUBLE)) AS BIGINT) AS ratio_e4
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        JOIN part p ON p.p_partkey = l.l_partkey
    ),
    agg AS (
        SELECT r_name,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(ratio_e4) // count(*) AS BIGINT)
                   AS mean_ratio_e4
        FROM ratios
        GROUP BY r_name
    )
    SELECT r_name, n_lines, mean_ratio_e4,
           mean_ratio_e4
               - CAST(sum(mean_ratio_e4 * n_lines) OVER ()
                      // sum(n_lines) OVER () AS BIGINT)
               AS parity_gap_e4
    FROM agg
    ORDER BY r_name
    """,
)
def q_region_price_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regional price parity: the mean paid-to-list unit-price ratio
    per customer region, and its signed gap to the volume-weighted
    world mean — systematic regional gaps are price discrimination
    (or FX leakage) that q_price_fairness' customer-level lens
    averages away. The full five-table star join runs ONE pass; the
    per-line ratio is the exact one-double-divide floor
    (q_unit_price_consistency's), the world mean is a window over the
    5-row region aggregate, and the gap subtracts two already-floored
    integers. nation/region are schema-bounded legs — AQE broadcasts
    them unhinted."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    p = load_table(spark, sf_dir, "part")
    ratios = (
        li.join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(n, n.n_nationkey == c.c_nationkey)
        .join(r, r.r_regionkey == n.n_regionkey)
        .join(p, p.p_partkey == li.l_partkey)
        .select(
            "r_name",
            F.expr(
                "CAST(floor((CAST(floor(l_extendedprice / l_quantity"
                " * 100 + 0.5) AS BIGINT) * 10000.0) /"
                " CAST(floor(p_retailprice * 100 + 0.5) AS DOUBLE))"
                " AS BIGINT)"
            ).alias("ratio_e4"),
        )
    )
    agg = ratios.groupBy("r_name").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.expr("CAST(sum(ratio_e4) div count(*) AS BIGINT)").alias(
            "mean_ratio_e4"
        ),
    )
    tot = Window.partitionBy()
    return agg.select(
        "r_name",
        "n_lines",
        "mean_ratio_e4",
        (
            F.col("mean_ratio_e4")
            - F.expr(
                "CAST(sum(mean_ratio_e4 * n_lines) OVER ()"
                " div (sum(n_lines) OVER ()) AS BIGINT)"
            )
        ).alias("parity_gap_e4"),
    ).orderBy("r_name")


@query(
    "q_brand_seasonal_peak",
    oracle="""
    WITH monthly AS (
        SELECT p.p_brand,
               CAST(extract(month FROM l.l_shipdate) AS BIGINT) AS mo,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY p.p_brand, extract(month FROM l.l_shipdate)
    )
    SELECT p_brand,
           CAST(sum(n) AS BIGINT) AS n_lines,
           CAST(99 - (max(n * 100 + (99 - mo)) % 100) AS BIGINT)
               AS peak_month,
           CAST(max(n * 100 + (99 - mo)) // 100 * 10000 // sum(n)
               AS BIGINT) AS peak_month_bp
    FROM monthly
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def q_brand_seasonal_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal peak per brand: the calendar month (all years pooled)
    carrying each brand's largest line volume, and that month's share
    — a brand whose peak share is near 1/12 has no season; one near
    1/4 plans inventory around it (q_monthly_seasonality indexes the
    whole curve per segment; this names each brand's single peak).
    The peak-month argmax rides the packed key n·100 + (99−month) —
    ties resolve to the EARLIEST month identically on both engines
    (the q_kmeans_step packing rule)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    monthly = (
        li.join(p, p.p_partkey == li.l_partkey)
        .groupBy(
            "p_brand",
            F.expr(
                "CAST(extract(month FROM l_shipdate) AS BIGINT)"
            ).alias("mo"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    return (
        monthly.groupBy("p_brand")
        .agg(
            F.sum("n").cast("long").alias("n_lines"),
            F.expr(
                "CAST(99 - (max(n * 100 + (99 - mo)) % 100) AS BIGINT)"
            ).alias("peak_month"),
            F.expr(
                "CAST(max(n * 100 + (99 - mo)) div 100 * 10000"
                " div sum(n) AS BIGINT)"
            ).alias("peak_month_bp"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# Tranche 8 (seed extension) — priority economics and text signals.
# ---------------------------------------------------------------------------


@query(
    "q_priority_value_profile",
    oracle="""
    WITH vals AS (
        SELECT o_orderpriority AS prio,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                   AS cents
        FROM orders
    ),
    agg AS (
        SELECT prio,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS revenue_cents,
               CAST(sum(cents) // count(*) AS BIGINT)
                   AS mean_cents,
               round(median(cents) + 0.0, 4) AS median_cents
        FROM vals
        GROUP BY prio
    )
    SELECT prio, n_orders, mean_cents, median_cents,
           CAST(revenue_cents * 10000
                // sum(revenue_cents) OVER () AS BIGINT)
               AS revenue_share_bp
    FROM agg
    ORDER BY prio
    """,
)
def q_priority_value_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority economics: order count, mean and median value, and
    revenue share per priority class — whether urgency correlates with
    value decides if expedited capacity is a premium product or a
    cost center (q_delay_tail_risk grades the service; this prices
    it). Exact cents; the median of integer cents interpolates to a
    binary-exact half; revenue share is a windowed bp floor over the
    5-row aggregate."""
    o = load_table(spark, sf_dir, "orders")
    vals = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
    )
    agg = vals.groupBy("prio").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("revenue_cents"),
        F.expr("CAST(sum(cents) div count(*) AS BIGINT)").alias(
            "mean_cents"
        ),
        F.round(
            F.expr("percentile(cents, 0.5)") + F.lit(0.0), 4
        ).alias("median_cents"),
    )
    return agg.select(
        "prio",
        "n_orders",
        "mean_cents",
        "median_cents",
        F.expr(
            "CAST(revenue_cents * 10000 div"
            " (sum(revenue_cents) OVER ()) AS BIGINT)"
        ).alias("revenue_share_bp"),
    ).orderBy("prio")


@query(
    "q_vowel_profile",
    oracle="""
    WITH per_doc AS (
        SELECT lang,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(length(regexp_replace(text, '[^a-z]', '', 'g'))
                   AS BIGINT) AS n_alpha,
               CAST(length(regexp_replace(text, '[^aeiou]', '', 'g'))
                   AS BIGINT) AS n_vowel
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_vowel) * 10000 // sum(n_alpha) AS BIGINT)
               AS vowel_bp,
           CAST((sum(n_chars) - sum(n_alpha)) * 10000
                // sum(n_chars) AS BIGINT) AS space_bp
    FROM per_doc
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_vowel_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vowel and whitespace density per language: the vowel share of
    alphabetic characters and the non-alpha (space) share of all
    characters — the two cheapest language-ID features there are
    (Italian ≫ English ≫ Czech on vowels; CJK transliterations skew
    spacing), used to sanity-check the n-gram classifier
    (q_text_langid) on corpora where it disagrees with metadata.
    Counting by regexp_replace-and-length is identical on both
    engines (DuckDB needs the 'g' flag; Spark's regexp_replace is
    global by default); all integers."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        F.length(F.regexp_replace("text", "[^a-z]", ""))
        .cast("long")
        .alias("n_alpha"),
        F.length(F.regexp_replace("text", "[^aeiou]", ""))
        .cast("long")
        .alias("n_vowel"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.expr(
                "CAST(sum(n_vowel) * 10000 div sum(n_alpha)"
                " AS BIGINT)"
            ).alias("vowel_bp"),
            F.expr(
                "CAST((sum(n_chars) - sum(n_alpha)) * 10000"
                " div sum(n_chars) AS BIGINT)"
            ).alias("space_bp"),
        )
        .orderBy("lang")
    )


@query(
    "q_basket_unit_price",
    oracle="""
    WITH sized AS (
        SELECT l.l_orderkey, l.l_partkey,
               least(count(*) OVER (PARTITION BY l.l_orderkey),
                     CAST(7 AS BIGINT)) AS size_band,
               CAST(floor((CAST(floor(l.l_extendedprice / l.l_quantity
                                      * 100 + 0.5) AS BIGINT)
                           * 10000.0)
                          / CAST(floor(p.p_retailprice * 100 + 0.5)
                                 AS DOUBLE)) AS BIGINT) AS ratio_e4
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
    )
    SELECT size_band,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(ratio_e4) // count(*) AS BIGINT)
               AS mean_ratio_e4
    FROM sized
    GROUP BY size_band
    ORDER BY size_band
    """,
)
def q_basket_unit_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-price discipline by basket size: the mean paid-to-list
    ratio for lines in 1-line through 7+-line orders — if bigger
    baskets pay closer to list, bundling suppresses haggling; if they
    pay less, volume discounts leak beyond the quantity schedule
    (q_discount_by_quantity prices per-line volume; this prices
    ORDER-level volume). Basket size is a whole-partition count
    window keyed by order (no ordering, no sort); the ratio is the
    standard exact one-double-divide floor."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    sized = li.join(p, p.p_partkey == li.l_partkey).select(
        F.least(
            F.count("*")
            .over(Window.partitionBy("l_orderkey"))
            .cast("long"),
            F.lit(7).cast("long"),
        ).alias("size_band"),
        F.expr(
            "CAST(floor((CAST(floor(l_extendedprice / l_quantity"
            " * 100 + 0.5) AS BIGINT) * 10000.0) /"
            " CAST(floor(p_retailprice * 100 + 0.5) AS DOUBLE))"
            " AS BIGINT)"
        ).alias("ratio_e4"),
    )
    return (
        sized.groupBy("size_band")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.expr(
                "CAST(sum(ratio_e4) div count(*) AS BIGINT)"
            ).alias("mean_ratio_e4"),
        )
        .orderBy("size_band")
    )


@query(
    "q_priority_mix_trend",
    oracle="""
    WITH cells AS (
        SELECT CAST(extract(year FROM o_orderdate) AS BIGINT) AS yr,
               o_orderpriority AS prio,
               CAST(count(*) AS BIGINT) AS n
        FROM orders
        GROUP BY extract(year FROM o_orderdate), o_orderpriority
    ),
    tots AS (
        SELECT yr, prio, n,
               sum(n) OVER (PARTITION BY yr) AS yr_tot,
               sum(n) OVER (PARTITION BY prio) AS prio_tot,
               sum(n) OVER () AS grand
        FROM cells
    )
    SELECT yr, prio,
           CAST(n * 10000 // yr_tot AS BIGINT) AS share_bp,
           CAST(n * 10000 // yr_tot AS BIGINT)
               - CAST(prio_tot * 10000 // grand AS BIGINT) AS dev_bp
    FROM tots
    ORDER BY yr, prio
    """,
)
def q_priority_mix_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority-mix drift by year: each year's priority distribution
    and its signed deviation from the all-time mix — a creeping
    1-URGENT share is either a real demand shift or priority-field
    inflation, and both invalidate SLA capacity plans tuned on the
    historical mix (q_mktseg_priority_mix crosses priorities with
    segments; this crosses them with time). Marginals are windows
    over the ≤35-cell aggregate; deviations subtract already-floored
    nonneg bp integers."""
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.expr("CAST(extract(year FROM o_orderdate) AS BIGINT)").alias(
            "yr"
        ),
        F.col("o_orderpriority").alias("prio"),
    ).agg(F.count("*").cast("long").alias("n"))
    tots = cells.select(
        "yr",
        "prio",
        "n",
        F.sum("n").over(Window.partitionBy("yr")).alias("yr_tot"),
        F.sum("n").over(Window.partitionBy("prio")).alias("prio_tot"),
        F.sum("n").over(Window.partitionBy()).alias("grand"),
    )
    return tots.select(
        "yr",
        "prio",
        F.expr("CAST(n * 10000 div yr_tot AS BIGINT)").alias(
            "share_bp"
        ),
        (
            F.expr("CAST(n * 10000 div yr_tot AS BIGINT)")
            - F.expr("CAST(prio_tot * 10000 div grand AS BIGINT)")
        ).alias("dev_bp"),
    ).orderBy("yr", "prio")


@query(
    "q_value_trend_ols",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT))
                   AS BIGINT) AS v
        FROM events
        GROUP BY event_type, date_trunc('day', ts)
    ),
    indexed AS (
        SELECT event_type, v,
               CAST(row_number() OVER (
                   PARTITION BY event_type ORDER BY day) AS BIGINT)
                   AS x
        FROM daily
    ),
    sums AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(v) AS BIGINT) AS sv,
               CAST(sum(x * v) AS BIGINT) AS sxv,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM indexed
        GROUP BY event_type
    )
    SELECT event_type, n AS n_days,
           CAST(CASE WHEN sv >= 0 THEN sv // n
                     ELSE -((-sv) // n) END AS BIGINT)
               AS mean_daily_value_e4,
           CAST(CASE WHEN n * sxx - sx * sx > 0 THEN
                floor(CAST(n * sxv - sx * sv AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE))
                END AS BIGINT) AS slope_ve4_per_day
    FROM sums
    ORDER BY event_type
    """,
)
def q_value_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-value trend per event type: the exact OLS slope of total
    daily value (e4 units) on the day index — the dollar companion to
    q_theil_sen's robust count slope (OLS here because daily VALUE
    totals are the quantity finance extrapolates linearly; Theil-Sen
    remains the robust cross-check). All four moment sums are exact
    int64 over the ≤31-row daily aggregate (x ≤ 31 keeps Σx·v within
    31·Σv); the slope is one int64→double divide under floor with the
    zero-variance guard. The mean uses the q_header_detail_recon
    sign-safe integer division (abs, divide, re-sign) — events.value
    is nonnegative in today's generator, but a negative daily sum must
    not reopen the Spark-trunc vs DuckDB-floor divergence (ADVICE
    r11)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.sum(
            F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)")
        )
        .cast("long")
        .alias("v")
    )
    indexed = daily.select(
        "event_type",
        "v",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .cast("long")
        .alias("x"),
    )
    sums = indexed.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("v").cast("long").alias("sv"),
        F.sum(F.col("x") * F.col("v")).cast("long").alias("sxv"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    return sums.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.expr(
            "CAST(CASE WHEN sv >= 0 THEN sv div n"
            " ELSE -((-sv) div n) END AS BIGINT)"
        ).alias("mean_daily_value_e4"),
        F.expr(
            "CAST(CASE WHEN n * sxx - sx * sx > 0 THEN"
            " floor(CAST(n * sxv - sx * sv AS DOUBLE)"
            " / CAST(n * sxx - sx * sx AS DOUBLE)) END AS BIGINT)"
        ).alias("slope_ve4_per_day"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Tranche 7 — order-book economics: positional pricing, the
# status×priority mix, gap-value and balance-value links, brand
# discount policy.
# ---------------------------------------------------------------------------


@query(
    "q_line_position_profile",
    oracle="""
    SELECT l_linenumber,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                // count(*) AS BIGINT) AS mean_price_cents,
           CAST(sum(CAST(floor(l_discount * 10000 + 0.5) AS BIGINT))
                // count(*) AS BIGINT) AS mean_discount_bp,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                * 10000 // count(*) AS BIGINT) AS return_share_bp
    FROM lineitem
    GROUP BY l_linenumber
    ORDER BY l_linenumber
    """,
)
def q_line_position_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Economics by line POSITION within the order (1..7): mean price,
    mean discount, and return share per l_linenumber — the
    order-composition twin of q_linenumber_lag's fulfilment-timing
    view (lag answers WHEN position ships; this answers WHAT position
    carries: if late lines are cheap filler or discount bait, basket
    algorithms should treat them differently). One hash aggregation
    over lineitem, all moments exact integer cents/bp."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linenumber")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.expr(
                "CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))"
                " div count(*) AS BIGINT)"
            ).alias("mean_price_cents"),
            F.expr(
                "CAST(sum(CAST(floor(l_discount * 10000 + 0.5) AS BIGINT))"
                " div count(*) AS BIGINT)"
            ).alias("mean_discount_bp"),
            F.expr(
                "CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)"
                " * 10000 div count(*) AS BIGINT)"
            ).alias("return_share_bp"),
        )
        .orderBy("l_linenumber")
    )


@query(
    "q_status_priority_mix",
    oracle="""
    WITH cell AS (
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               CAST(count(*) AS BIGINT) AS n
        FROM orders
        GROUP BY o_orderstatus, o_orderpriority
    )
    SELECT status, priority, n,
           CAST(n * 10000 // sum(n) OVER (PARTITION BY status)
                AS BIGINT) AS status_share_bp,
           CAST(n * 10000 // sum(n) OVER (PARTITION BY priority)
                AS BIGINT) AS priority_share_bp
    FROM cell
    ORDER BY status, priority
    """,
)
def q_status_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The status × priority contingency MATRIX with row and column
    shares — the table a fulfilment dashboard renders (q_chi_square
    emits the independence STATISTIC for a different pair; this emits
    the cells themselves, so a human sees WHERE the mix skews, e.g.
    urgent orders stuck open). One aggregation to the ≤15-cell frame,
    then two windows over that bounded matrix (the round-11 staging's
    post-aggregation-window pattern — no broadcast legs, no NLJ)."""
    o = load_table(spark, sf_dir, "orders")
    cell = o.groupBy(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(F.count("*").cast("long").alias("n"))
    return cell.select(
        "status",
        "priority",
        "n",
        F.expr(
            "CAST(n * 10000 div sum(n) OVER (PARTITION BY status)"
            " AS BIGINT)"
        ).alias("status_share_bp"),
        F.expr(
            "CAST(n * 10000 div sum(n) OVER (PARTITION BY priority)"
            " AS BIGINT)"
        ).alias("priority_share_bp"),
    ).orderBy("status", "priority")


@query(
    "q_order_gap_value_link",
    oracle="""
    WITH gaps AS (
        SELECT o_custkey, o_totalprice,
               date_diff('day',
                   CAST(lag(o_orderdate) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS DATE),
                   CAST(o_orderdate AS DATE)) AS gap_days
        FROM orders
    )
    SELECT least(gap_days // 7, CAST(8 AS BIGINT)) AS gap_weeks,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                // count(*) AS BIGINT) AS mean_value_cents
    FROM gaps
    WHERE gap_days IS NOT NULL
    GROUP BY least(gap_days // 7, CAST(8 AS BIGINT))
    ORDER BY gap_weeks
    """,
)
def q_order_gap_value_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does a longer silence before an order predict a bigger basket?
    Mean order value by the weeks elapsed since the customer's
    PREVIOUS order (capped at 8+ weeks) — the pent-up-demand curve
    that decides whether win-back campaigns should expect recovery
    revenue (q_reorder_cadence profiles the gaps; this prices them).
    Gap via a keyed lag window with the (o_orderdate, o_orderkey)
    tie-break; first orders have no gap and drop; value moments are
    exact integer cents."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_totalprice",
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lag("o_orderdate").over(w))
        ).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    return (
        gaps.select(
            F.least(
                F.expr("CAST(gap_days div 7 AS BIGINT)"),
                F.lit(8).cast("long"),
            ).alias("gap_weeks"),
            "o_totalprice",
        )
        .groupBy("gap_weeks")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.expr(
                "CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))"
                " div count(*) AS BIGINT)"
            ).alias("mean_value_cents"),
        )
        .orderBy("gap_weeks")
    )


@query(
    "q_acctbal_order_link",
    oracle="""
    WITH banded AS (
        SELECT c_custkey,
               CAST(floor((c_acctbal + 1000.0) / 2000.0) AS BIGINT)
                   AS bal_band
        FROM customer
    ),
    per_cust AS (
        SELECT b.bal_band, b.c_custkey,
               CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
               CAST(coalesce(sum(CAST(floor(o.o_totalprice * 100 + 0.5)
                   AS BIGINT)), 0) AS BIGINT) AS cents
        FROM banded b LEFT JOIN orders o ON b.c_custkey = o.o_custkey
        GROUP BY b.bal_band, b.c_custkey
    )
    SELECT bal_band,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(n_orders) AS BIGINT) AS n_orders,
           CAST(sum(n_orders) * 100 // count(*) AS BIGINT)
               AS orders_per_cust_e2,
           CAST(CASE WHEN sum(n_orders) > 0
                THEN sum(cents) // sum(n_orders) ELSE 0 END AS BIGINT)
               AS mean_order_cents
    FROM per_cust
    GROUP BY bal_band
    ORDER BY bal_band
    """,
)
def q_acctbal_order_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Account-balance band → ordering behavior: orders per customer
    and mean order value by fixed 2000-unit acctbal bands (schema
    range [-999.99, 9999.99] ⇒ bands 0..5). FIXED thresholds, not
    quantiles — band membership is a per-row map, so no global
    ranking funnel exists at any SF (the q_value_vs_delay lesson
    applied at design time); dormant customers enter via the left
    join with zero orders so the per-customer rate is honest. All
    moments exact integer cents."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    banded = c.select(
        "c_custkey",
        F.expr(
            "CAST(floor((c_acctbal + 1000.0) / 2000.0) AS BIGINT)"
        ).alias("bal_band"),
    )
    per_cust = (
        banded.join(o, banded["c_custkey"] == o["o_custkey"], "left")
        .groupBy("bal_band", "c_custkey")
        .agg(
            F.count("o_orderkey").cast("long").alias("n_orders"),
            F.expr(
                "CAST(coalesce(sum(CAST(floor(o_totalprice * 100 + 0.5)"
                " AS BIGINT)), 0) AS BIGINT)"
            ).alias("cents"),
        )
    )
    return (
        per_cust.groupBy("bal_band")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.expr(
                "CAST(sum(n_orders) * 100 div count(*) AS BIGINT)"
            ).alias("orders_per_cust_e2"),
            F.expr(
                "CAST(CASE WHEN sum(n_orders) > 0"
                " THEN sum(cents) div sum(n_orders) ELSE 0 END AS BIGINT)"
            ).alias("mean_order_cents"),
        )
        .orderBy("bal_band")
    )


@query(
    "q_brand_discount_policy",
    oracle="""
    SELECT p.p_brand AS brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN l.l_discount > 0 THEN 1 ELSE 0 END)
                * 10000 // count(*) AS BIGINT) AS discounted_share_bp,
           CAST(sum(CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT))
                // count(*) AS BIGINT) AS mean_discount_bp,
           CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                // count(*) AS BIGINT) AS mean_price_cents
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    ORDER BY brand
    """,
)
def q_brand_discount_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-level discount POLICY: how often each brand's lines carry
    any discount, and the mean depth when they do not vs the list
    price level — the assortment-pricing governance view
    (q_discount_consistency audits same-part-same-month variance;
    q_discount_yield tracks time; this compares BRANDS, the unit a
    vendor negotiation happens at). One shuffle join lineitem→part on
    partkey (both sides SF-scaling: unhinted, AQE decides strategy),
    one hash aggregation, exact integer bp/cents."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.expr(
                "CAST(sum(CASE WHEN l_discount > 0 THEN 1 ELSE 0 END)"
                " * 10000 div count(*) AS BIGINT)"
            ).alias("discounted_share_bp"),
            F.expr(
                "CAST(sum(CAST(floor(l_discount * 10000 + 0.5) AS BIGINT))"
                " div count(*) AS BIGINT)"
            ).alias("mean_discount_bp"),
            F.expr(
                "CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))"
                " div count(*) AS BIGINT)"
            ).alias("mean_price_cents"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# Tranche 8 — event-stream behavior: value momentum and hourly premium,
# the activity-week cohort curve, the props payload profile, and
# per-user type affinity.
# ---------------------------------------------------------------------------


@query(
    "q_value_momentum",
    oracle="""
    WITH spanned AS (
        SELECT event_type,
               CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v,
               CASE WHEN 2 * epoch_us(ts)
                         <= min(epoch_us(ts)) OVER (PARTITION BY event_type)
                            + max(epoch_us(ts)) OVER (PARTITION BY event_type)
                    THEN 0 ELSE 1 END AS half
        FROM events
    )
    SELECT event_type,
           CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_early,
           CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_late,
           CAST(sum(CASE WHEN half = 0 THEN v ELSE 0 END)
                // nullif(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS early_mean_e4,
           CAST(sum(CASE WHEN half = 1 THEN v ELSE 0 END)
                // nullif(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS late_mean_e4
    FROM spanned
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_value_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-corpus value momentum per event type: mean event value in
    the first vs second half of THAT TYPE's own time span — is the
    monetization of each action rising or decaying (q_value_trend_ols
    fits a daily slope; this is the assumption-free two-bucket read
    that survives any seasonality misfit). The per-type midpoint comes
    from min/max windows over the type partition — no broadcast
    scalar leg, no NLJ; half-compare uses 2·t ≤ min+max so the
    midpoint is never divided; means are exact integer e4 divisions
    with nullif guards (a half can be empty only if a type has one
    event, but the guard costs nothing)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    us = F.unix_micros(F.col("ts"))
    spanned = ev.select(
        "event_type",
        F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)").alias("v"),
        F.when(
            2 * us <= F.min(us).over(w) + F.max(us).over(w), F.lit(0)
        )
        .otherwise(F.lit(1))
        .alias("half"),
    )
    return (
        spanned.groupBy("event_type")
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_early"),
            F.expr(
                "CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_late"),
            F.expr(
                "CAST(sum(CASE WHEN half = 0 THEN v ELSE 0 END)"
                " div nullif(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END), 0)"
                " AS BIGINT)"
            ).alias("early_mean_e4"),
            F.expr(
                "CAST(sum(CASE WHEN half = 1 THEN v ELSE 0 END)"
                " div nullif(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END), 0)"
                " AS BIGINT)"
            ).alias("late_mean_e4"),
        )
        .orderBy("event_type")
    )


@query(
    "q_hour_value_premium",
    oracle="""
    WITH hourly AS (
        SELECT hour(ts) AS hr,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT))
                   AS BIGINT) AS v
        FROM events
        GROUP BY hour(ts)
    ),
    tot AS (
        SELECT hr, n_events, v,
               CAST(v // n_events AS BIGINT) AS mean_value_e4,
               sum(n_events) OVER () AS tot_n,
               sum(v) OVER () AS tot_v
        FROM hourly
    )
    SELECT hr, n_events, mean_value_e4,
           CAST(floor(CAST(v // n_events AS DOUBLE) * 10000.0
                      * CAST(tot_n AS DOUBLE)
                      / CAST(tot_v AS DOUBLE)) - 10000 AS BIGINT)
               AS premium_bp
    FROM tot
    ORDER BY hr
    """,
)
def q_hour_value_premium(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day value premium: each hour's mean event value vs the
    corpus mean, in signed basis points — WHEN the high-intent traffic
    arrives (q_traffic_calendar counts load by slot; this prices the
    slot, the input a bid-pacing schedule actually needs). One
    aggregation to 24 rows, totals as windows over that bounded frame,
    and the premium converts each int64 term to DOUBLE BEFORE the
    product (int64→double conversion and IEEE multiply/divide round
    identically on both engines, the q_bot_score pinned-double
    pattern; the earlier int64 product form would pass 2^63 near
    ~2e8 events — advisor round-12 finding) under floor, minus
    10000 — never a double mean of a double mean."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.hour("ts").alias("hr")).agg(
        F.count("*").cast("long").alias("n_events"),
        F.expr(
            "CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)"
        ).alias("v"),
    )
    w = Window.partitionBy(F.pmod(F.col("hr"), F.lit(1)))
    tot = hourly.select(
        "hr",
        "n_events",
        "v",
        F.expr("CAST(v div n_events AS BIGINT)").alias("mean_value_e4"),
        F.sum("n_events").over(w).alias("tot_n"),
        F.sum("v").over(w).alias("tot_v"),
    )
    return tot.select(
        "hr",
        "n_events",
        "mean_value_e4",
        F.expr(
            "CAST(floor(CAST(v div n_events AS DOUBLE) * 10000.0D"
            " * CAST(tot_n AS DOUBLE)"
            " / CAST(tot_v AS DOUBLE)) - 10000 AS BIGINT)"
        ).alias("premium_bp"),
    ).orderBy("hr")


@query(
    "q_user_week_curve",
    oracle="""
    WITH marked AS (
        SELECT user_id, event_id,
               (epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id))
                   // 604800000000 AS wk
        FROM events
    )
    SELECT wk,
           CAST(count(DISTINCT user_id) AS BIGINT) AS active_users,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) * 100 // count(DISTINCT user_id) AS BIGINT)
               AS events_per_active_e2
    FROM marked
    GROUP BY wk
    ORDER BY wk
    """,
)
def q_user_week_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cohort-time activity curve: events per active user by WEEKS
    SINCE THAT USER'S FIRST EVENT (calendar-free lifecycle time, the
    x-axis retention teams actually plot; q_cohort_retention buckets
    by calendar cohort, this aligns every user at week 0). Week index
    via a keyed min-window and integer µs division (the 7-day constant
    precomputed as 604800000000 — the DuckDB int32-literal-product
    gotcha); one aggregation per week; the per-active rate is an exact
    e2 integer division."""
    ev = load_table(spark, sf_dir, "events")
    marked = ev.select(
        "user_id",
        "event_id",
        F.expr(
            "CAST((unix_micros(ts) -"
            " min(unix_micros(ts)) OVER (PARTITION BY user_id))"
            " div 604800000000 AS BIGINT)"
        ).alias("wk"),
    )
    return (
        marked.groupBy("wk")
        .agg(
            F.countDistinct("user_id").cast("long").alias("active_users"),
            F.count("*").cast("long").alias("n_events"),
            F.expr(
                "CAST(count(*) * 100 div count(DISTINCT user_id) AS BIGINT)"
            ).alias("events_per_active_e2"),
        )
        .orderBy("wk")
    )


@query(
    "q_props_payload",
    oracle="""
    WITH payload AS (
        SELECT event_type,
               TRY_CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS k
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(k) * 100 // count(*) AS BIGINT) AS mean_payload_e2,
           CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_payloads,
           CAST(max(k) AS BIGINT) AS max_payload
    FROM payload
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_props_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The props-column numeric payload profile per event type: mean,
    cardinality, and max of the integer carried in the JSON props
    blob — the first question against an untyped property bag (is the
    payload an enum, a counter, or an id?). Extraction is one regexp
    per row pushed through the scan projection (identical '[0-9]+'
    semantics both engines — no JSON parser dependency, so the oracle
    needs no extension; the oracle TRY_CASTs so a digitless props row
    NULLs like Spark's cast instead of erroring — advisor round-12
    finding); moments are exact integer e2."""
    ev = load_table(spark, sf_dir, "events")
    payload = ev.select(
        "event_type",
        F.regexp_extract("props", "[0-9]+", 0).cast("long").alias("k"),
    )
    return (
        payload.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.expr(
                "CAST(sum(k) * 100 div count(*) AS BIGINT)"
            ).alias("mean_payload_e2"),
            F.countDistinct("k").cast("long").alias("n_distinct_payloads"),
            F.max("k").cast("long").alias("max_payload"),
        )
        .orderBy("event_type")
    )


@query(
    "q_user_type_affinity",
    oracle="""
    WITH per_ut AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        FROM events
        GROUP BY user_id, event_type
    ),
    shared AS (
        SELECT user_id, event_type, n,
               sum(n) OVER (PARTITION BY user_id) AS tot,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY n DESC, event_type) AS rk
        FROM per_ut
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_dominated_users,
           CAST(sum(n * 10000 // tot) // count(*) AS BIGINT)
               AS mean_affinity_bp,
           CAST(sum(CASE WHEN 2 * n > tot THEN 1 ELSE 0 END)
                * 10000 // count(*) AS BIGINT) AS majority_share_bp
    FROM shared
    WHERE rk = 1
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_user_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type affinity, aggregated by each user's MODAL
    type: how many users each type dominates, their mean affinity
    (modal-type share of their events), and how many are true
    majorities — the behavioral-segmentation table (are 'error' users
    a segment or noise?). Modal type via the portable rank-1 keyed
    window with the (n DESC, event_type) tie-break (the
    q_source_lang_purity struct-argmax pattern on the events domain);
    per-user shares are exact integer bp BEFORE averaging so the mean
    is a mean of pinned integers."""
    ev = load_table(spark, sf_dir, "events")
    per_ut = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("long").alias("n")
    )
    wu = Window.partitionBy("user_id")
    wr = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), "event_type"
    )
    shared = per_ut.select(
        "user_id",
        "event_type",
        "n",
        F.sum("n").over(wu).alias("tot"),
        F.row_number().over(wr).alias("rk"),
    ).filter(F.col("rk") == 1)
    return (
        shared.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_dominated_users"),
            F.expr(
                "CAST(sum(n * 10000 div tot) div count(*) AS BIGINT)"
            ).alias("mean_affinity_bp"),
            F.expr(
                "CAST(sum(CASE WHEN 2 * n > tot THEN 1 ELSE 0 END)"
                " * 10000 div count(*) AS BIGINT)"
            ).alias("majority_share_bp"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Tranche 9 — star-schema mix and dispersion: regional size mix,
# embedding sign balance, nation value ranking, within-order value
# concentration, brand price range.
# ---------------------------------------------------------------------------


@query(
    "q_region_size_mix",
    oracle="""
    SELECT r.r_name AS region,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(p.p_size AS BIGINT)) * 100 // count(*) AS BIGINT)
               AS mean_size_e2,
           CAST(sum(CASE WHEN p.p_size >= 40 THEN 1 ELSE 0 END)
                * 10000 // count(*) AS BIGINT) AS large_share_bp
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY r.r_name
    ORDER BY region
    """,
)
def q_region_size_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-size mix of what each supplier REGION actually ships:
    mean part size and the large-part (size ≥ 40) share per region —
    the logistics-capacity companion to q_region_price_parity's price
    view (bulky-mix regions need different freight contracts even at
    equal value). Five-table star: the two SF-scaling joins
    (supplier, part) are unhinted equi-joins AQE decides;
    nation/region are fixed-cardinality legs Catalyst broadcasts on
    its own; one hash aggregation to 5 rows, exact integer e2/bp."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    p = load_table(spark, sf_dir, "part")
    star = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(n, s["s_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .join(p, li["l_partkey"] == p["p_partkey"])
    )
    return (
        star.groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.expr(
                "CAST(sum(CAST(p_size AS BIGINT)) * 100 div count(*)"
                " AS BIGINT)"
            ).alias("mean_size_e2"),
            F.expr(
                "CAST(sum(CASE WHEN p_size >= 40 THEN 1 ELSE 0 END)"
                " * 10000 div count(*) AS BIGINT)"
            ).alias("large_share_bp"),
        )
        .orderBy("region")
    )


@query(
    "q_embed_sign_balance",
    oracle="""
    WITH comp AS (
        SELECT label, unnest(embedding) AS x
        FROM embeddings
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_components,
           CAST(sum(CASE WHEN x > 0 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS pos_share_bp,
           CAST(sum(CAST(floor(abs(CAST(x AS DOUBLE)) * 1000000)
                AS BIGINT)) // count(*) AS BIGINT) AS mean_abs_e6
    FROM comp
    GROUP BY label
    ORDER BY label
    """,
)
def q_embed_sign_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign balance of embedding components per label: the positive
    share and mean magnitude — the cheapest asymmetry probe (a
    centered embedding space sits near 5000 bp; a drifted or
    ReLU-truncated one does not, and that decides whether cosine needs
    recentering before LSH). Component explode is linear in vectors ×
    dims; sign tests are exact float comparisons and the magnitude is
    per-component floor(|x|·10⁶) BEFORE summation (float→double cast
    is value-preserving and identical both engines), so every
    aggregate is an exact int64."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select("label", F.explode("embedding").alias("x"))
    return (
        comp.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_components"),
            F.expr(
                "CAST(sum(CASE WHEN x > 0 THEN 1 ELSE 0 END) * 10000"
                " div count(*) AS BIGINT)"
            ).alias("pos_share_bp"),
            F.expr(
                "CAST(sum(CAST(floor(abs(CAST(x AS DOUBLE)) * 1000000)"
                " AS BIGINT)) div count(*) AS BIGINT)"
            ).alias("mean_abs_e6"),
        )
        .orderBy("label")
    )


@query(
    "q_nation_customer_value",
    oracle="""
    WITH per_nation AS (
        SELECT n.n_name AS nation,
               CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS n_customers,
               CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
               CAST(coalesce(sum(CAST(floor(o.o_totalprice * 100 + 0.5)
                   AS BIGINT)), 0) AS BIGINT) AS total_cents
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY n.n_name
    )
    SELECT nation, n_customers, n_orders, total_cents,
           CAST(CASE WHEN n_orders > 0 THEN total_cents // n_orders
                ELSE 0 END AS BIGINT) AS cents_per_order,
           CAST(row_number() OVER (ORDER BY total_cents DESC, nation)
               AS BIGINT) AS value_rank
    FROM per_nation
    ORDER BY value_rank
    """,
)
def q_nation_customer_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nation league table by customer order value: customers,
    orders, exact total cents, per-order value, and rank — the
    market-sizing view by CUSTOMER domicile (q_nation_trade_balance
    ranks nations by supply-side flows; this ranks demand). Customers
    without orders enter via the left join so n_customers is the true
    base; the rank is a row_number over the 25-row national aggregate
    with the nation-name tie-break (pmod partition keeps the bounded
    window off the single-partition warn path)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    per_nation = (
        c.join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(o, o["o_custkey"] == c["c_custkey"], "left")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.countDistinct("c_custkey").cast("long").alias("n_customers"),
            F.count("o_orderkey").cast("long").alias("n_orders"),
            F.expr(
                "CAST(coalesce(sum(CAST(floor(o_totalprice * 100 + 0.5)"
                " AS BIGINT)), 0) AS BIGINT)"
            ).alias("total_cents"),
        )
    )
    wr = Window.partitionBy(
        F.pmod(F.length("nation"), F.lit(1))
    ).orderBy(F.col("total_cents").desc(), "nation")
    return per_nation.select(
        "nation",
        "n_customers",
        "n_orders",
        "total_cents",
        F.expr(
            "CAST(CASE WHEN n_orders > 0 THEN total_cents div n_orders"
            " ELSE 0 END AS BIGINT)"
        ).alias("cents_per_order"),
        F.row_number().over(wr).cast("long").alias("value_rank"),
    ).orderBy("value_rank")


@query(
    "q_order_value_concentration",
    oracle="""
    WITH per_order AS (
        SELECT l_orderkey,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(max(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS top_cents,
               CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS total_cents
        FROM lineitem
        GROUP BY l_orderkey
    )
    SELECT n_lines,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(top_cents * 10000 // total_cents) // count(*)
               AS BIGINT) AS mean_top_share_bp
    FROM per_order
    WHERE n_lines >= 2
    GROUP BY n_lines
    ORDER BY n_lines
    """,
)
def q_order_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-order value concentration: the share of an order's value
    its single biggest line carries, by basket width (2..13 lines in
    this corpus — linenumbers repeat, so width exceeds the 1..7
    linenumber domain) — is
    a multi-line order one purchase plus filler, or balanced? (the
    anchor-item signal cross-sell models condition on; q_supplier_hhi
    measures concentration ACROSS orders, this measures INSIDE one).
    One aggregation per order, per-order shares pinned to integer bp
    BEFORE the group mean (a random 6-line basket sits near
    ~3500-4500 bp; 10000 means pure anchor), single-line orders
    excluded as trivially 10000."""
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.expr(
            "CAST(max(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))"
            " AS BIGINT)"
        ).alias("top_cents"),
        F.expr(
            "CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))"
            " AS BIGINT)"
        ).alias("total_cents"),
    )
    return (
        per_order.filter(F.col("n_lines") >= 2)
        .groupBy("n_lines")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.expr(
                "CAST(sum(top_cents * 10000 div total_cents) div count(*)"
                " AS BIGINT)"
            ).alias("mean_top_share_bp"),
        )
        .orderBy("n_lines")
    )


@query(
    "q_brand_price_range",
    oracle="""
    SELECT p_brand AS brand,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(min(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS min_cents,
           CAST(max(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS max_cents,
           CAST((max(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))
                 - min(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)))
                * 10000 * count(*)
                // sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS range_vs_mean_bp
    FROM part
    GROUP BY p_brand
    ORDER BY brand
    """,
)
def q_brand_price_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog price RANGE per brand: min/max list price and the range
    as basis points of the brand mean — does a brand span budget to
    premium or hold one tier? (q_brand_price_median locates the
    center; this measures the spread, the laddering question a
    category manager asks.) One aggregation over part; the
    range-to-mean ratio is computed as range·10⁴·n // Σcents — one
    exact integer expression, no intermediate mean rounding."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.expr(
                "CAST(min(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))"
                " AS BIGINT)"
            ).alias("min_cents"),
            F.expr(
                "CAST(max(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))"
                " AS BIGINT)"
            ).alias("max_cents"),
            F.expr(
                "CAST((max(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))"
                " - min(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)))"
                " * 10000 * count(*)"
                " div sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))"
                " AS BIGINT)"
            ).alias("range_vs_mean_bp"),
        )
        .orderBy("brand")
    )
