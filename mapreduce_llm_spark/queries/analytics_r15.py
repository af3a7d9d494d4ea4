"""Round-15 surface — 50 oracle-backed analytics queries.

Ten tranches: order-flow queueing, calendar structure, customer
ordering dynamics, catalog pricing structure, event-stream
microstructure, embedding geometry on exact e3 coordinates, corpus
structure beyond frequency, integrity and joint dependence,
statistical process control, and customer-base composition.

Determinism discipline: identical to the r9..r14 modules — exact
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
# Tranche 1 — order-flow / queueing science. The order book is a queue
# (arrivals = o_orderdate, departures = last shipment); none of the 685
# existing queries audits it AS a queue: Little's law, first-ship
# latency (vs the registered first-to-last span), monthly flow
# conservation, value-weighted WIP, and the keyspace-density audit
# range partitioning starts from.
# ---------------------------------------------------------------------------


@query(
    "q_little_law",
    oracle="""
    WITH per_order AS (
        SELECT o_orderkey,
               CAST(o_orderdate AS DATE) AS a,
               greatest(max(CAST(l_shipdate AS DATE)),
                        CAST(o_orderdate AS DATE)) AS c
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
    ),
    arrivals AS (
        SELECT CAST(date_trunc('month', a) AS TIMESTAMP) AS month,
               CAST(count(*) AS BIGINT) AS arrivals,
               CAST(sum(date_diff('day', a, c) + 1) AS BIGINT) AS span_sum
        FROM per_order GROUP BY 1
    ),
    open_days AS (
        SELECT month,
               CAST(sum(date_diff('day',
                   greatest(a, CAST(month AS DATE)),
                   least(c, CAST((month + INTERVAL 1 MONTH
                                  - INTERVAL 1 DAY) AS DATE))) + 1)
                   AS BIGINT) AS overlap_days
        FROM (
            SELECT a, c,
                   unnest(generate_series(
                       CAST(date_trunc('month', a) AS TIMESTAMP),
                       CAST(date_trunc('month', c) AS TIMESTAMP),
                       INTERVAL 1 MONTH)) AS month
            FROM per_order) x
        GROUP BY month
    )
    SELECT a.month, a.arrivals,
           CAST(a.span_sum * 10000 // a.arrivals AS BIGINT)
               AS w_mean_days_e4,
           CAST(coalesce(o.overlap_days, 0) * 10000
                // date_diff('day', CAST(a.month AS DATE),
                             CAST((a.month + INTERVAL 1 MONTH) AS DATE))
               AS BIGINT) AS l_avg_open_e4,
           CAST(coalesce(o.overlap_days, 0) * 10000 // a.span_sum
               AS BIGINT) AS littles_ratio_e4
    FROM arrivals a LEFT JOIN open_days o ON a.month = o.month
    ORDER BY a.month
    """,
)
def q_little_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's-law audit of the order book, month by month: L (average
    open orders, exact open-order-days within the month / days in
    month) against λ·W (arrivals × mean time-in-system of that month's
    arrivals). The two agree only in steady state, so littles_ratio_e4
    IS the boundary-effect/ramp fingerprint — the number a capacity
    planner checks before trusting any W-from-L inference. An order is
    open on [orderdate, last shipment] (clamped below by orderdate for
    ship-before-order anomalies — q_date_sanity counts those).

    Scale: one order-level aggregate (hash partial+final on orderkey),
    then a bounded month explode (spans are weeks-to-months, so ≤ a
    handful of rows per order — linear, never quadratic), then a
    by-month aggregate whose output is the calendar (≤ ~90 rows). All
    integer sums; e4 via nonneg integer division. No window, no join
    wider than the calendar."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", F.col("o_orderdate").cast("date").alias("a"))
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("c_raw"))
        .select("a", F.greatest("c_raw", "a").alias("c"))
    )
    arrivals = per_order.groupBy(
        F.date_trunc("month", F.col("a").cast("timestamp")).alias("month")
    ).agg(
        F.count("*").cast("long").alias("arrivals"),
        F.sum(F.datediff("c", "a") + F.lit(1)).cast("long").alias("span_sum"),
    )
    open_days = (
        per_order.select(
            "a",
            "c",
            F.explode(
                F.sequence(
                    F.date_trunc("month", F.col("a").cast("timestamp")),
                    F.date_trunc("month", F.col("c").cast("timestamp")),
                    F.expr("interval 1 month"),
                )
            ).alias("month"),
        )
        .groupBy("month")
        .agg(
            F.sum(
                F.datediff(
                    F.least(F.col("c"), F.last_day(F.col("month"))),
                    F.greatest(F.col("a"), F.col("month").cast("date")),
                )
                + F.lit(1)
            )
            .cast("long")
            .alias("overlap_days")
        )
    )
    # integer `div` on both sides — `/` promotes to double and the
    # long-cast then truncates vs DuckDB's floor (the CLAUDE.md
    # q_histogram_error rule); every operand here is nonneg
    return (
        arrivals.join(open_days, "month", "left")
        .select(
            "month",
            "arrivals",
            F.expr("span_sum * 10000 div arrivals")
            .cast("long")
            .alias("w_mean_days_e4"),
            F.expr(
                "coalesce(overlap_days, 0) * 10000"
                " div datediff(add_months(cast(month as date), 1),"
                "              cast(month as date))"
            )
            .cast("long")
            .alias("l_avg_open_e4"),
            F.expr("coalesce(overlap_days, 0) * 10000 div span_sum")
            .cast("long")
            .alias("littles_ratio_e4"),
        )
        .orderBy("month")
    )


@query(
    "q_first_ship_latency",
    oracle="""
    WITH per_order AS (
        SELECT o_orderkey, o_orderpriority,
               date_diff('day', CAST(o_orderdate AS DATE),
                         min(CAST(l_shipdate AS DATE))) AS lat_days
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderkey, o_orderpriority, CAST(o_orderdate AS DATE)
    ),
    r AS (
        SELECT o_orderpriority, lat_days,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY lat_days, o_orderkey) AS rk,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM per_order
    )
    SELECT o_orderpriority,
           CAST(max(n) AS BIGINT) AS n_orders,
           CAST(max(CASE WHEN rk = (n + 1) // 2 THEN lat_days END)
                AS BIGINT) AS median_latency_days,
           CAST(max(CASE WHEN rk = (n * 90 + 99) // 100 THEN lat_days END)
                AS BIGINT) AS p90_latency_days,
           CAST(min(lat_days) AS BIGINT) AS min_latency_days
    FROM r
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_first_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-FIRST-shipment latency per priority: exact median/p90
    of the days until the first line leaves the door — the customer's
    perceived responsiveness. The registered fulfilment family
    measures everything else (q_ship_delay raw per-line delays,
    q_fulfillment_span first-to-last stretch, q_sla_attainment
    within-K shares, q_otif order promises) but not the first-response
    clock; min_latency_days doubles as the ship-before-order floor
    (negative ⇔ the q_date_sanity anomaly). Same binomial-rank exact
    percentile construction as q_fulfillment_span: one order-level
    aggregate, then a 5-partition keyed window — never a global
    sort."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            "o_orderkey",
            "o_orderpriority",
            F.col("o_orderdate").cast("date").alias("a"),
        )
        .agg(F.min(F.col("l_shipdate").cast("date")).alias("first_ship"))
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.datediff("first_ship", "a").alias("lat_days"),
        )
    )
    wp = Window.partitionBy("o_orderpriority")
    r = per_order.select(
        "o_orderpriority",
        "lat_days",
        F.row_number().over(wp.orderBy("lat_days", "o_orderkey")).alias("rk"),
        F.count("*").over(wp).alias("n"),
    )
    return (
        r.groupBy("o_orderpriority")
        .agg(
            F.max("n").cast("long").alias("n_orders"),
            F.max(
                F.when(F.col("rk") == F.expr("(n + 1) div 2"), F.col("lat_days"))
            )
            .cast("long")
            .alias("median_latency_days"),
            F.max(
                F.when(
                    F.col("rk") == F.expr("(n * 90 + 99) div 100"),
                    F.col("lat_days"),
                )
            )
            .cast("long")
            .alias("p90_latency_days"),
            F.min("lat_days").cast("long").alias("min_latency_days"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_ship_rate_balance",
    oracle="""
    WITH flows AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
               CAST(count(*) AS BIGINT) AS ordered, CAST(0 AS BIGINT) AS shipped
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1
        UNION ALL
        SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS month,
               CAST(0 AS BIGINT), CAST(count(*) AS BIGINT)
        FROM lineitem
        GROUP BY 1
    ),
    monthly AS (
        SELECT month, CAST(sum(ordered) AS BIGINT) AS lines_ordered,
               CAST(sum(shipped) AS BIGINT) AS lines_shipped
        FROM flows GROUP BY month
    )
    SELECT month, lines_ordered, lines_shipped,
           CASE WHEN lines_ordered = 0 THEN NULL
                ELSE CAST(lines_shipped * 10000 // lines_ordered AS BIGINT)
           END AS ship_ratio_e4,
           CAST(sum(lines_ordered - lines_shipped)
                OVER (ORDER BY month ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS BIGINT) AS cum_backlog_lines
    FROM monthly
    ORDER BY month
    """,
)
def q_ship_rate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly flow conservation of the fulfilment queue: lines
    entering (their order booked this month) vs lines leaving
    (shipped this month), the in-month throughput ratio, and the
    cumulative backlog the imbalances integrate to — the flow-level
    companion to q_open_orders_curve's order-level WIP (a queue can
    hold few orders but many unshipped lines). The first/last horizon
    months are the ramp; cum_backlog_lines returning to ~0 at the
    horizon end is the conservation check.

    Scale: two independent fact aggregations (each partial+final,
    calendar-sized output) unioned BEFORE the monthly re-aggregate;
    the running sum then runs over the ~85-row aggregated calendar —
    the q_orders_running_share small-frame-window precedent, harmless
    at any input scale."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ordered = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(F.count("*").cast("long").alias("ordered"))
        .select("month", "ordered", F.lit(0).cast("long").alias("shipped"))
    )
    shipped = (
        li.groupBy(F.date_trunc("month", "l_shipdate").alias("month"))
        .agg(F.count("*").cast("long").alias("shipped"))
        .select("month", F.lit(0).cast("long").alias("ordered"), "shipped")
    )
    monthly = (
        ordered.unionByName(shipped)
        .groupBy("month")
        .agg(
            F.sum("ordered").cast("long").alias("lines_ordered"),
            F.sum("shipped").cast("long").alias("lines_shipped"),
        )
    )
    w = Window.orderBy("month").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        monthly.select(
            "month",
            "lines_ordered",
            "lines_shipped",
            F.when(
                F.col("lines_ordered") != 0,
                F.expr("lines_shipped * 10000 div lines_ordered"),
            )
            .cast("long")
            .alias("ship_ratio_e4"),
            F.sum(F.col("lines_ordered") - F.col("lines_shipped"))
            .over(w)
            .cast("long")
            .alias("cum_backlog_lines"),
        )
        .orderBy("month")
    )


@query(
    "q_wip_value_days",
    oracle="""
    WITH per_order AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               date_diff('day', CAST(o_orderdate AS DATE),
                   greatest(max(CAST(l_shipdate AS DATE)),
                            CAST(o_orderdate AS DATE))) + 1 AS span_days
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderkey, o_orderpriority, o_totalprice,
                 CAST(o_orderdate AS DATE)
    ),
    agg AS (
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               sum(CAST(cents * span_days AS HUGEINT)) AS wip,
               sum(CAST(cents AS HUGEINT)) AS cents_sum
        FROM per_order GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n_orders,
           CAST(floor(CAST(wip AS DOUBLE) * 10000.0
                      / CAST(sum(wip) OVER () AS DOUBLE)) AS BIGINT)
               AS wip_share_e4,
           CAST(floor(CAST(wip AS DOUBLE) * 10000.0
                      / CAST(cents_sum AS DOUBLE)) AS BIGINT)
               AS value_weighted_days_e4
    FROM agg
    ORDER BY o_orderpriority
    """,
)
def q_wip_value_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-weighted work-in-progress per priority: each order
    contributes (order value in cents) × (days open), the classic
    inventory-carrying integral — q_open_orders_curve counts open
    ORDERS; this weights them by the capital parked in flight, and
    value_weighted_days_e4 is the capital-weighted mean residence
    time (a big slow order dominates a dozen quick small ones).

    Determinism: cents×days products stay int64 per order, but their
    SUM passes int64 near sf10 (~1e17) and ×10⁴ certainly does, so
    both engines accumulate on DECIMAL(38,0)/HUGEINT and the two e4
    ratios are computed as ONE double floor((num::double · 10⁴) /
    den::double) — the CLAUDE.md q_bot_score/q_hhi_trend rule (exact
    decimal sums, one IEEE divide, floor-pinned). The 5-row window
    total runs over the aggregated frame only."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.col("o_orderdate").cast("date").alias("a"),
        )
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("c_raw"))
        .select(
            "o_orderpriority",
            F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
                "cents"
            ),
            (F.datediff(F.greatest("c_raw", "a"), F.col("a")) + F.lit(1)).alias(
                "span_days"
            ),
        )
    )
    agg = per_order.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.expr("CAST(cents * span_days AS DECIMAL(38,0))")).alias("wip"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("cents_sum"),
    )
    wall = Window.partitionBy()
    return (
        agg.select(
            "o_orderpriority",
            "n_orders",
            F.floor(
                F.col("wip").cast("double")
                * 10000.0
                / F.sum("wip").over(wall).cast("double")
            )
            .cast("long")
            .alias("wip_share_e4"),
            F.floor(
                F.col("wip").cast("double")
                * 10000.0
                / F.col("cents_sum").cast("double")
            )
            .cast("long")
            .alias("value_weighted_days_e4"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_key_density",
    oracle="""
    WITH bounds AS (
        SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx FROM orders
    ),
    bucketed AS (
        SELECT CAST((o_orderkey - mn) * 16 // (mx - mn + 1) AS BIGINT)
                   AS bucket,
               o_orderkey
        FROM orders, bounds
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(count(*) * 10000 // sum(count(*)) OVER () AS BIGINT)
               AS share_e4,
           CAST(min(o_orderkey) AS BIGINT) AS lo_key,
           CAST(max(o_orderkey) AS BIGINT) AS hi_key
    FROM bucketed
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def q_key_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyspace-density audit: o_orderkey occupancy across 16
    equal-WIDTH slices of [min, max] — TPC-H deliberately uses only
    every 1-in-4 orderkey block, and any range partitioner (or
    BETWEEN-pruning reader) sized on uniform-keyspace assumptions
    inherits that skew. share_e4 far from 625 per bucket quantifies
    it; lo/hi_key expose the dead zones. Complements q_partition_advisor
    (row-count balance for hash layouts) with the RANGE-layout view.

    Scale: one 2-column scan aggregated twice (16-row output); the
    1-row bounds leg broadcasts (the allowlisted NLJ broadcast-scalar
    pattern); bucket arithmetic is nonneg integer division on both
    engines."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min("o_orderkey").alias("mn"), F.max("o_orderkey").alias("mx")
    )
    bucketed = o.select("o_orderkey").crossJoin(F.broadcast(bounds))
    wall = Window.partitionBy()
    return (
        bucketed.select(
            F.expr("CAST((o_orderkey - mn) * 16 div (mx - mn + 1) AS BIGINT)")
            .alias("bucket"),
            "o_orderkey",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_keys"),
            F.min("o_orderkey").cast("long").alias("lo_key"),
            F.max("o_orderkey").cast("long").alias("hi_key"),
        )
        .select(
            "bucket",
            "n_keys",
            F.expr("n_keys * 10000")
            .cast("long")
            .alias("__num"),
            F.sum("n_keys").over(wall).cast("long").alias("__den"),
            "lo_key",
            "hi_key",
        )
        .select(
            "bucket",
            "n_keys",
            F.expr("__num div __den").cast("long").alias("share_e4"),
            "lo_key",
            "hi_key",
        )
    ).orderBy("bucket")


# ---------------------------------------------------------------------------
# Tranche 2 — calendar structure across datasets. The registered
# calendar family profiles ONE dataset at a time (q_dom_profile,
# q_month_end_load, q_weekend_effect, q_holiday_effect); these audit
# the calendar itself (month-length normalization, year boundaries)
# and ALIGN the orders and events calendars against each other.
# ---------------------------------------------------------------------------


@query(
    "q_month_length_effect",
    oracle="""
    WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1
    )
    SELECT CAST(date_diff('day', CAST(month AS DATE),
                CAST((month + INTERVAL 1 MONTH) AS DATE)) AS BIGINT)
               AS month_days,
           CAST(count(*) AS BIGINT) AS n_months,
           CAST(sum(n_orders) AS BIGINT) AS n_orders,
           CAST(sum(n_orders) * 10000
                // (count(*) * date_diff('day', CAST(month AS DATE),
                     CAST((month + INTERVAL 1 MONTH) AS DATE)))
               AS BIGINT) AS orders_per_day_e4
    FROM monthly
    GROUP BY date_diff('day', CAST(month AS DATE),
                       CAST((month + INTERVAL 1 MONTH) AS DATE))
    ORDER BY month_days
    """,
)
def q_month_length_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-length normalization audit: orders per DAY for 28/29/30/31
    day months — raw monthly volume comparisons carry a built-in ~10%
    bias (31 vs 28 days) that every month-over-month KPI inherits
    unless rate-adjusted (q_weekend_effect's argument, applied to the
    month axis; q_month_end_load profiles within-month shape, not the
    length effect). A flat orders_per_day_e4 across lengths proves the
    generator is day-homogeneous; a slope is the calendar artifact to
    divide out.

    Scale: one monthly aggregate (calendar-sized), re-grouped into ≤4
    rows; all-integer rates by nonneg integer division."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(F.count("*").cast("long").alias("n_orders"))
    with_len = monthly.select(
        F.datediff(
            F.add_months(F.col("month").cast("date"), 1),
            F.col("month").cast("date"),
        )
        .cast("long")
        .alias("month_days"),
        "n_orders",
    )
    return (
        with_len.groupBy("month_days")
        .agg(
            F.count("*").cast("long").alias("n_months"),
            F.sum("n_orders").cast("long").alias("n_orders"),
        )
        .select(
            "month_days",
            "n_months",
            "n_orders",
            F.expr("n_orders * 10000 div (n_months * month_days)")
            .cast("long")
            .alias("orders_per_day_e4"),
        )
        .orderBy("month_days")
    )


@query(
    "q_dow_profile_align",
    oracle="""
    WITH o AS (
        SELECT CAST(isodow(o_orderdate) AS BIGINT) AS dow,
               CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY 1
    ),
    e AS (
        SELECT CAST(isodow(ts) AS BIGINT) AS dow,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    )
    SELECT o.dow,
           o.n AS n_orders,
           e.n AS n_events,
           CAST(o.n * 10000 // sum(o.n) OVER () AS BIGINT)
               AS orders_share_e4,
           CAST(e.n * 10000 // sum(e.n) OVER () AS BIGINT)
               AS events_share_e4,
           CAST(abs(o.n * 10000 // sum(o.n) OVER ()
                    - e.n * 10000 // sum(e.n) OVER ()) AS BIGINT)
               AS gap_e4
    FROM o JOIN e ON o.dow = e.dow
    ORDER BY o.dow
    """,
)
def q_dow_profile_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday-mix alignment between the ORDERS calendar and the EVENTS
    calendar: per ISO weekday, each dataset's volume share and the
    absolute gap — the first check before any cross-dataset
    seasonality model (if the commerce side is weekday-flat, TPC-H
    style, while user events hump midweek, a joint weekly forecast
    needs separate day factors). Single-dataset weekday profiles exist
    (q_weekend_effect, q_dow_stability); the cross-dataset alignment
    does not.

    Scale: two independent 7-row aggregates joined on weekday; the
    share windows run over the 7-row frames. Spark weekday()+1 ==
    DuckDB isodow (the CLAUDE.md rule)."""
    o = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    oo = o.groupBy(
        (F.weekday("o_orderdate") + F.lit(1)).cast("long").alias("dow")
    ).agg(F.count("*").cast("long").alias("n_orders"))
    ee = ev.groupBy(
        (F.weekday("ts") + F.lit(1)).cast("long").alias("dow")
    ).agg(F.count("*").cast("long").alias("n_events"))
    wall = Window.partitionBy()
    joined = oo.join(ee, "dow")
    return (
        joined.select(
            "dow",
            "n_orders",
            "n_events",
            F.expr("n_orders * 10000").alias("__no"),
            F.expr("n_events * 10000").alias("__ne"),
            F.sum("n_orders").over(wall).alias("__to"),
            F.sum("n_events").over(wall).alias("__te"),
        )
        .select(
            "dow",
            "n_orders",
            "n_events",
            F.expr("__no div __to").cast("long").alias("orders_share_e4"),
            F.expr("__ne div __te").cast("long").alias("events_share_e4"),
            F.expr("abs(__no div __to - __ne div __te)")
            .cast("long")
            .alias("gap_e4"),
        )
        .orderBy("dow")
    )


@query(
    "q_quarter_shape",
    oracle="""
    SELECT CAST((extract(month FROM o_orderdate) - 1) % 3 + 1 AS BIGINT)
               AS month_in_quarter,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(*) * 10000 // sum(count(*)) OVER () AS BIGINT)
               AS count_share_e4,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                * 10000
                // sum(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)))
                   OVER () AS BIGINT) AS value_share_e4
    FROM orders
    GROUP BY (extract(month FROM o_orderdate) - 1) % 3 + 1
    ORDER BY month_in_quarter
    """,
)
def q_quarter_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-quarter loading curve: the share of order count and order
    VALUE landing in quarter month 1 / 2 / 3 — the hockey-stick
    fingerprint of quota-driven selling. q_quarter_end_push measures
    the final-days spike; this is the full three-month shape, and the
    count-vs-value share gap per position shows whether late-quarter
    orders are also BIGGER. Exact cents sums (int64-safe: ×10⁴ on a
    whole-table cents sum stays under 2⁶³ through sf10, single-digit
    e17), nonneg integer division."""
    o = load_table(spark, sf_dir, "orders")
    wall = Window.partitionBy()
    g = o.groupBy(
        ((F.month("o_orderdate") - 1) % 3 + 1)
        .cast("long")
        .alias("month_in_quarter")
    ).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
        .cast("long")
        .alias("cents"),
    )
    return (
        g.select(
            "month_in_quarter",
            "n_orders",
            F.expr("n_orders * 10000").alias("__nc"),
            F.expr("cents * 10000").alias("__vc"),
            F.sum("n_orders").over(wall).alias("__nt"),
            F.sum("cents").over(wall).alias("__vt"),
        )
        .select(
            "month_in_quarter",
            "n_orders",
            F.expr("__nc div __nt").cast("long").alias("count_share_e4"),
            F.expr("__vc div __vt").cast("long").alias("value_share_e4"),
        )
        .orderBy("month_in_quarter")
    )


@query(
    "q_seasonal_profile_align",
    oracle="""
    WITH o AS (
        SELECT CAST(weekofyear(o_orderdate) AS BIGINT) AS week,
               CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY 1
    ),
    e AS (
        SELECT CAST(weekofyear(ts) AS BIGINT) AS week,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    )
    SELECT coalesce(o.week, e.week) AS week,
           CAST(coalesce(o.n, 0) AS BIGINT) AS n_orders,
           CAST(coalesce(e.n, 0) AS BIGINT) AS n_events,
           CAST(coalesce(o.n, 0) * 10000
                // sum(coalesce(o.n, 0)) OVER () AS BIGINT)
               AS orders_share_e4,
           CAST(coalesce(e.n, 0) * 10000
                // sum(coalesce(e.n, 0)) OVER () AS BIGINT)
               AS events_share_e4
    FROM o FULL OUTER JOIN e ON o.week = e.week
    ORDER BY week
    """,
)
def q_seasonal_profile_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-week-of-year seasonal profile alignment between orders and
    events: each dataset's volume share per week 1..53, on one axis.
    The two datasets cover DISJOINT absolute date ranges (TPC-H's
    1992-1998 vs the events feed's recent weeks), so week-of-year is
    the only calendar axis they can be compared on — exactly how a
    seasonality prior from one domain gets transferred to another.
    Weeks outside the events feed's coverage surface as 0-share rows
    (FULL OUTER), making the coverage gap explicit rather than
    silently truncated.

    Scale: two independent ≤53-row aggregates, full-outer-joined on
    week; share windows over the ≤53-row frame."""
    o = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    oo = o.groupBy(
        F.weekofyear("o_orderdate").cast("long").alias("week")
    ).agg(F.count("*").cast("long").alias("n_o"))
    ee = ev.groupBy(F.weekofyear("ts").cast("long").alias("week")).agg(
        F.count("*").cast("long").alias("n_e")
    )
    wall = Window.partitionBy()
    joined = oo.join(ee, "week", "full")
    return (
        joined.select(
            "week",
            F.coalesce("n_o", F.lit(0)).cast("long").alias("n_orders"),
            F.coalesce("n_e", F.lit(0)).cast("long").alias("n_events"),
        )
        .select(
            "week",
            "n_orders",
            "n_events",
            F.expr("n_orders * 10000").alias("__no"),
            F.expr("n_events * 10000").alias("__ne"),
            F.sum("n_orders").over(wall).alias("__to"),
            F.sum("n_events").over(wall).alias("__te"),
        )
        .select(
            "week",
            "n_orders",
            "n_events",
            F.expr("__no div __to").cast("long").alias("orders_share_e4"),
            F.expr("__ne div __te").cast("long").alias("events_share_e4"),
        )
        .orderBy("week")
    )


@query(
    "q_year_boundary_dip",
    oracle="""
    WITH tagged AS (
        SELECT CASE WHEN extract(month FROM o_orderdate) = 12
                     AND extract(day FROM o_orderdate) >= 25
                    THEN CAST(extract(year FROM o_orderdate) AS BIGINT)
                    WHEN extract(month FROM o_orderdate) = 1
                     AND extract(day FROM o_orderdate) <= 7
                    THEN CAST(extract(year FROM o_orderdate) AS BIGINT) - 1
               END AS boundary_year,
               CASE WHEN extract(month FROM o_orderdate) = 12
                    THEN 1 ELSE 0 END AS is_dec
        FROM orders
        WHERE (extract(month FROM o_orderdate) = 12
               AND extract(day FROM o_orderdate) >= 25)
           OR (extract(month FROM o_orderdate) = 1
               AND extract(day FROM o_orderdate) <= 7)
    )
    SELECT boundary_year,
           CAST(sum(is_dec) AS BIGINT) AS dec_tail_orders,
           CAST(sum(1 - is_dec) AS BIGINT) AS jan_head_orders,
           CASE WHEN sum(1 - is_dec) = 0 THEN NULL
                ELSE CAST(sum(is_dec) * 10000 // sum(1 - is_dec) AS BIGINT)
           END AS dec_over_jan_e4
    FROM tagged
    GROUP BY boundary_year
    ORDER BY boundary_year
    """,
)
def q_year_boundary_dip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-boundary activity dip: for each Dec→Jan boundary, orders in
    the last 7 days of December vs the first 7 days of January (both
    7-day windows, so the ratio is day-rate-fair). Retail slows into
    the fiscal close and re-opens in January; the per-boundary ratio
    trend shows whether the generator models it (and a missing January
    head at the horizon edge surfaces as a NULL-guarded row, not a
    silent drop). q_holiday_effect measures month-START loading; the
    boundary pair view does not exist elsewhere.

    Scale: one filtered scan (date predicates pushed to parquet),
    one ≤7-row aggregate; all-integer ratio, NULL-guarded."""
    o = load_table(spark, sf_dir, "orders")
    mm = F.month("o_orderdate")
    dd = F.dayofmonth("o_orderdate")
    yy = F.year("o_orderdate").cast("long")
    tagged = o.where(
        ((mm == 12) & (dd >= 25)) | ((mm == 1) & (dd <= 7))
    ).select(
        F.when((mm == 12) & (dd >= 25), yy)
        .when((mm == 1) & (dd <= 7), yy - 1)
        .alias("boundary_year"),
        F.when(mm == 12, F.lit(1)).otherwise(F.lit(0)).alias("is_dec"),
    )
    return (
        tagged.groupBy("boundary_year")
        .agg(
            F.sum("is_dec").cast("long").alias("dec_tail_orders"),
            F.sum(F.lit(1) - F.col("is_dec"))
            .cast("long")
            .alias("jan_head_orders"),
        )
        .select(
            "boundary_year",
            "dec_tail_orders",
            "jan_head_orders",
            F.when(
                F.col("jan_head_orders") != 0,
                F.expr("dec_tail_orders * 10000 div jan_head_orders"),
            )
            .cast("long")
            .alias("dec_over_jan_e4"),
        )
        .orderBy("boundary_year")
    )


# ---------------------------------------------------------------------------
# Tranche 3 — customer ordering dynamics: record-value breaks, weekday
# habit strength, ordering tempo, within-customer value dispersion,
# and gap acceleration. The registered customer family measures
# levels and cadence (q_rfm, q_reorder_cadence/_regularity,
# q_activity_span); these measure CHANGE within each customer's own
# history. All per-customer keyed windows — high-cardinality
# partitions, never a global sort.
# ---------------------------------------------------------------------------


@query(
    "q_record_highs",
    oracle="""
    WITH seq AS (
        SELECT c_mktsegment, o_custkey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn,
               count(*) OVER (PARTITION BY o_custkey) AS n,
               max(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                   OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_max
        FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    per_cust AS (
        SELECT c_mktsegment, o_custkey,
               CAST(sum(CASE WHEN prev_max IS NULL OR cents > prev_max
                             THEN 1 ELSE 0 END) AS BIGINT) AS records,
               CAST(max(CASE WHEN rn = n THEN
                   CASE WHEN prev_max IS NULL OR cents > prev_max
                        THEN 1 ELSE 0 END END) AS BIGINT) AS last_is_record
        FROM seq GROUP BY c_mktsegment, o_custkey
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(records) * 10000 // count(*) AS BIGINT)
               AS mean_records_e4,
           CAST(sum(last_is_record) * 10000 // count(*) AS BIGINT)
               AS ending_on_record_e4
    FROM per_cust
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q_record_highs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-breaking order values per customer: how many times a
    customer's order sets a new personal maximum, and whether their
    LAST order was a record (still-growing vs plateaued). Under
    exchangeable values the expected record count is the harmonic
    number H(n) ≈ ln n + γ — mean_records_e4 materially above that is
    monotone basket growth, and ending_on_record_e4 is the live-growth
    share the CLV models (q_clv_simple) treat as constant. Exact cents
    comparisons; (orderdate, orderkey) total order per customer."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_mktsegment",
            "o_custkey",
            F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
                "cents"
            ),
            F.row_number().over(w).alias("rn"),
            F.count("*").over(Window.partitionBy("o_custkey")).alias("n"),
            F.max(
                F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            )
            .over(w.rowsBetween(Window.unboundedPreceding, -1))
            .alias("prev_max"),
        )
    )
    is_rec = F.when(
        F.col("prev_max").isNull() | (F.col("cents") > F.col("prev_max")),
        F.lit(1),
    ).otherwise(F.lit(0))
    per_cust = seq.groupBy("c_mktsegment", "o_custkey").agg(
        F.sum(is_rec).cast("long").alias("records"),
        F.max(F.when(F.col("rn") == F.col("n"), is_rec))
        .cast("long")
        .alias("last_is_record"),
    )
    return (
        per_cust.groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.expr("CAST(sum(records) * 10000 div count(*) AS BIGINT)").alias(
                "mean_records_e4"
            ),
            F.expr(
                "CAST(sum(last_is_record) * 10000 div count(*) AS BIGINT)"
            ).alias("ending_on_record_e4"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q_weekday_loyalty",
    oracle="""
    WITH per_dow AS (
        SELECT o_custkey, CAST(isodow(o_orderdate) AS BIGINT) AS dow,
               CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY o_custkey, isodow(o_orderdate)
    ),
    per_cust AS (
        SELECT o_custkey, max(n) AS modal_n, sum(n) AS n_orders
        FROM per_dow GROUP BY o_custkey
        HAVING sum(n) >= 3
    ),
    banded AS (
        SELECT CASE WHEN modal_n * 10000 // n_orders < 3000 THEN 0
                    WHEN modal_n * 10000 // n_orders < 5000 THEN 1
                    WHEN modal_n * 10000 // n_orders < 7000 THEN 2
                    ELSE 3 END AS loyalty_band
        FROM per_cust
    )
    SELECT CAST(loyalty_band AS BIGINT) AS loyalty_band,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(count(*) * 10000 // sum(count(*)) OVER () AS BIGINT)
               AS share_e4
    FROM banded
    GROUP BY loyalty_band
    ORDER BY loyalty_band
    """,
)
def q_weekday_loyalty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday habit strength: for customers with ≥3 orders, the share
    of their orders landing on their MODAL weekday, banded (<30%,
    30-50%, 50-70%, ≥70%) — a 3-order customer always reaches 33%, so
    the <30% band filling up only at higher order counts is itself
    informative. Weekday profiles exist in aggregate (q_dow_stability);
    per-customer habit concentration does not. The modal count is a
    plain MAX (no argmax tie hazard). Two hash aggregates on
    high-cardinality keys, then a 4-row band rollup."""
    o = load_table(spark, sf_dir, "orders")
    per_dow = o.groupBy(
        "o_custkey",
        (F.weekday("o_orderdate") + F.lit(1)).cast("long").alias("dow"),
    ).agg(F.count("*").cast("long").alias("n"))
    per_cust = (
        per_dow.groupBy("o_custkey")
        .agg(
            F.max("n").alias("modal_n"),
            F.sum("n").alias("n_orders"),
        )
        .filter(F.col("n_orders") >= 3)
    )
    share = F.expr("modal_n * 10000 div n_orders")
    banded = per_cust.select(
        F.when(share < 3000, F.lit(0))
        .when(share < 5000, F.lit(1))
        .when(share < 7000, F.lit(2))
        .otherwise(F.lit(3))
        .cast("long")
        .alias("loyalty_band")
    )
    wall = Window.partitionBy()
    return (
        banded.groupBy("loyalty_band")
        .agg(F.count("*").cast("long").alias("n_customers"))
        .select(
            "loyalty_band",
            "n_customers",
            F.expr("n_customers * 10000").alias("__num"),
            F.sum("n_customers").over(wall).alias("__den"),
        )
        .select(
            "loyalty_band",
            "n_customers",
            F.expr("__num div __den").cast("long").alias("share_e4"),
        )
        .orderBy("loyalty_band")
    )


@query(
    "q_order_tempo",
    oracle="""
    WITH per_cust AS (
        SELECT c_mktsegment, o_custkey,
               CAST(count(*) AS BIGINT) AS n_orders,
               (CAST(extract(year FROM max(o_orderdate)) AS BIGINT) * 12
                + CAST(extract(month FROM max(o_orderdate)) AS BIGINT))
               - (CAST(extract(year FROM min(o_orderdate)) AS BIGINT) * 12
                  + CAST(extract(month FROM min(o_orderdate)) AS BIGINT))
               + 1 AS active_months
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment, o_custkey
        HAVING count(*) >= 2
    ),
    r AS (
        SELECT c_mktsegment,
               n_orders * 10000 // active_months AS tempo_e4,
               o_custkey,
               row_number() OVER (PARTITION BY c_mktsegment
                   ORDER BY n_orders * 10000 // active_months, o_custkey)
                   AS rk,
               count(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM per_cust
    )
    SELECT c_mktsegment,
           CAST(max(n) AS BIGINT) AS n_repeat_customers,
           CAST(max(CASE WHEN rk = (n + 1) // 2 THEN tempo_e4 END)
                AS BIGINT) AS median_tempo_e4,
           CAST(max(CASE WHEN rk = (n * 90 + 99) // 100 THEN tempo_e4 END)
                AS BIGINT) AS p90_tempo_e4
    FROM r
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q_order_tempo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordering tempo per repeat customer: orders per ACTIVE month
    (calendar months spanned first→last order, inclusive) — the
    rate-normalized twin of q_reorder_cadence's absolute gaps: two
    customers with identical median gaps can have very different
    tempos if one's history is short. Exact median/p90 per segment by
    the binomial-rank construction; integer month arithmetic
    (y·12+m) on both engines."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    per_cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            (
                (F.year(F.max("o_orderdate")).cast("long") * 12
                 + F.month(F.max("o_orderdate")).cast("long"))
                - (F.year(F.min("o_orderdate")).cast("long") * 12
                   + F.month(F.min("o_orderdate")).cast("long"))
                + 1
            ).alias("active_months"),
        )
        .filter(F.col("n_orders") >= 2)
    )
    wp = Window.partitionBy("c_mktsegment")
    r = per_cust.select(
        "c_mktsegment",
        F.expr("n_orders * 10000 div active_months").alias("tempo_e4"),
        "o_custkey",
    ).select(
        "c_mktsegment",
        "tempo_e4",
        F.row_number().over(wp.orderBy("tempo_e4", "o_custkey")).alias("rk"),
        F.count("*").over(wp).alias("n"),
    )
    return (
        r.groupBy("c_mktsegment")
        .agg(
            F.max("n").cast("long").alias("n_repeat_customers"),
            F.max(F.when(F.col("rk") == F.expr("(n + 1) div 2"), F.col("tempo_e4")))
            .cast("long")
            .alias("median_tempo_e4"),
            F.max(
                F.when(
                    F.col("rk") == F.expr("(n * 90 + 99) div 100"),
                    F.col("tempo_e4"),
                )
            )
            .cast("long")
            .alias("p90_tempo_e4"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q_value_cv_by_tenure",
    oracle="""
    WITH per_cust AS (
        SELECT c_mktsegment, o_custkey,
               CAST(count(*) AS BIGINT) AS n,
               sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS s1,
               sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                   * CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS s2,
               date_diff('day', min(CAST(o_orderdate AS DATE)),
                         max(CAST(o_orderdate AS DATE))) AS tenure_days
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment, o_custkey
        HAVING count(*) >= 2
    ),
    cv AS (
        SELECT c_mktsegment,
               CASE WHEN tenure_days < 365 THEN 0
                    WHEN tenure_days < 1095 THEN 1
                    ELSE 2 END AS tenure_band,
               CAST(floor((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                          * 10000.0
                          / (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)))
                    AS BIGINT) AS cv2_e4
        FROM per_cust
    )
    SELECT c_mktsegment, CAST(tenure_band AS BIGINT) AS tenure_band,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(cv2_e4) // count(*) AS BIGINT) AS mean_cv2_e4
    FROM cv
    GROUP BY c_mktsegment, tenure_band
    ORDER BY c_mktsegment, tenure_band
    """,
)
def q_value_cv_by_tenure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-customer order-value dispersion by tenure: squared
    coefficient of variation n·Σx²/(Σx)² − 1 (here the equivalent
    (n·Σx² − (Σx)²)/(Σx)², which keeps every operand a sum) per
    repeat customer, averaged by (segment, tenure band <1y / 1-3y /
    ≥3y) — do long-tenured customers settle into consistent basket
    sizes? q_reorder_regularity asks this of their TIMING; nothing
    asks it of their VALUE. Determinism: cents moments stay int64
    per customer (≤ ~40 orders × (5e7)² ≈ 4e18 at n·Σx²), and the cv²
    ratio is ONE double floor-division (the q_bot_score rule: int64→
    double conversion and IEEE divide round identically on both
    engines). The per-band mean then divides exact int sums."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cents = F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
    per_cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(cents).alias("s1"),
            F.sum(cents * cents).alias("s2"),
            F.datediff(
                F.max(F.col("o_orderdate").cast("date")),
                F.min(F.col("o_orderdate").cast("date")),
            ).alias("tenure_days"),
        )
        .filter(F.col("n") >= 2)
    )
    cv = per_cust.select(
        "c_mktsegment",
        F.when(F.col("tenure_days") < 365, F.lit(0))
        .when(F.col("tenure_days") < 1095, F.lit(1))
        .otherwise(F.lit(2))
        .cast("long")
        .alias("tenure_band"),
        F.floor(
            (
                F.col("n").cast("double") * F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1").cast("double")
            )
            * 10000.0
            / (F.col("s1").cast("double") * F.col("s1").cast("double"))
        )
        .cast("long")
        .alias("cv2_e4"),
    )
    return (
        cv.groupBy("c_mktsegment", "tenure_band")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.expr("CAST(sum(cv2_e4) div count(*) AS BIGINT)").alias(
                "mean_cv2_e4"
            ),
        )
        .orderBy("c_mktsegment", "tenure_band")
    )


@query(
    "q_gap_acceleration",
    oracle="""
    WITH seq AS (
        SELECT c_mktsegment, o_custkey,
               date_diff('day',
                   lag(CAST(o_orderdate AS DATE)) OVER w,
                   CAST(o_orderdate AS DATE)) AS gap,
               row_number() OVER w AS rn,
               count(*) OVER (PARTITION BY o_custkey) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)
    ),
    per_cust AS (
        SELECT c_mktsegment, o_custkey,
               max(CASE WHEN rn = 2 THEN gap END) AS first_gap,
               max(CASE WHEN rn = n THEN gap END) AS last_gap
        FROM seq
        WHERE n >= 3
        GROUP BY c_mktsegment, o_custkey
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN last_gap < first_gap THEN 1 ELSE 0 END)
                * 10000 // count(*) AS BIGINT) AS accelerating_e4,
           CAST(sum(CASE WHEN last_gap > first_gap THEN 1 ELSE 0 END)
                * 10000 // count(*) AS BIGINT) AS decelerating_e4,
           CAST(sum(CASE WHEN last_gap = first_gap THEN 1 ELSE 0 END)
                * 10000 // count(*) AS BIGINT) AS stable_e4
    FROM per_cust
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q_gap_acceleration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordering-gap acceleration: for customers with ≥3 orders, is the
    LAST inter-order gap shorter (accelerating), longer
    (decelerating), or equal vs their FIRST gap — the
    individual-trajectory churn signal q_reorder_cadence's
    population medians average away (a segment can hold steady
    medians while every customer decelerates toward churn). First
    gap = orders 1→2 (rn=2's lag), last gap = orders n-1→n. Exact
    integer day gaps; three complementary shares that sum to 10000
    up to two floor units."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_mktsegment",
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("gap"),
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("o_custkey")).alias("n"),
    )
    per_cust = (
        seq.filter(F.col("n") >= 3)
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.max(F.when(F.col("rn") == 2, F.col("gap"))).alias("first_gap"),
            F.max(F.when(F.col("rn") == F.col("n"), F.col("gap"))).alias(
                "last_gap"
            ),
        )
    )
    return (
        per_cust.groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.expr(
                "CAST(sum(CASE WHEN last_gap < first_gap THEN 1 ELSE 0 END)"
                " * 10000 div count(*) AS BIGINT)"
            ).alias("accelerating_e4"),
            F.expr(
                "CAST(sum(CASE WHEN last_gap > first_gap THEN 1 ELSE 0 END)"
                " * 10000 div count(*) AS BIGINT)"
            ).alias("decelerating_e4"),
            F.expr(
                "CAST(sum(CASE WHEN last_gap = first_gap THEN 1 ELSE 0 END)"
                " * 10000 div count(*) AS BIGINT)"
            ).alias("stable_e4"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Tranche 4 — catalog & pricing structure: the p_type word hierarchy,
# local-vs-cross-nation supply pricing, size-ladder continuity, brand
# composition entropy, and part affinity to heavyweight orders.
# ---------------------------------------------------------------------------


@query(
    "q_local_supply_premium",
    oracle="""
    WITH lines AS (
        SELECT r.r_name AS region,
               CASE WHEN cn.n_nationkey = sn.n_nationkey
                    THEN 1 ELSE 0 END AS is_local,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
               CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region r ON cn.n_regionkey = r.r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
    ),
    agg AS (
        SELECT region,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(is_local) AS BIGINT) AS n_local,
               sum(CASE WHEN is_local = 1 THEN cents ELSE 0 END)
                   AS local_cents,
               sum(CASE WHEN is_local = 1 THEN qty ELSE 0 END) AS local_qty,
               sum(CASE WHEN is_local = 0 THEN cents ELSE 0 END)
                   AS remote_cents,
               sum(CASE WHEN is_local = 0 THEN qty ELSE 0 END) AS remote_qty
        FROM lines GROUP BY region
    )
    SELECT region, n_lines,
           CAST(n_local * 10000 // n_lines AS BIGINT) AS local_share_e4,
           CASE WHEN local_qty = 0 THEN NULL
                ELSE CAST(local_cents // local_qty AS BIGINT)
           END AS local_unit_cents,
           CASE WHEN remote_qty = 0 THEN NULL
                ELSE CAST(remote_cents // remote_qty AS BIGINT)
           END AS remote_unit_cents,
           CASE WHEN local_qty = 0 OR remote_qty = 0 OR remote_cents = 0
                THEN NULL
                ELSE CAST((local_cents // local_qty) * 10000
                          // (remote_cents // remote_qty) AS BIGINT)
           END AS local_premium_e4
    FROM agg
    ORDER BY region
    """,
)
def q_local_supply_premium(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-vs-cross-nation supply pricing per customer region: the
    share of lineitems sourced from a supplier in the customer's OWN
    nation, and the quantity-weighted unit price (cents per unit) of
    local vs remote supply — the make-local-or-import question.
    q_trade_locality measures the VOLUME share only; the price
    premium does not exist elsewhere. Star joins: every dimension leg
    (customer, nation×2, region, supplier) is broadcast-sized; the
    only big-big join is lineitem⋈orders on the key both are
    clustered by. Exact cents/qty integer sums; all ratios
    NULL-guarded nonneg integer division."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    s = load_table(spark, sf_dir, "supplier")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_regionkey").alias("cn_region"),
    )
    sn = n.select(F.col("n_nationkey").alias("sn_key"))
    lines = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == r.r_regionkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .select(
            F.col("r_name").alias("region"),
            F.when(F.col("cn_key") == F.col("sn_key"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_local"),
            F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
            .alias("cents"),
            F.col("l_quantity").cast("long").alias("qty"),
        )
    )
    agg = lines.groupBy("region").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum("is_local").cast("long").alias("n_local"),
        F.sum(F.when(F.col("is_local") == 1, F.col("cents")).otherwise(0))
        .alias("local_cents"),
        F.sum(F.when(F.col("is_local") == 1, F.col("qty")).otherwise(0))
        .alias("local_qty"),
        F.sum(F.when(F.col("is_local") == 0, F.col("cents")).otherwise(0))
        .alias("remote_cents"),
        F.sum(F.when(F.col("is_local") == 0, F.col("qty")).otherwise(0))
        .alias("remote_qty"),
    )
    return (
        agg.select(
            "region",
            "n_lines",
            F.expr("CAST(n_local * 10000 div n_lines AS BIGINT)").alias(
                "local_share_e4"
            ),
            F.when(
                F.col("local_qty") != 0,
                F.expr("CAST(local_cents div local_qty AS BIGINT)"),
            ).alias("local_unit_cents"),
            F.when(
                F.col("remote_qty") != 0,
                F.expr("CAST(remote_cents div remote_qty AS BIGINT)"),
            ).alias("remote_unit_cents"),
            F.when(
                (F.col("local_qty") != 0)
                & (F.col("remote_qty") != 0)
                & (F.col("remote_cents") != 0),
                F.expr(
                    "CAST((local_cents div local_qty) * 10000"
                    " div (remote_cents div remote_qty) AS BIGINT)"
                ),
            ).alias("local_premium_e4"),
        )
        .orderBy("region")
    )


@query(
    "q_size_ladder_gaps",
    oracle="""
    WITH sizes AS (
        SELECT DISTINCT p_brand, CAST(p_size AS BIGINT) AS size
        FROM part
    ),
    gaps AS (
        SELECT p_brand, size,
               size - lag(size) OVER (PARTITION BY p_brand ORDER BY size)
                   AS gap
        FROM sizes
    )
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_sizes,
           CAST(min(size) AS BIGINT) AS min_size,
           CAST(max(size) AS BIGINT) AS max_size,
           CAST(max(gap) AS BIGINT) AS max_gap,
           CASE WHEN count(*) <= 1 THEN NULL
                ELSE CAST((max(size) - min(size)) * 10000 // (count(*) - 1)
                          AS BIGINT)
           END AS mean_gap_e4
    FROM gaps
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def q_size_ladder_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-ladder continuity per brand: the distinct p_size values a
    brand actually offers, and the largest hole in that ladder — a
    max_gap far above the mean gap means a missing middle size
    (assortment gap analysis; the r14 q_brand_size_coverage counts
    coverage vs the GLOBAL size set, this measures the brand's own
    ladder shape). Mean gap is exactly (max−min)/(n−1) — identity
    with the telescoping sum of lags, kept as nonneg integer
    division. 25-brand output; the lag window runs over a ≤25×50
    distinct frame."""
    p = load_table(spark, sf_dir, "part")
    sizes = p.select(
        "p_brand", F.col("p_size").cast("long").alias("size")
    ).distinct()
    w = Window.partitionBy("p_brand").orderBy("size")
    gaps = sizes.select(
        "p_brand", "size", (F.col("size") - F.lag("size").over(w)).alias("gap")
    )
    return (
        gaps.groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_sizes"),
            F.min("size").cast("long").alias("min_size"),
            F.max("size").cast("long").alias("max_size"),
            F.max("gap").cast("long").alias("max_gap"),
            F.when(
                F.count("*") > 1,
                F.expr(
                    "CAST((max(size) - min(size)) * 10000 div (count(*) - 1)"
                    " AS BIGINT)"
                ),
            ).alias("mean_gap_e4"),
        )
        .orderBy("p_brand")
    )


@query(
    "q_supplier_peak_coherence",
    oracle="""
    WITH per_supp_month AS (
        SELECT s_nationkey, l_suppkey,
               CAST(extract(month FROM l_shipdate) AS BIGINT) AS m,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_nationkey, l_suppkey, extract(month FROM l_shipdate)
    ),
    peaks AS (
        SELECT s_nationkey, l_suppkey,
               max(n * 100 + (12 - m)) % 100 AS inv_m
        FROM per_supp_month GROUP BY s_nationkey, l_suppkey
    ),
    supp_peak AS (
        SELECT s_nationkey, l_suppkey, 12 - inv_m AS peak_month
        FROM peaks
    ),
    nation_modal AS (
        SELECT s_nationkey,
               (max(cnt * 100 + (12 - peak_month)) % 100) AS inv_modal
        FROM (
            SELECT s_nationkey, peak_month,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM supp_peak GROUP BY s_nationkey, peak_month
        ) g
        GROUP BY s_nationkey
    )
    SELECT n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(12 - max(inv_modal) AS BIGINT) AS modal_peak_month,
           CAST(sum(CASE WHEN sp.peak_month = 12 - nm.inv_modal
                         THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT)
               AS coherence_e4
    FROM supp_peak sp
    JOIN nation_modal nm USING (s_nationkey)
    JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY nation
    """,
)
def q_supplier_peak_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal coherence of a nation's supplier base: each supplier's
    peak shipping month (argmax of monthly line volume), then the
    share of the nation's suppliers peaking in the nation's MODAL
    peak month. High coherence means the whole national base surges
    together (shared seasonality ⇒ correlated capacity risk); low
    coherence means the nation's load self-smooths.
    q_brand_seasonal_peak finds per-BRAND peaks; the within-nation
    AGREEMENT statistic is new. Both argmaxes use the packed
    nonneg-integer form (q_kmeans_step rule) with ties broken toward
    the EARLIER month via the inverted 12−m term (n ≤ 2³² ⇒ n·100+k
    exact)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    per_sm = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(
            "s_nationkey",
            "l_suppkey",
            F.month("l_shipdate").cast("long").alias("m"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    supp_peak = per_sm.groupBy("s_nationkey", "l_suppkey").agg(
        (F.lit(12) - F.max(F.col("n") * 100 + (F.lit(12) - F.col("m"))) % 100)
        .alias("peak_month")
    )
    nation_modal = (
        supp_peak.groupBy("s_nationkey", "peak_month")
        .agg(F.count("*").cast("long").alias("cnt"))
        .groupBy("s_nationkey")
        .agg(
            (
                F.max(F.col("cnt") * 100 + (F.lit(12) - F.col("peak_month")))
                % 100
            ).alias("inv_modal")
        )
    )
    n = load_table(spark, sf_dir, "nation")
    return (
        supp_peak.join(nation_modal, "s_nationkey")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").cast("long").alias("n_suppliers"),
            (F.lit(12) - F.max("inv_modal")).cast("long").alias(
                "modal_peak_month"
            ),
            F.expr(
                "CAST(sum(CASE WHEN peak_month = 12 - inv_modal"
                " THEN 1 ELSE 0 END) * 10000 div count(*) AS BIGINT)"
            ).alias("coherence_e4"),
        )
        .orderBy("nation")
    )


@query(
    "q_brand_grade_entropy",
    oracle="""
    WITH g AS (
        SELECT p_brand, p_type, CAST(count(*) AS BIGINT) AS n
        FROM part GROUP BY p_brand, p_type
    ),
    tot AS (
        SELECT p_brand,
               CAST(sum(n) AS BIGINT) AS n_parts,
               CAST(count(*) AS BIGINT) AS n_grades,
               CAST(max(n) * 10000 // sum(n) AS BIGINT) AS modal_share_e4
        FROM g GROUP BY p_brand
    )
    , h AS (
        SELECT g.p_brand, t.n_parts, t.n_grades, t.modal_share_e4,
               -(CAST(g.n AS DOUBLE) / CAST(t.n_parts AS DOUBLE))
                   * ln(CAST(g.n AS DOUBLE) / CAST(t.n_parts AS DOUBLE))
                   / ln(2) AS hterm
        FROM g JOIN tot t ON g.p_brand = t.p_brand
    )
    SELECT p_brand, max(n_parts) AS n_parts,
           max(n_grades) AS n_grades,
           max(modal_share_e4) AS modal_share_e4,
           round(sum(hterm), 4) AS entropy_bits
    FROM h
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def q_brand_grade_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assortment composition entropy per brand: Shannon entropy (bits)
    of the brand's p_type grade mix plus the modal-grade share — a
    specialist brand (one grade dominates) scores near 0 bits, a
    uniform 6-grade generalist near log2(6)≈2.585.
    q_daily_mix_entropy measures mix-over-TIME for events; brand
    composition entropy of the catalog does not exist. round(,4) on
    the log-class output (the allowed rounding class); the inner
    share window partitions by brand over the ≤150-row grade frame."""
    p = load_table(spark, sf_dir, "part")
    g = p.groupBy("p_brand", "p_type").agg(
        F.count("*").cast("long").alias("n")
    )
    wb = Window.partitionBy("p_brand")
    share = F.col("n").cast("double") / F.sum("n").over(wb).cast("double")
    per_grade = g.select(
        "p_brand", "n", (-share * F.log(share) / F.log(F.lit(2.0))).alias("h")
    )
    return (
        per_grade.groupBy("p_brand")
        .agg(
            F.sum("n").cast("long").alias("n_parts"),
            F.count("*").cast("long").alias("n_grades"),
            F.expr("CAST(max(n) * 10000 div sum(n) AS BIGINT)").alias(
                "modal_share_e4"
            ),
            F.round(F.sum("h"), 4).alias("entropy_bits"),
        )
        .orderBy("p_brand")
    )


@query(
    "q_heavy_order_parts",
    oracle="""
    WITH thresh AS (
        SELECT 3 * (sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    // count(*)) // 2 AS big_cents
        FROM orders
    ),
    lines AS (
        SELECT p_brand,
               CASE WHEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                         >= big_cents
                    THEN 1 ELSE 0 END AS in_big
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
        CROSS JOIN thresh
    ),
    agg AS (
        SELECT p_brand,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(in_big) AS BIGINT) AS n_big
        FROM lines GROUP BY p_brand
    )
    SELECT p_brand, n_lines,
           CAST(n_big * 10000 // n_lines AS BIGINT) AS big_share_e4,
           CASE WHEN sum(n_big) OVER () = 0 THEN NULL
                ELSE CAST((n_big * 10000 // n_lines) * 10000
                     // (sum(n_big) OVER () * 10000 // sum(n_lines) OVER ())
                     AS BIGINT)
           END AS lift_e4
    FROM agg
    ORDER BY p_brand
    """,
)
def q_heavy_order_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand affinity to heavyweight orders: the share of each brand's
    lineitems inside 'big' orders (value ≥ 1.5× the mean order cents — the uniform-ish
    synthetic value distribution tops out below 2× mean),
    normalized by the all-brand rate — lift above 10000 marks brands
    that ride in large consolidated purchases (bundle anchors),
    below marks small-basket brands. q_pair_lift associates parts
    with each OTHER; the part→order-size association is new. The
    threshold is one broadcast 1-row scalar leg (allowlisted NLJ);
    the lift denominator windows over the 25-row brand frame. All
    nonneg integer arithmetic — both e4 terms stay far under 2⁶³."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    cents = F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
    thresh = o.agg(
        F.expr(
            "3 * (sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))"
            " div count(*)) div 2"
        ).alias("big_cents")
    )
    lines = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .crossJoin(F.broadcast(thresh))
        .select(
            "p_brand",
            F.when(cents >= F.col("big_cents"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("in_big"),
        )
    )
    agg = lines.groupBy("p_brand").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum("in_big").cast("long").alias("n_big"),
    )
    wall = Window.partitionBy()
    return (
        agg.select(
            "p_brand",
            "n_lines",
            F.expr("n_big * 10000 div n_lines").cast("long").alias(
                "big_share_e4"
            ),
            F.col("n_big").alias("__nb"),
            F.sum("n_big").over(wall).alias("__tb"),
            F.sum("n_lines").over(wall).alias("__tl"),
        )
        .select(
            "p_brand",
            "n_lines",
            "big_share_e4",
            F.when(
                F.col("__tb") != 0,
                F.expr(
                    "CAST(big_share_e4 * 10000"
                    " div (__tb * 10000 div __tl) AS BIGINT)"
                ),
            ).alias("lift_e4"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# Tranche 5 — event-stream microstructure: sub-hour uniformity,
# cross-user co-activity (bounded bucket self-join, never a global
# per-type window), per-user burstiness, session-starter lift, and
# hour-to-hour load persistence.
# ---------------------------------------------------------------------------


@query(
    "q_minute_uniformity",
    oracle="""
    WITH cells AS (
        SELECT event_type,
               CAST(extract(minute FROM ts) AS BIGINT) AS minute,
               CAST(count(*) AS BIGINT) AS o
        FROM events GROUP BY event_type, extract(minute FROM ts)
    ),
    tot AS (
        SELECT event_type, CAST(sum(o) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_cells
        FROM cells GROUP BY event_type
    ),
    chi AS (
        SELECT c.event_type, t.n, t.n_cells,
               sum(CAST((60 * c.o - t.n) * (60 * c.o - t.n) AS HUGEINT))
                   AS num
        FROM cells c JOIN tot t ON c.event_type = t.event_type
        GROUP BY c.event_type, t.n, t.n_cells
    )
    SELECT event_type, n, n_cells,
           CAST(floor(CAST(num AS DOUBLE) * 10000.0
                      / (60.0 * CAST(n AS DOUBLE) * 60.0)) AS BIGINT)
               AS chi2_e4
    FROM chi
    ORDER BY event_type
    """,
)
def q_minute_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minute-of-hour uniformity per event type: Pearson chi-square
    against the uniform 60-cell expectation, computed as
    Σ(60·o − n)²/(60²·n) — algebraically Σ(o−e)²/e with e = n/60,
    kept integer until ONE double floor. A synthetic feed generated
    per-hour then jittered shows as flat (chi² ≈ df ≈ 59); cron-like
    spikes at :00/:30 blow it up — the sub-hour twin of
    q_last_digit_uniformity's forensic logic (which audits VALUE
    digits, not time cells). Squared terms pass int64 at sf10
    (~(60n)²), so both engines sum on DECIMAL(38,0)/HUGEINT (the
    q_graph_assortativity rule). Missing minutes simply don't
    contribute cells (their o=0 term adds n²·60⁻²·60 — accounted by
    reporting n_cells so the df is explicit)."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        F.minute(F.col("ts")).cast("long").alias("minute"),
    ).agg(F.count("*").cast("long").alias("o"))
    tot = cells.groupBy("event_type").agg(
        F.sum("o").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_cells"),
    )
    chi = (
        cells.join(tot, "event_type")
        .groupBy("event_type", "n", "n_cells")
        .agg(
            F.sum(
                F.expr(
                    "CAST((60 * o - n) * (60 * o - n) AS DECIMAL(38,0))"
                )
            ).alias("num")
        )
    )
    return (
        chi.select(
            "event_type",
            "n",
            "n_cells",
            F.floor(
                F.col("num").cast("double")
                * 10000.0
                / (60.0 * F.col("n").cast("double") * 60.0)
            )
            .cast("long")
            .alias("chi2_e4"),
        )
        .orderBy("event_type")
    )


@query(
    "q_coactivity_rate",
    oracle="""
    WITH e AS (
        SELECT event_id, user_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS tus
        FROM events
    ),
    probe AS (
        SELECT l.event_id, l.event_type
        FROM (SELECT event_id, user_id, event_type, tus,
                     tus // 60000000 AS b FROM e) l
        JOIN (SELECT user_id, event_type, tus,
                     tus // 60000000 AS b FROM e) r
          ON l.event_type = r.event_type
         AND (r.b = l.b OR r.b = l.b + 1)
         AND r.tus > l.tus AND r.tus <= l.tus + 60000000
         AND r.user_id <> l.user_id
        GROUP BY l.event_id, l.event_type
    )
    SELECT t.event_type,
           CAST(t.n AS BIGINT) AS n_events,
           CAST(coalesce(p.n_co, 0) AS BIGINT) AS n_coactive,
           CAST(coalesce(p.n_co, 0) * 10000 // t.n AS BIGINT)
               AS coactive_e4
    FROM (SELECT event_type, count(*) AS n FROM e GROUP BY event_type) t
    LEFT JOIN (SELECT event_type, count(*) AS n_co FROM probe
               GROUP BY event_type) p
      ON t.event_type = p.event_type
    ORDER BY t.event_type
    """,
)
def q_coactivity_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-user co-activity: the share of events followed within 60
    seconds by a DIFFERENT user's event of the same type — the
    simultaneity signal behind contagion/trend detection (a type
    whose activity clusters across users is externally driven; one
    whose events are user-isolated is habitual). Sessionization
    (q_evt_sessionize) links a user to THEMSELF; the cross-user link
    is new.

    Scale: the naive form is a per-type ordered window — ~5 types ⇒
    five whole-stream partitions, the exact funnel shape this repo
    never ships. Instead a bounded 60-second-bucket equi-self-join
    (each left row meets candidates in its own and the next bucket
    only — the q_rolling_corr materialized-frame pattern), distinct
    probe hits via GROUP BY, then one per-type rollup. Join keys
    (type, bucket) are fine-grained, so partitions stay balanced at
    any scale; integer µs arithmetic throughout."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
    )
    left = e.select(
        "event_id",
        F.col("user_id").alias("u_l"),
        "event_type",
        F.col("tus").alias("t_l"),
        F.expr("tus div 60000000").alias("b"),
    )
    right = e.select(
        F.col("user_id").alias("u_r"),
        F.col("event_type").alias("et_r"),
        F.col("tus").alias("t_r"),
        F.explode(
            F.array(
                F.expr("tus div 60000000"),
                F.expr("tus div 60000000 - 1"),
            )
        ).alias("b"),
    )
    probe = (
        left.join(
            right,
            (left.event_type == right.et_r)
            & (left.b == right.b)
            & (F.col("t_r") > F.col("t_l"))
            & (F.col("t_r") <= F.col("t_l") + 60000000)
            & (F.col("u_r") != F.col("u_l")),
        )
        .groupBy("event_id", "event_type")
        .agg(F.lit(1).alias("__hit"))
    )
    tot = e.groupBy("event_type").agg(F.count("*").alias("n"))
    co = probe.groupBy("event_type").agg(F.count("*").alias("n_co"))
    return (
        tot.join(co, "event_type", "left")
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_events"),
            F.coalesce("n_co", F.lit(0)).cast("long").alias("n_coactive"),
            F.expr("coalesce(n_co, 0) * 10000 div n")
            .cast("long")
            .alias("coactive_e4"),
        )
        .orderBy("event_type")
    )


@query(
    "q_user_burst_share",
    oracle="""
    WITH per_hour AS (
        SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY user_id, date_trunc('hour', ts)
    ),
    per_user AS (
        SELECT user_id, max(n) AS peak, sum(n) AS total
        FROM per_hour GROUP BY user_id
        HAVING sum(n) >= 2
    ),
    banded AS (
        SELECT CASE WHEN total < 5 THEN 0
                    WHEN total < 10 THEN 1
                    WHEN total < 20 THEN 2
                    ELSE 3 END AS volume_band,
               peak * 10000 // total AS burst_e4
        FROM per_user
    )
    SELECT CAST(volume_band AS BIGINT) AS volume_band,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(burst_e4) // count(*) AS BIGINT) AS mean_burst_e4,
           CAST(sum(CASE WHEN burst_e4 = 10000 THEN 1 ELSE 0 END)
                * 10000 // count(*) AS BIGINT) AS single_hour_users_e4
    FROM banded
    GROUP BY volume_band
    ORDER BY volume_band
    """,
)
def q_user_burst_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user burstiness: the share of a user's events inside their
    single busiest HOUR, averaged by activity-volume band (2-4, 5-9,
    10-19, 20+ events) — drive-by users live in one hour
    (burst=10000); habitual users spread out. The fleet-level burst
    measures exist (q_burst_ratio, q_fano_factor); the per-user
    concentration distribution — the one that separates bot-like
    from human-like accounts at equal volume — does not.
    single_hour_users_e4 is the exact drive-by share. Plain MAX per
    user (no argmax ties); banding keys the rollup; all integer."""
    ev = load_table(spark, sf_dir, "events")
    per_hour = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").cast("long").alias("n"))
    per_user = (
        per_hour.groupBy("user_id")
        .agg(F.max("n").alias("peak"), F.sum("n").alias("total"))
        .filter(F.col("total") >= 2)
    )
    banded = per_user.select(
        F.when(F.col("total") < 5, F.lit(0))
        .when(F.col("total") < 10, F.lit(1))
        .when(F.col("total") < 20, F.lit(2))
        .otherwise(F.lit(3))
        .cast("long")
        .alias("volume_band"),
        F.expr("peak * 10000 div total").alias("burst_e4"),
    )
    return (
        banded.groupBy("volume_band")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.expr("CAST(sum(burst_e4) div count(*) AS BIGINT)").alias(
                "mean_burst_e4"
            ),
            F.expr(
                "CAST(sum(CASE WHEN burst_e4 = 10000 THEN 1 ELSE 0 END)"
                " * 10000 div count(*) AS BIGINT)"
            ).alias("single_hour_users_e4"),
        )
        .orderBy("volume_band")
    )


@query(
    "q_session_starter_types",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               CASE WHEN lag(epoch_us(CAST(ts AS TIMESTAMP)))
                         OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) IS NULL
                         OR epoch_us(CAST(ts AS TIMESTAMP))
                            - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                              OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id)
                            > CAST(1800 AS BIGINT) * 1000000
                    THEN 1 ELSE 0 END AS is_start
        FROM events
    ),
    agg AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(is_start) AS BIGINT) AS n_starts
        FROM seq GROUP BY event_type
    )
    SELECT event_type, n_events, n_starts,
           CAST(n_starts * 10000 // sum(n_starts) OVER () AS BIGINT)
               AS starter_share_e4,
           CAST(n_events * 10000 // sum(n_events) OVER () AS BIGINT)
               AS overall_share_e4,
           CASE WHEN n_events * 10000 // sum(n_events) OVER () = 0
                THEN NULL
                ELSE CAST((n_starts * 10000 // sum(n_starts) OVER ())
                     * 10000
                     // (n_events * 10000 // sum(n_events) OVER ())
                     AS BIGINT)
           END AS starter_lift_e4
    FROM agg
    ORDER BY event_type
    """,
)
def q_session_starter_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-opener lift per event type: which types START sessions
    (30-minute-gap definition, the q_evt_sessionize convention)
    disproportionately vs their overall traffic share — the
    entry-point map (lift > 10000 ⇒ the type pulls users in; < ⇒ it
    only occurs mid-session). q_entry_exit_matrix crosses first and
    last types per SESSION; the type-level lift against overall
    share is the normalized single-axis view a landing-page
    prioritization needs. Per-user keyed lag window (high-cardinality
    partitions); share windows over the ~5-row type frame; integer
    µs gaps; lift NULL-guarded."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tus = F.unix_micros(F.col("ts").cast("timestamp"))
    seq = ev.select(
        "event_type",
        F.when(
            F.lag(tus).over(w).isNull()
            | ((tus - F.lag(tus).over(w)) > F.lit(1800) * 1000000),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_start"),
    )
    agg = seq.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("is_start").cast("long").alias("n_starts"),
    )
    wall = Window.partitionBy()
    return (
        agg.select(
            "event_type",
            "n_events",
            "n_starts",
            F.sum("n_starts").over(wall).alias("__ts"),
            F.sum("n_events").over(wall).alias("__te"),
        )
        .select(
            "event_type",
            "n_events",
            "n_starts",
            F.expr("n_starts * 10000 div __ts")
            .cast("long")
            .alias("starter_share_e4"),
            F.expr("n_events * 10000 div __te")
            .cast("long")
            .alias("overall_share_e4"),
            F.when(
                F.expr("n_events * 10000 div __te") != 0,
                F.expr(
                    "(n_starts * 10000 div __ts) * 10000"
                    " div (n_events * 10000 div __te)"
                ),
            )
            .cast("long")
            .alias("starter_lift_e4"),
        )
        .orderBy("event_type")
    )


@query(
    "q_hourly_handoff",
    oracle="""
    WITH hourly AS (
        SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    pairs AS (
        SELECT a.event_type, a.n AS n0, b.n AS n1
        FROM hourly a JOIN hourly b
          ON a.event_type = b.event_type
         AND b.hr = a.hr + INTERVAL 1 HOUR
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(corr(CAST(n0 AS DOUBLE), CAST(n1 AS DOUBLE)), 4)
               AS lag1_corr
    FROM pairs
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_hourly_handoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-to-hour load persistence per event type: the lag-1
    correlation of consecutive hourly volumes (pairs formed only
    where the NEXT calendar hour exists, by an explicit hr+1h
    self-join on the aggregated frame — gaps break pairs instead of
    spuriously correlating across them). High persistence means load
    forecasting can ride the previous hour; near-zero means
    hour-scale noise dominates and capacity must track the daily
    curve instead. q_gap_autocorr correlates consecutive GAPS;
    volume-level persistence is new. The grouped corr (round 4, the
    portable form — never the windowed corr) runs over the tiny
    hourly aggregate; the self-join is calendar-sized."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").cast("long").alias("n"))
    b = hourly.select(
        F.col("event_type").alias("et_b"),
        F.col("hr").alias("hr_b"),
        F.col("n").alias("n1"),
    )
    pairs = hourly.join(
        b,
        (hourly.event_type == b.et_b)
        & (b.hr_b == hourly.hr + F.expr("interval 1 hour")),
    ).select("event_type", F.col("n").alias("n0"), "n1")
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(
                F.corr(F.col("n0").cast("double"), F.col("n1").cast("double")),
                4,
            ).alias("lag1_corr"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Tranche 6 — embedding geometry on EXACT e3-integer coordinates (the
# fixture quantizes components to 3 decimals, so floor(x·1000) folds
# are lossless — the q_embed_norm_bias discipline): Hoyer sparsity,
# cross-modal norm↔length link, joint sign structure, centrality
# against the global mean, and component flatness.
# ---------------------------------------------------------------------------


@query(
    "q_embed_hoyer",
    oracle="""
    WITH q AS (
        SELECT label,
               CAST(list_sum(list_transform(embedding,
                   x -> abs(CAST(floor(CAST(x AS DOUBLE) * 1000)
                                 AS BIGINT)))) AS BIGINT) AS l1,
               CAST(list_sum(list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                        * CAST(floor(CAST(x AS DOUBLE) * 1000)
                               AS BIGINT))) AS BIGINT) AS l2sq
        FROM embeddings
    ),
    h AS (
        SELECT label,
               (8.0 - CAST(l1 AS DOUBLE) / sqrt(CAST(l2sq AS DOUBLE)))
                   / 7.0 AS hoyer
        FROM q WHERE l2sq > 0
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg(hoyer), 4) AS mean_hoyer,
           CAST(sum(CASE WHEN hoyer > 0.25 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS sparse_share_e4
    FROM h
    GROUP BY label
    ORDER BY label
    """,
)
def q_embed_hoyer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hoyer sparsity per label: (√d − L1/L2)/(√d − 1) with d=64 —
    0 for a perfectly flat vector, 1 for a 1-hot one; a dense
    Gaussian cloud sits near 0.2. q_embed_sparsity counts near-ZERO
    components (a threshold choice); Hoyer is the threshold-free
    scale-invariant measure quantizer/pruning design uses. L1 and
    L2² fold to exact integers on the e3 grid; the only floats are
    one IEEE sqrt and one divide per vector (exactly-rounded ops on
    identical integers ⇒ identical doubles on both engines), so the
    0.25-threshold share is exact and the mean is round-4 of a
    well-conditioned average."""
    emb = load_table(spark, sf_dir, "embeddings")
    xe3 = lambda x: F.floor(x.cast("double") * 1000)  # noqa: E731
    q = emb.select(
        "label",
        F.aggregate(
            F.transform("embedding", lambda x: F.abs(xe3(x))),
            F.lit(0).cast("long"),
            lambda a, y: a + y,
        ).alias("l1"),
        F.aggregate(
            F.transform("embedding", lambda x: xe3(x) * xe3(x)),
            F.lit(0).cast("long"),
            lambda a, y: a + y,
        ).alias("l2sq"),
    ).filter(F.col("l2sq") > 0)
    h = q.select(
        "label",
        (
            (F.lit(8.0) - F.col("l1").cast("double")
             / F.sqrt(F.col("l2sq").cast("double")))
            / 7.0
        ).alias("hoyer"),
    )
    return (
        h.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.round(F.avg("hoyer"), 4).alias("mean_hoyer"),
            F.expr(
                "CAST(sum(CASE WHEN hoyer > 0.25 THEN 1 ELSE 0 END)"
                " * 10000 div count(*) AS BIGINT)"
            ).alias("sparse_share_e4"),
        )
        .select(
            F.col("label").cast("long").alias("label"),
            "n_vecs",
            "mean_hoyer",
            "sparse_share_e4",
        )
        .orderBy("label")
    )


@query(
    "q_embed_norm_chars_link",
    oracle="""
    WITH j AS (
        SELECT d.lang,
               sqrt(CAST(list_sum(list_transform(e.embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                        * CAST(floor(CAST(x AS DOUBLE) * 1000)
                               AS BIGINT))) AS DOUBLE)) AS norm_e3,
               CAST(d.n_chars AS DOUBLE) AS chars
        FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(corr(norm_e3, chars), 4) + 0.0 AS norm_chars_corr
    FROM j
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_embed_norm_chars_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal integrity: does embedding L2 norm correlate with
    document LENGTH (vec_id ⋈ doc_id, per lang)? Un-normalized text
    encoders leak length into the norm, which then leaks into every
    dot-product ranking as a long-document prior — this is the
    check that decides whether similarity search needs norm
    normalization first. The r14 q_embed_coverage proves the ID
    join EXISTS; this is the first statistic computed ACROSS it.
    Norms are IEEE sqrt of exact e3 integers; grouped corr rounded
    to 4 (the portable class), -0.0-normalized."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    xe3 = lambda x: F.floor(x.cast("double") * 1000)  # noqa: E731
    j = emb.join(docs, emb.vec_id == docs.doc_id).select(
        "lang",
        F.sqrt(
            F.aggregate(
                F.transform("embedding", lambda x: xe3(x) * xe3(x)),
                F.lit(0).cast("long"),
                lambda a, y: a + y,
            ).cast("double")
        ).alias("norm_e3"),
        F.col("n_chars").cast("double").alias("chars"),
    )
    return (
        j.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            (F.round(F.corr("norm_e3", "chars"), 4) + F.lit(0.0)).alias(
                "norm_chars_corr"
            ),
        )
        .orderBy("lang")
    )


@query(
    "q_embed_quadrant_mix",
    oracle="""
    WITH s AS (
        SELECT CAST(label AS BIGINT) AS label,
               CASE WHEN CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000)
                              AS BIGINT) >= 0 THEN 1 ELSE 0 END AS s1,
               CASE WHEN CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000)
                              AS BIGINT) >= 0 THEN 1 ELSE 0 END AS s2
        FROM embeddings
    ),
    g AS (
        SELECT label,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(s1 * s2) AS BIGINT) AS pp,
               CAST(sum(s1) AS BIGINT) AS p1,
               CAST(sum(s2) AS BIGINT) AS p2
        FROM s GROUP BY label
    )
    SELECT label, n,
           CAST(pp * 10000 // n AS BIGINT) AS pp_share_e4,
           CAST(p1 * 10000 // n AS BIGINT) AS d1_pos_e4,
           CAST(p2 * 10000 // n AS BIGINT) AS d2_pos_e4,
           CAST(abs(pp * n - p1 * p2) * 10000 // (n * n) AS BIGINT)
               AS dependence_gap_e4
    FROM g
    ORDER BY label
    """,
)
def q_embed_quadrant_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint sign structure of the first two embedding dimensions per
    label: the (+,+) quadrant share against the product of the
    marginal positive shares — |P(++) − P(+·)P(·+)| is the
    dependence gap, 0 iff the two sign bits are independent.
    q_embed_signbits / q_embed_sign_balance profile each dimension's
    MARGINAL sign; pairwise sign dependence (what decides whether a
    2-bit sign sketch carries more than 2 independent bits) is new.
    All counts exact on the e3 grid; the gap numerator |pp·n − p1·p2|
    stays far under 2⁶³ (n² ≤ 10¹⁴ at sf10)."""
    emb = load_table(spark, sf_dir, "embeddings")
    s = emb.select(
        F.col("label").cast("long").alias("label"),
        F.when(
            F.floor(F.element_at("embedding", 1).cast("double") * 1000) >= 0,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("s1"),
        F.when(
            F.floor(F.element_at("embedding", 2).cast("double") * 1000) >= 0,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("s2"),
    )
    g = s.groupBy("label").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("s1") * F.col("s2")).cast("long").alias("pp"),
        F.sum("s1").cast("long").alias("p1"),
        F.sum("s2").cast("long").alias("p2"),
    )
    return (
        g.select(
            "label",
            "n",
            F.expr("pp * 10000 div n").cast("long").alias("pp_share_e4"),
            F.expr("p1 * 10000 div n").cast("long").alias("d1_pos_e4"),
            F.expr("p2 * 10000 div n").cast("long").alias("d2_pos_e4"),
            F.expr("abs(pp * n - p1 * p2) * 10000 div (n * n)")
            .cast("long")
            .alias("dependence_gap_e4"),
        )
        .orderBy("label")
    )


@query(
    "q_embed_cosine_to_mean",
    oracle="""
    WITH ev AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
               generate_subscripts(embedding, 1) AS pos,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000)
                    AS BIGINT) AS xe3
        FROM embeddings
    ),
    msum AS (
        SELECT pos, CAST(sum(xe3) AS BIGINT) AS s
        FROM ev GROUP BY pos
    ),
    m2 AS (
        SELECT CAST(sum(s * s) AS BIGINT) AS m2 FROM msum
    ),
    per_vec AS (
        SELECT ev.vec_id, min(ev.label) AS label,
               CAST(sum(ev.xe3 * ms.s) AS BIGINT) AS num,
               CAST(sum(ev.xe3 * ev.xe3) AS BIGINT) AS l2sq
        FROM ev JOIN msum ms ON ev.pos = ms.pos
        GROUP BY ev.vec_id
    ),
    cosv AS (
        SELECT label, num,
               CASE WHEN l2sq = 0 OR m2 = 0 THEN NULL
                    ELSE CAST(num AS DOUBLE)
                         / (sqrt(CAST(l2sq AS DOUBLE))
                            * sqrt(CAST(m2 AS DOUBLE)))
               END AS cos_to_mean
        FROM per_vec CROSS JOIN m2
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg(cos_to_mean), 4) + 0.0 AS mean_cos,
           CAST(sum(CASE WHEN num < 0 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS negative_share_e4
    FROM cosv
    GROUP BY label
    ORDER BY label
    """,
)
def q_embed_cosine_to_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centrality against the GLOBAL mean direction: each vector's
    cosine to the corpus mean vector, per label — the anisotropy
    diagnostic in its actionable form (if every label's mean cosine
    is ~0.9, all vectors share one dominant direction and cosine
    similarity is saturated; mean-centering fixes it).
    q_embed_isotropy reports the label-level ‖Σx‖² ratio;
    q_embed_centroid_sim compares to the OWN-label centroid; the
    global-mean per-vector distribution is the missing piece.
    Everything up to the final cosine is exact e3-integer arithmetic
    (dot products ≤ ~10¹⁴ at sf10), negative_share is exact off the
    INTEGER numerator sign, and the two sqrts are exactly-rounded
    IEEE ops on identical integers. The mean-vector leg is a 64-row
    broadcast."""
    emb = load_table(spark, sf_dir, "embeddings")
    xe3 = lambda x: F.floor(x.cast("double") * 1000)  # noqa: E731
    qarr = emb.select(
        F.col("label").cast("long").alias("label"),
        F.transform("embedding", lambda x: xe3(x)).alias("q"),
    )
    sums = qarr.agg(
        *[
            F.sum(F.element_at("q", i + 1)).cast("long").alias(f"s{i}")
            for i in range(64)
        ]
    ).select(
        F.array(*[F.col(f"s{i}") for i in range(64)]).alias("ms")
    ).select(
        "ms",
        F.aggregate(
            F.transform("ms", lambda y: y * y),
            F.lit(0).cast("long"),
            lambda a, y: a + y,
        ).alias("m2"),
    )
    per_vec = qarr.crossJoin(F.broadcast(sums)).select(
        "label",
        F.aggregate(
            F.zip_with("q", "ms", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda a, y: a + y,
        ).alias("num"),
        F.aggregate(
            F.transform("q", lambda y: y * y),
            F.lit(0).cast("long"),
            lambda a, y: a + y,
        ).alias("l2sq"),
        "m2",
    )
    cosv = per_vec.select(
        "label",
        "num",
        F.when(
            (F.col("l2sq") != 0) & (F.col("m2") != 0),
            F.col("num").cast("double")
            / (
                F.sqrt(F.col("l2sq").cast("double"))
                * F.sqrt(F.col("m2").cast("double"))
            ),
        ).alias("cos_to_mean"),
    )
    return (
        cosv.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            (F.round(F.avg("cos_to_mean"), 4) + F.lit(0.0)).alias("mean_cos"),
            F.expr(
                "CAST(sum(CASE WHEN num < 0 THEN 1 ELSE 0 END) * 10000"
                " div count(*) AS BIGINT)"
            ).alias("negative_share_e4"),
        )
        .orderBy("label")
    )


@query(
    "q_embed_linf_flatness",
    oracle="""
    WITH q AS (
        SELECT CAST(label AS BIGINT) AS label,
               CAST(list_sum(list_transform(embedding,
                   x -> abs(CAST(floor(CAST(x AS DOUBLE) * 1000)
                                 AS BIGINT)))) AS BIGINT) AS l1,
               CAST(list_max(list_transform(embedding,
                   x -> abs(CAST(floor(CAST(x AS DOUBLE) * 1000)
                                 AS BIGINT)))) AS BIGINT) AS linf
        FROM embeddings
    ),
    f AS (
        SELECT label, l1 * 10000 // (64 * linf) AS flat_e4
        FROM q WHERE linf > 0
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(flat_e4) // count(*) AS BIGINT) AS mean_flatness_e4,
           CAST(sum(CASE WHEN flat_e4 >= 5000 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS flat_share_e4
    FROM f
    GROUP BY label
    ORDER BY label
    """,
)
def q_embed_linf_flatness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component flatness per label: L1/(d·L∞) — the mean-to-peak
    ratio of |component| magnitudes (1 = perfectly flat vector,
    1/d = one dominant axis). This is the number that sizes
    per-vector quantization ranges (a peaky profile wastes
    uniform-quantizer levels) — the L∞-side complement to
    q_embed_hoyer's L1/L2 sparsity (the two disagree exactly when
    vectors have a few moderate peaks over a dense floor). Fully
    integer on the e3 grid: no float enters at any point."""
    emb = load_table(spark, sf_dir, "embeddings")
    absq = lambda x: F.abs(  # noqa: E731
        F.floor(x.cast("double") * 1000)
    )
    q = emb.select(
        F.col("label").cast("long").alias("label"),
        F.aggregate(
            F.transform("embedding", lambda x: absq(x)),
            F.lit(0).cast("long"),
            lambda a, y: a + y,
        ).alias("l1"),
        F.array_max(
            F.transform("embedding", lambda x: absq(x))
        ).alias("linf"),
    ).filter(F.col("linf") > 0)
    f = q.select(
        "label", F.expr("l1 * 10000 div (64 * linf)").alias("flat_e4")
    )
    return (
        f.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.expr("CAST(sum(flat_e4) div count(*) AS BIGINT)").alias(
                "mean_flatness_e4"
            ),
            F.expr(
                "CAST(sum(CASE WHEN flat_e4 >= 5000 THEN 1 ELSE 0 END)"
                " * 10000 div count(*) AS BIGINT)"
            ).alias("flat_share_e4"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Tranche 7 — corpus structure beyond frequency: source-spread of the
# vocabulary, within-document word recurrence, document openers,
# hapax placement, and TTR across document position. All share the
# alpha_words tokenization (= regexp_split_to_array(lower, '[^a-z]+')
# in DuckDB, the q_hapax_rate twin).
# ---------------------------------------------------------------------------


@query(
    "q_source_spread_spectrum",
    oracle="""
    WITH toks AS (
        SELECT source,
               unnest(list_filter(
                   regexp_split_to_array(lower(text), '[^a-z]+'),
                   x -> x <> '')) AS w
        FROM documents
    ),
    wc AS (
        SELECT w, CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count(DISTINCT source) AS BIGINT) AS spread
        FROM toks GROUP BY w
    )
    SELECT spread,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(n_tokens) AS BIGINT) AS token_mass,
           CAST(sum(n_tokens) * 10000 // sum(sum(n_tokens)) OVER ()
               AS BIGINT) AS mass_share_e4
    FROM wc
    GROUP BY spread
    ORDER BY spread
    """,
)
def q_source_spread_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-spread spectrum of the vocabulary: for each word, how
    many of the 20 sources use it — then the word-count and
    token-mass histogram over that spread. A healthy multi-source
    corpus has most token MASS in full-spread words and most of its
    vocabulary COUNT at spread 1 (source-specific jargon);
    deduplication and contamination both distort the curve.
    q_lang_vocab_overlap compares PAIRS; the full spectrum is the
    single-view summary. Two hash aggregates over the token stream
    (word-keyed — high cardinality, balanced); the share window
    runs over the ≤20-row spectrum."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(alpha_words(F.col("text"))).alias("w")
    )
    wc = toks.groupBy("w").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.countDistinct("source").cast("long").alias("spread"),
    )
    wall = Window.partitionBy()
    return (
        wc.groupBy("spread")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_tokens").cast("long").alias("token_mass"),
        )
        .select(
            "spread",
            "n_words",
            "token_mass",
            F.expr("token_mass * 10000").alias("__num"),
            F.sum("token_mass").over(wall).alias("__den"),
        )
        .select(
            "spread",
            "n_words",
            "token_mass",
            F.expr("__num div __den").cast("long").alias("mass_share_e4"),
        )
        .orderBy("spread")
    )


@query(
    "q_word_recurrence_gap",
    oracle="""
    WITH pos AS (
        SELECT doc_id, lang, w,
               CAST(p AS BIGINT) AS p
        FROM (
            SELECT doc_id, lang,
                   unnest(list_filter(
                       regexp_split_to_array(lower(text), '[^a-z]+'),
                       x -> x <> '')) AS w,
                   generate_subscripts(list_filter(
                       regexp_split_to_array(lower(text), '[^a-z]+'),
                       x -> x <> ''), 1) AS p
            FROM documents
        )
    ),
    per_word AS (
        SELECT doc_id, lang, w,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(max(p) - min(p) AS BIGINT) AS span
        FROM pos GROUP BY doc_id, lang, w
    ),
    rep AS (
        SELECT lang, doc_id, cnt, span FROM per_word WHERE cnt >= 2
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_repeated_words,
           CAST(sum(span) * 10000 // sum(cnt - 1) AS BIGINT)
               AS mean_gap_e4,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS docs_with_repeat
    FROM rep
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_word_recurrence_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document word recurrence distance: for every word that
    repeats inside a document, the mean token distance between
    consecutive occurrences — exactly Σspan/Σ(count−1) since the
    per-word gaps telescope to (last−first)/(n−1). Short recurrence
    gaps are the compressibility/templating signal q_word_stutter
    (ADJACENT repeats only) and q_text_repetition (fixed n-gram
    windows) both miss: a word returning every ~8 tokens never
    stutters yet marks heavy structure. Integer positions from ONE
    posexplode; per-(doc, word) aggregate keys are high-cardinality
    and balanced."""
    docs = load_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        "lang",
        F.posexplode(alpha_words(F.col("text"))).alias("p0", "w"),
    ).select(
        "doc_id", "lang", "w", (F.col("p0") + 1).cast("long").alias("p")
    )
    per_word = pos.groupBy("doc_id", "lang", "w").agg(
        F.count("*").cast("long").alias("cnt"),
        (F.max("p") - F.min("p")).cast("long").alias("span"),
    )
    rep = per_word.filter(F.col("cnt") >= 2)
    return (
        rep.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_repeated_words"),
            F.expr(
                "CAST(sum(span) * 10000 div sum(cnt - 1) AS BIGINT)"
            ).alias("mean_gap_e4"),
            F.countDistinct("doc_id").cast("long").alias("docs_with_repeat"),
        )
        .orderBy("lang")
    )


@query(
    "q_doc_opener_lift",
    oracle="""
    WITH words AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                           x -> x <> '') AS ws
        FROM documents
    ),
    openers AS (
        SELECT ws[1] AS w, CAST(count(*) AS BIGINT) AS n_starts
        FROM words WHERE len(ws) >= 1
        GROUP BY ws[1]
    ),
    tokens AS (
        SELECT w, CAST(count(*) AS BIGINT) AS n_tokens
        FROM (SELECT unnest(ws) AS w FROM words)
        GROUP BY w
    ),
    tot AS (
        SELECT CAST(sum(n_starts) AS BIGINT) AS total_docs,
               (SELECT CAST(sum(n_tokens) AS BIGINT) FROM tokens)
                   AS total_tokens
        FROM openers
    ),
    lifted AS (
        SELECT o.w, o.n_starts, t.n_tokens,
               CAST((o.n_starts * 10000 // total_docs) * 10000
                    // (t.n_tokens * 10000 // total_tokens) AS BIGINT)
                   AS lift_e4,
               row_number() OVER (ORDER BY o.n_starts DESC, o.w) AS rk
        FROM openers o JOIN tokens t ON o.w = t.w
        CROSS JOIN tot
        WHERE t.n_tokens * 10000 // total_tokens > 0
    )
    SELECT w, n_starts, n_tokens, lift_e4
    FROM lifted WHERE rk <= 10
    ORDER BY n_starts DESC, w
    """,
)
def q_doc_opener_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-opener lift: the 10 most frequent FIRST words of
    documents, each normalized by its overall token share — lift
    above 10000 marks genuine opening conventions (boilerplate
    headers, template starts) rather than mere corpus frequency.
    The r14 q_initial_letter_bias profiles first LETTERS of
    words; the first-WORD-of-document convention is the
    template-detection signal (openers with huge lift ⇒ shared
    prefix templates worth deduplicating). Deterministic top-10 via
    (n_starts DESC, word) tie-break; the lift join runs on the
    aggregated vocab frame; the 1-row totals leg broadcasts."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(alpha_words(F.col("text")).alias("ws"))
    openers = (
        words.filter(F.size("ws") >= 1)
        .groupBy(F.element_at("ws", 1).alias("w"))
        .agg(F.count("*").cast("long").alias("n_starts"))
    )
    tokens = (
        words.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("n_tokens"))
    )
    tot = openers.agg(
        F.sum("n_starts").cast("long").alias("total_docs")
    ).crossJoin(
        F.broadcast(
            tokens.agg(F.sum("n_tokens").cast("long").alias("total_tokens"))
        )
    )
    lifted = (
        openers.join(tokens, "w")
        .crossJoin(F.broadcast(tot))
        .filter(F.expr("n_tokens * 10000 div total_tokens > 0"))
        .select(
            "w",
            "n_starts",
            "n_tokens",
            F.expr(
                "CAST((n_starts * 10000 div total_docs) * 10000"
                " div (n_tokens * 10000 div total_tokens) AS BIGINT)"
            ).alias("lift_e4"),
        )
    )
    w_rk = Window.orderBy(F.col("n_starts").desc(), F.col("w"))
    return (
        lifted.withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") <= 10)
        .drop("rk")
        .orderBy(F.col("n_starts").desc(), F.col("w"))
    )


@query(
    "q_hapax_position",
    oracle="""
    WITH pos AS (
        SELECT doc_id, lang, w, CAST(p AS BIGINT) AS p,
               CAST(n AS BIGINT) AS n
        FROM (
            SELECT doc_id, lang,
                   unnest(list_filter(
                       regexp_split_to_array(lower(text), '[^a-z]+'),
                       x -> x <> '')) AS w,
                   generate_subscripts(list_filter(
                       regexp_split_to_array(lower(text), '[^a-z]+'),
                       x -> x <> ''), 1) AS p,
                   len(list_filter(
                       regexp_split_to_array(lower(text), '[^a-z]+'),
                       x -> x <> '')) AS n
            FROM documents
        )
        WHERE n >= 2
    ),
    freq AS (
        SELECT w, CAST(count(*) AS BIGINT) AS wn FROM pos GROUP BY w
    ),
    tagged AS (
        SELECT pos.lang,
               (pos.p - 1) * 10000 // (pos.n - 1) AS relpos_e4,
               CASE WHEN freq.wn = 1 THEN 1 ELSE 0 END AS is_hapax
        FROM pos JOIN freq ON pos.w = freq.w
    )
    SELECT lang,
           CAST(sum(is_hapax) AS BIGINT) AS n_hapax_tokens,
           CAST(sum(CASE WHEN is_hapax = 1 THEN relpos_e4 ELSE 0 END)
                // greatest(sum(is_hapax), 1) AS BIGINT)
               AS hapax_mean_relpos_e4,
           CAST(sum(relpos_e4) // count(*) AS BIGINT)
               AS all_mean_relpos_e4
    FROM tagged
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_hapax_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where do corpus-hapax words SIT inside documents? Each token's
    relative position (0 = doc start, 10000 = doc end, exact
    (p−1)/(n−1) floors) compared between corpus-hapax tokens and all
    tokens, per lang. In natural corpora rare vocabulary concentrates
    in content-heavy tails; in synthetic/shuffled corpora the two
    means coincide — a generator-realism probe. q_hapax_rate counts
    hapaxes; their PLACEMENT is new. One posexplode, one word-keyed
    frequency join (balanced high-cardinality keys), exact integer
    positions; single-token docs excluded (relpos undefined)."""
    docs = load_table(spark, sf_dir, "documents")
    pos = (
        docs.select(
            "doc_id",
            "lang",
            F.posexplode(alpha_words(F.col("text"))).alias("p0", "w"),
            F.size(alpha_words(F.col("text"))).cast("long").alias("n"),
        )
        .filter(F.col("n") >= 2)
        .select(
            "lang", "w", F.col("p0").cast("long").alias("pz"), "n"
        )
    )
    freq = pos.groupBy("w").agg(F.count("*").cast("long").alias("wn"))
    tagged = pos.join(freq, "w").select(
        "lang",
        F.expr("pz * 10000 div (n - 1)").alias("relpos_e4"),
        F.when(F.col("wn") == 1, F.lit(1)).otherwise(F.lit(0)).alias(
            "is_hapax"
        ),
    )
    return (
        tagged.groupBy("lang")
        .agg(
            F.sum("is_hapax").cast("long").alias("n_hapax_tokens"),
            F.expr(
                "CAST(sum(CASE WHEN is_hapax = 1 THEN relpos_e4 ELSE 0 END)"
                " div greatest(sum(is_hapax), 1) AS BIGINT)"
            ).alias("hapax_mean_relpos_e4"),
            F.expr(
                "CAST(sum(relpos_e4) div count(*) AS BIGINT)"
            ).alias("all_mean_relpos_e4"),
        )
        .orderBy("lang")
    )


@query(
    "q_ttr_by_position",
    oracle="""
    WITH pos AS (
        SELECT doc_id, lang, w,
               CAST(((p - 1) * 3) // n AS BIGINT) AS third
        FROM (
            SELECT doc_id, lang,
                   unnest(list_filter(
                       regexp_split_to_array(lower(text), '[^a-z]+'),
                       x -> x <> '')) AS w,
                   generate_subscripts(list_filter(
                       regexp_split_to_array(lower(text), '[^a-z]+'),
                       x -> x <> ''), 1) AS p,
                   len(list_filter(
                       regexp_split_to_array(lower(text), '[^a-z]+'),
                       x -> x <> '')) AS n
            FROM documents
        )
        WHERE n >= 3
    ),
    per_doc_third AS (
        SELECT lang, doc_id, third,
               CAST(count(*) AS BIGINT) AS tokens,
               CAST(count(DISTINCT w) AS BIGINT) AS types
        FROM pos GROUP BY lang, doc_id, third
    )
    SELECT lang, third,
           CAST(sum(tokens) AS BIGINT) AS n_tokens,
           CAST(sum(types) * 10000 // sum(tokens) AS BIGINT)
               AS ttr_e4
    FROM per_doc_third
    GROUP BY lang, third
    ORDER BY lang, third
    """,
)
def q_ttr_by_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio across document POSITION: each document cut
    into thirds by token index, per-third TTR pooled by lang — do
    documents front-load their vocabulary and repeat themselves
    toward the end (natural prose) or stay flat (shuffled word
    soup)? q_ttr_by_length conditions on document SIZE; the
    within-document position curve is orthogonal. The third
    assignment ((p−1)·3)//n is exact integer bucketing; per-(doc,
    third) distinct counts key on high-cardinality pairs. Docs under
    3 tokens excluded (thirds undefined)."""
    docs = load_table(spark, sf_dir, "documents")
    pos = (
        docs.select(
            "doc_id",
            "lang",
            F.posexplode(alpha_words(F.col("text"))).alias("p0", "w"),
            F.size(alpha_words(F.col("text"))).cast("long").alias("n"),
        )
        .filter(F.col("n") >= 3)
        .select(
            "lang",
            "doc_id",
            "w",
            F.expr("(p0 * 3) div n").cast("long").alias("third"),
        )
    )
    per_doc_third = pos.groupBy("lang", "doc_id", "third").agg(
        F.count("*").cast("long").alias("tokens"),
        F.countDistinct("w").cast("long").alias("types"),
    )
    return (
        per_doc_third.groupBy("lang", "third")
        .agg(
            F.sum("tokens").cast("long").alias("n_tokens"),
            F.expr(
                "CAST(sum(types) * 10000 div sum(tokens) AS BIGINT)"
            ).alias("ttr_e4"),
        )
        .orderBy("lang", "third")
    )


# ---------------------------------------------------------------------------
# Tranche 8 — integrity & joint dependence: the linestatus/date
# cutover audit, key-vs-time ordering, priority persistence within
# customers, order size×value dependence, and post-burst cooldown.
# ---------------------------------------------------------------------------


@query(
    "q_linestatus_cutover",
    oracle="""
    WITH s AS (
        SELECT l_linestatus,
               CAST(count(*) AS BIGINT) AS n_lines,
               min(CAST(l_shipdate AS DATE)) AS min_ship,
               max(CAST(l_shipdate AS DATE)) AS max_ship
        FROM lineitem GROUP BY l_linestatus
    )
    SELECT l_linestatus, n_lines,
           CAST(min_ship AS TIMESTAMP) AS min_ship,
           CAST(max_ship AS TIMESTAMP) AS max_ship,
           CAST(greatest(date_diff('day',
                    max(min_ship) OVER (), min(max_ship) OVER ()) + 1, 0)
               AS BIGINT) AS overlap_days
    FROM s
    ORDER BY l_linestatus
    """,
)
def q_linestatus_cutover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linestatus/shipdate cutover audit: in clean TPC-H, l_linestatus
    is a pure function of l_shipdate vs a single cutoff date (F
    before, O after) — the two statuses' date ranges should overlap
    on at most ~0 days. overlap_days is the violation window; a wide
    overlap means status is NOT derivable from date and every
    'open lines as of X' query needs the status column (schema-design
    evidence, cheap to keep monitored). Per-status min/max from one
    aggregate; the overlap window runs over the 2-row frame."""
    li = load_table(spark, sf_dir, "lineitem")
    s = li.groupBy("l_linestatus").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.min(F.col("l_shipdate").cast("date")).alias("min_ship_d"),
        F.max(F.col("l_shipdate").cast("date")).alias("max_ship_d"),
    )
    wall = Window.partitionBy()
    return (
        s.select(
            "l_linestatus",
            "n_lines",
            F.col("min_ship_d").cast("timestamp").alias("min_ship"),
            F.col("max_ship_d").cast("timestamp").alias("max_ship"),
            F.greatest(
                F.datediff(
                    F.min("max_ship_d").over(wall),
                    F.max("min_ship_d").over(wall),
                )
                + F.lit(1),
                F.lit(0),
            )
            .cast("long")
            .alias("overlap_days"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "q_key_time_order",
    oracle="""
    WITH b AS (
        SELECT o_orderkey // 1024 AS bucket, o_orderkey,
               CAST(o_orderdate AS DATE) AS d
        FROM orders
    ),
    seq AS (
        SELECT bucket,
               CASE WHEN lag(d) OVER (PARTITION BY bucket
                                      ORDER BY o_orderkey) IS NULL
                    THEN NULL
                    WHEN d < lag(d) OVER (PARTITION BY bucket
                                          ORDER BY o_orderkey)
                    THEN 1 ELSE 0 END AS inv
        FROM b
    )
    SELECT CAST(count(inv) AS BIGINT) AS n_pairs,
           CAST(sum(inv) AS BIGINT) AS n_inversions,
           CAST(sum(inv) * 10000 // count(inv) AS BIGINT)
               AS inversion_e4
    FROM seq
    """,
)
def q_key_time_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is o_orderkey assigned in time order? The share of
    adjacent-by-key order pairs whose dates INVERT — near 0 means
    the key is a usable time proxy (min/max key pruning then also
    prunes time ranges, the q_zorder_skipping premise); near 5000
    means keys and time are independent. Adjacency is evaluated
    within 1024-key buckets (boundary pairs excluded by
    construction, ≤ n/1024 of all pairs — documented, identical on
    both engines), so the lag window partitions on ~key/1024 buckets
    instead of one global sort. 1-row output."""
    o = load_table(spark, sf_dir, "orders")
    b = o.select(
        F.expr("o_orderkey div 1024").alias("bucket"),
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("d"),
    )
    w = Window.partitionBy("bucket").orderBy("o_orderkey")
    seq = b.select(
        F.when(F.lag("d").over(w).isNull(), F.lit(None))
        .when(F.col("d") < F.lag("d").over(w), F.lit(1))
        .otherwise(F.lit(0))
        .alias("inv")
    )
    return seq.agg(
        F.count("inv").cast("long").alias("n_pairs"),
        F.sum("inv").cast("long").alias("n_inversions"),
        F.expr("CAST(sum(inv) * 10000 div count(inv) AS BIGINT)").alias(
            "inversion_e4"
        ),
    )


@query(
    "q_priority_persistence",
    oracle="""
    WITH seq AS (
        SELECT c_mktsegment, o_orderpriority,
               lag(o_orderpriority) OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS prev_p
        FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    agg AS (
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CASE WHEN o_orderpriority = prev_p
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_same
        FROM seq WHERE prev_p IS NOT NULL
        GROUP BY c_mktsegment
    ),
    base AS (
        SELECT c_mktsegment,
               sum(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) AS sq,
               CAST(sum(n) AS BIGINT) AS tot
        FROM (
            SELECT c_mktsegment, o_orderpriority,
                   CAST(count(*) AS BIGINT) AS n
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment, o_orderpriority
        ) g
        GROUP BY c_mktsegment
    )
    SELECT a.c_mktsegment, a.n_pairs,
           CAST(a.n_same * 10000 // a.n_pairs AS BIGINT)
               AS persistence_e4,
           CAST(floor(CAST(b.sq AS DOUBLE) * 10000.0
                      / (CAST(b.tot AS DOUBLE) * CAST(b.tot AS DOUBLE)))
               AS BIGINT) AS chance_e4
    FROM agg a JOIN base b ON a.c_mktsegment = b.c_mktsegment
    ORDER BY a.c_mktsegment
    """,
)
def q_priority_persistence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority persistence within a customer's order sequence: the
    share of consecutive order pairs keeping the SAME priority, vs
    the chance rate Σp_i² under independent draws from the segment's
    priority mix — persistence above chance means priority is a
    stable customer trait (negotiated SLAs), not per-order noise.
    The Markov family models EVENT-type transitions; order-priority
    persistence is new. Per-customer keyed lag; the chance term's
    squared counts sum on DECIMAL(38,0)/HUGEINT and collapse in ONE
    double floor (the q_hhi_trend rule)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = j.select(
        "c_mktsegment",
        "o_orderpriority",
        F.lag("o_orderpriority").over(w).alias("prev_p"),
    )
    agg = (
        seq.filter(F.col("prev_p").isNotNull())
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(
                F.when(
                    F.col("o_orderpriority") == F.col("prev_p"), F.lit(1)
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_same"),
        )
    )
    base = (
        j.groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count("*").cast("long").alias("n"))
        .groupBy("c_mktsegment")
        .agg(
            F.sum(F.expr("CAST(n AS DECIMAL(38,0)) * n")).alias("sq"),
            F.sum("n").cast("long").alias("tot"),
        )
    )
    return (
        agg.join(base, "c_mktsegment")
        .select(
            "c_mktsegment",
            "n_pairs",
            F.expr("CAST(n_same * 10000 div n_pairs AS BIGINT)").alias(
                "persistence_e4"
            ),
            F.floor(
                F.col("sq").cast("double")
                * 10000.0
                / (F.col("tot").cast("double") * F.col("tot").cast("double"))
            )
            .cast("long")
            .alias("chance_e4"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q_size_value_dependence",
    oracle="""
    WITH per_order AS (
        SELECT o_orderkey,
               least(CAST(count(*) AS BIGINT), 7) AS size_band,
               least(CAST(floor(max(o_totalprice) * 100 + 0.5) AS BIGINT)
                     // 12500000, 3) AS value_band
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderkey
    ),
    cells AS (
        SELECT size_band, value_band, CAST(count(*) AS BIGINT) AS n
        FROM per_order GROUP BY size_band, value_band
    ),
    m AS (
        SELECT c.size_band, c.value_band, c.n,
               rs.nr, cs.nc, t.nt
        FROM cells c
        JOIN (SELECT size_band, CAST(sum(n) AS BIGINT) AS nr
              FROM cells GROUP BY size_band) rs
          ON c.size_band = rs.size_band
        JOIN (SELECT value_band, CAST(sum(n) AS BIGINT) AS nc
              FROM cells GROUP BY value_band) cs
          ON c.value_band = cs.value_band
        CROSS JOIN (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cells) t
    )
    SELECT size_band, value_band, n,
           CAST(floor(CAST(n AS DOUBLE) * CAST(nt AS DOUBLE) * 10000.0
                      / (CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE)))
               AS BIGINT) AS lift_e4
    FROM m
    ORDER BY size_band, value_band
    """,
)
def q_size_value_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint dependence of order SIZE (line count, capped at 7) and
    order VALUE (125k-wide bands, capped at band 3): observed cell
    count vs the independence expectation nr·nc/N as a lift — the
    2-D structure q_order_size_profile (size marginal) and
    q_value_bands (value marginal) each flatten away. Lift far from
    10000 on the diagonal says line count drives value (pick ONE as
    a stratification key, not both). Cell lift is one double floor
    n·N/(nr·nc) (int64-safe through sf10 would overflow as a pure
    int product: n·N ~ 10¹⁴·10⁷). The marginals join on the ≤32-row
    cell frame; the 1-row total leg broadcasts."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.least(F.count("*").cast("long"), F.lit(7)).alias("size_band"),
            F.least(
                F.expr(
                    "CAST(floor(max(o_totalprice) * 100 + 0.5) AS BIGINT)"
                    " div 12500000"
                ),
                F.lit(3),
            ).alias("value_band"),
        )
    )
    cells = per_order.groupBy("size_band", "value_band").agg(
        F.count("*").cast("long").alias("n")
    )
    rs = cells.groupBy("size_band").agg(F.sum("n").cast("long").alias("nr"))
    cs = cells.groupBy("value_band").agg(F.sum("n").cast("long").alias("nc"))
    t = cells.agg(F.sum("n").cast("long").alias("nt"))
    return (
        cells.join(rs, "size_band")
        .join(cs, "value_band")
        .crossJoin(F.broadcast(t))
        .select(
            "size_band",
            "value_band",
            "n",
            F.floor(
                F.col("n").cast("double")
                * F.col("nt").cast("double")
                * 10000.0
                / (F.col("nr").cast("double") * F.col("nc").cast("double"))
            )
            .cast("long")
            .alias("lift_e4"),
        )
        .orderBy("size_band", "value_band")
    )


@query(
    "q_burst_cooldown",
    oracle="""
    WITH per_hour AS (
        SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY user_id, date_trunc('hour', ts)
    ),
    totals AS (
        SELECT user_id, CAST(sum(n) AS BIGINT) AS total
        FROM per_hour GROUP BY user_id HAVING sum(n) >= 5
    ),
    peak AS (
        SELECT p.user_id,
               90000000000
               - CAST(max(p.n * 100000000000 + 90000000000
                          - CAST(epoch(p.hr) AS BIGINT) // 3600) % 100000000000 AS BIGINT)
                   AS peak_hr_h,
               CAST(max(p.n * 100000000000 + 90000000000
                        - CAST(epoch(p.hr) AS BIGINT) // 3600) // 100000000000 AS BIGINT)
                   AS peak_n
        FROM per_hour p JOIN totals t ON p.user_id = t.user_id
        GROUP BY p.user_id
    ),
    nxt AS (
        SELECT pk.user_id, pk.peak_n,
               coalesce(ph.n, 0) AS next_n
        FROM peak pk
        LEFT JOIN per_hour ph
          ON ph.user_id = pk.user_id
         AND CAST(epoch(ph.hr) AS BIGINT) // 3600 = pk.peak_hr_h + 1
    ),
    banded AS (
        SELECT CASE WHEN t.total < 10 THEN 0
                    WHEN t.total < 20 THEN 1
                    ELSE 2 END AS volume_band,
               n.peak_n, n.next_n
        FROM nxt n JOIN totals t ON n.user_id = t.user_id
    )
    SELECT CAST(volume_band AS BIGINT) AS volume_band,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(next_n) * 10000 // sum(peak_n) AS BIGINT)
               AS cooldown_e4,
           CAST(sum(CASE WHEN next_n = 0 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS hard_stop_e4
    FROM banded
    GROUP BY volume_band
    ORDER BY volume_band
    """,
)
def q_burst_cooldown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-burst cooldown: after a user's single busiest hour, how
    much activity survives into the NEXT calendar hour —
    Σnext/Σpeak per volume band, plus the hard-stop share (next hour
    completely silent). Separates binge-and-vanish usage from
    sustained engagement at equal volume; q_user_burst_share
    measures the burst's own concentration, not what follows it.
    The peak hour is a packed nonneg argmax over (count, inverted
    epoch-hour) — epoch-hours (~4.9e5) pack under the 1e11 radix
    with counts ≤ 2³¹, ties to the EARLIER hour; the next-hour
    lookup is an equi-join on (user, hour+1). All integer."""
    ev = load_table(spark, sf_dir, "events")
    per_hour = ev.groupBy(
        "user_id",
        F.expr(
            "unix_micros(CAST(date_trunc('hour', ts) AS TIMESTAMP))"
            " div 3600000000"
        ).alias("hr_h"),
    ).agg(F.count("*").cast("long").alias("n"))
    totals = (
        per_hour.groupBy("user_id")
        .agg(F.sum("n").cast("long").alias("total"))
        .filter(F.col("total") >= 5)
    )
    packed = F.col("n") * F.lit(100000000000) + (
        F.lit(90000000000) - F.col("hr_h")
    )
    peak = (
        per_hour.join(totals, "user_id")
        .groupBy("user_id")
        .agg(
            (F.lit(90000000000) - F.max(packed) % F.lit(100000000000)).alias(
                "peak_hr_h"
            ),
            (F.max(packed) / F.lit(100000000000))
            .cast("long")
            .alias("__pk_div"),
            F.expr(
                "CAST(max(n * 100000000000 + 90000000000 - hr_h)"
                " div 100000000000 AS BIGINT)"
            ).alias("peak_n"),
        )
        .select("user_id", "peak_hr_h", "peak_n")
    )
    ph2 = per_hour.select(
        F.col("user_id").alias("u2"),
        F.col("hr_h").alias("hr2"),
        F.col("n").alias("next_n_raw"),
    )
    nxt = peak.join(
        ph2,
        (peak.user_id == ph2.u2) & (ph2.hr2 == peak.peak_hr_h + 1),
        "left",
    ).select(
        "user_id",
        "peak_n",
        F.coalesce("next_n_raw", F.lit(0)).alias("next_n"),
    )
    banded = nxt.join(totals, "user_id").select(
        F.when(F.col("total") < 10, F.lit(0))
        .when(F.col("total") < 20, F.lit(1))
        .otherwise(F.lit(2))
        .cast("long")
        .alias("volume_band"),
        "peak_n",
        "next_n",
    )
    return (
        banded.groupBy("volume_band")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.expr(
                "CAST(sum(next_n) * 10000 div sum(peak_n) AS BIGINT)"
            ).alias("cooldown_e4"),
            F.expr(
                "CAST(sum(CASE WHEN next_n = 0 THEN 1 ELSE 0 END) * 10000"
                " div count(*) AS BIGINT)"
            ).alias("hard_stop_e4"),
        )
        .orderBy("volume_band")
    )


# ---------------------------------------------------------------------------
# Tranche 9 — statistical process control & seasonality diagnostics on
# the DAILY ORDER SERIES. The registered surface reads the calendar at
# month/quarter/week grain (q_yoy_growth, q_seasonal_profile_align) and
# the r15 tranche 2 aligned calendar SHAPE across datasets; none of it
# asks the operations questions an SPC dashboard leads with: which days
# were statistically out of control, how autocorrelated is daily
# volume, what period does the series actually repeat at, what part of
# a month-over-month revenue move was volume vs price, and is the
# series even complete. Every query collapses the fact scan to the
# ~2.4k-row day (or ~84-row month) frame FIRST, so the single-partition
# ordered windows run over day counts, never order counts.
# ---------------------------------------------------------------------------


@query(
    "q_control_limits",
    oracle="""
    WITH days AS (
        SELECT o_orderdate AS d, CAST(count(*) AS BIGINT) AS x
        FROM orders GROUP BY o_orderdate
    ),
    mr AS (
        SELECT d, x,
               abs(x - lag(x) OVER (ORDER BY d)) AS mrange
        FROM days
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_tot,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(count(mrange) AS BIGINT) AS n_mr,
               CAST(sum(mrange) AS BIGINT) AS smr
        FROM mr
    ),
    flag AS (
        SELECT year(m.d) AS yr,
               CASE WHEN (m.x * t.n_tot - t.sx) > 0
                         AND abs(m.x * t.n_tot - t.sx) * 1000 * t.n_mr
                             > 2660 * t.smr * t.n_tot
                    THEN 1 ELSE 0 END AS hi,
               CASE WHEN (m.x * t.n_tot - t.sx) < 0
                         AND abs(m.x * t.n_tot - t.sx) * 1000 * t.n_mr
                             > 2660 * t.smr * t.n_tot
                    THEN 1 ELSE 0 END AS lo
        FROM mr m CROSS JOIN tot t
    )
    SELECT CAST(yr AS BIGINT) AS yr,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(hi) AS BIGINT) AS n_out_hi,
           CAST(sum(lo) AS BIGINT) AS n_out_lo,
           CAST((sum(hi) + sum(lo)) * 10000 // count(*) AS BIGINT)
               AS out_bp
    FROM flag GROUP BY yr ORDER BY yr
    """,
)
def q_control_limits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart individuals control chart on daily order counts: a day
    is out of control when |x - x̄| exceeds 2.66·MR̄ (the I-MR chart's
    3σ limit from the average moving range), counted per year with the
    breach direction — the SPC question ('which days were anomalous
    against the series' own short-term noise?') that mean/stddev
    z-scores get wrong under drift. The fact scan collapses to the
    ~2.4k-row day frame before the ordered window, and the control
    test is pure integer cross-multiplication
    (|x·N − Sx|·1000·D > 2660·Smr·N — no division anywhere), so the
    day frame's magnitudes (x·N ~ 1e10 at sf10, ×1000·D ~ 1e16) stay
    inside int64 through sf100. The 1-row totals leg broadcasts
    (plan-lint NLJ_OK)."""
    o = load_table(spark, sf_dir, "orders")
    days = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count("*").cast("long").alias("x")
    )
    w = Window.orderBy("d")
    mr = days.withColumn("mrange", F.abs(F.col("x") - F.lag("x").over(w)))
    tot = mr.agg(
        F.count("*").cast("long").alias("n_tot"),
        F.sum("x").cast("long").alias("sx"),
        F.count("mrange").cast("long").alias("n_mr"),
        F.sum("mrange").cast("long").alias("smr"),
    )
    dev = F.col("x") * F.col("n_tot") - F.col("sx")
    breach = (
        F.abs(dev) * 1000 * F.col("n_mr")
        > 2660 * F.col("smr") * F.col("n_tot")
    )
    flag = (
        mr.crossJoin(F.broadcast(tot))
        .select(
            F.year("d").cast("long").alias("yr"),
            F.when((dev > 0) & breach, 1).otherwise(0).alias("hi"),
            F.when((dev < 0) & breach, 1).otherwise(0).alias("lo"),
        )
    )
    return (
        flag.groupBy("yr")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sum("hi").cast("long").alias("n_out_hi"),
            F.sum("lo").cast("long").alias("n_out_lo"),
            F.expr(
                "CAST((sum(hi) + sum(lo)) * 10000 div count(*) AS BIGINT)"
            ).alias("out_bp"),
        )
        .orderBy("yr")
    )


@query(
    "q_count_acf",
    oracle="""
    WITH days AS (
        SELECT o_orderdate AS d, CAST(count(*) AS BIGINT) AS x
        FROM orders GROUP BY o_orderdate
    ),
    idx AS (
        SELECT row_number() OVER (ORDER BY d) AS t, x FROM days
    ),
    pairs AS (
        SELECT l.lag_k, a.x AS x0, b.x AS x1
        FROM (SELECT unnest(generate_series(1, 7)) AS lag_k) l
        JOIN idx a ON true
        JOIN idx b ON b.t = a.t + l.lag_k
    )
    SELECT CAST(lag_k AS BIGINT) AS lag_k,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(corr(CAST(x0 AS DOUBLE), CAST(x1 AS DOUBLE)), 4) + 0.0
               AS acf
    FROM pairs GROUP BY lag_k ORDER BY lag_k
    """,
)
def q_count_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily order volume at lags 1..7:
    the series' memory fingerprint — a lag-7 spike is weekly
    seasonality, decaying positive lags are momentum, and the acf
    profile decides whether tomorrow's volume forecast needs more than
    yesterday's number. Series positions come from row_number over the
    observed-day frame (calendar gaps compressed — the chart
    convention; q_missing_days audits the gaps themselves). The seven
    lag series are seven window-lag columns STACKED on the ~2.4k-row
    day frame (no cross join, one ordered pass); corr on exact
    integer counts (sums stay < 2^53, so both engines see identical
    moments) is the allowed round(,4) class, -0.0-normalized."""
    o = load_table(spark, sf_dir, "orders")
    days = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count("*").cast("long").alias("x")
    )
    w = Window.orderBy("d")
    lagged = days.select(
        "x",
        *[F.lag("x", k).over(w).alias(f"lag{k}") for k in range(1, 8)],
    )
    stacked = lagged.select(
        "x",
        F.expr(
            "stack(7, " +
            ", ".join(f"{k}, lag{k}" for k in range(1, 8)) +
            ") AS (lag_k, x1)"
        ),
    ).where(F.col("x1").isNotNull())
    return (
        stacked.groupBy(F.col("lag_k").cast("long").alias("lag_k"))
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            (
                F.round(
                    F.corr(
                        F.col("x1").cast("double"),
                        F.col("x").cast("double"),
                    ),
                    4,
                )
                + F.lit(0.0)
            ).alias("acf"),
        )
        .orderBy("lag_k")
    )


@query(
    "q_period_scan",
    oracle="""
    WITH days AS (
        SELECT o_orderdate AS d, CAST(count(*) AS BIGINT) AS x
        FROM orders GROUP BY o_orderdate
    ),
    idx AS (
        SELECT row_number() OVER (ORDER BY d) - 1 AS t, x FROM days
    ),
    cells AS (
        SELECT p.p, idx.t % p.p AS bucket,
               CAST(count(*) AS BIGINT) AS ng,
               CAST(sum(x) AS BIGINT) AS sg
        FROM (SELECT unnest(generate_series(2, 10)) AS p) p
        JOIN idx ON true
        GROUP BY p.p, idx.t % p.p
    )
    SELECT CAST(p AS BIGINT) AS p,
           CAST(floor(((max(CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE))
                        - min(CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE)))
                       * 10000.0)
                      * CAST(sum(ng) AS DOUBLE)
                      / CAST(sum(sg) AS DOUBLE)) AS BIGINT)
               AS spread_e4
    FROM cells GROUP BY p ORDER BY p
    """,
)
def q_period_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodicity scan: for each candidate period p in 2..10, bucket
    the day series by t mod p and report the spread of bucket means
    relative to the overall mean (e4) — the direct 'what period does
    this series repeat at?' probe (the p with the spike is the season
    length; a flat scan says the calendar is aperiodic). Works on the
    compressed series index like q_count_acf. Exactness: each bucket
    mean is ONE int64→double division (identical IEEE result both
    engines), max/min/subtract/scale are single deterministic double
    ops, and the one floor pins the e4 — no double SUMMATION anywhere
    (the per-p totals re-sum exact integers). The 9-way period
    expansion runs on the ~2.4k-row day frame (stack, not a fact-scan
    cross join)."""
    o = load_table(spark, sf_dir, "orders")
    days = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count("*").cast("long").alias("x")
    )
    w = Window.orderBy("d")
    idx = days.select(
        (F.row_number().over(w) - 1).alias("t"), "x"
    )
    stacked = idx.select(
        "x",
        F.expr(
            "stack(9, " +
            ", ".join(f"{p}, t % {p}" for p in range(2, 11)) +
            ") AS (p, bucket)"
        ),
    )
    cells = stacked.groupBy("p", "bucket").agg(
        F.count("*").cast("long").alias("ng"),
        F.sum("x").cast("long").alias("sg"),
    )
    mean = F.col("sg").cast("double") / F.col("ng").cast("double")
    return (
        cells.withColumn("bmean", mean)
        .groupBy(F.col("p").cast("long").alias("p"))
        .agg(
            F.floor(
                (
                    (F.max("bmean") - F.min("bmean")) * 10000.0
                )
                * F.sum("ng").cast("double")
                / F.sum("sg").cast("double")
            )
            .cast("long")
            .alias("spread_e4"),
        )
        .orderBy("p")
    )


@query(
    "q_revenue_bridge",
    oracle="""
    WITH months AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS s
        FROM orders GROUP BY 1
    ),
    lagged AS (
        SELECT m, n, s,
               lag(n) OVER (ORDER BY m) AS n1,
               lag(s) OVER (ORDER BY m) AS s1
        FROM months
    ),
    eff AS (
        SELECT m, n, s - s1 AS ds,
               CASE WHEN (n - n1) * s1 >= 0
                    THEN abs((n - n1) * s1) // n1
                    ELSE -(abs((n - n1) * s1) // n1) END AS vol
        FROM lagged WHERE n1 IS NOT NULL
    )
    SELECT m, n AS n_orders, ds AS ds_cents,
           vol AS vol_cents, ds - vol AS price_cents
    FROM eff ORDER BY m
    """,
)
def q_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month price-volume bridge: each month's revenue move
    decomposed into a VOLUME effect ((n₂−n₁)·S₁/n₁ — what the order
    count change alone would have done at last month's average ticket)
    and the residual PRICE/MIX effect — the waterfall every revenue
    review opens with, and the decomposition q_yoy_growth's single
    growth number hides. Fact scan collapses to the ~84-row month
    frame first (exact integer cents via the floor(+0.5) rule); the
    volume effect's numerator can be NEGATIVE, so it follows the
    CLAUDE.md abs-then-re-sign integer-division rule (DuckDB floors,
    Spark truncates on negatives). ds = vol + price exactly by
    construction. Magnitudes: (n−n₁)·S₁ ~ 1e5·1e13 = 1e18 at sf10 —
    inside int64."""
    o = load_table(spark, sf_dir, "orders")
    months = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate"))
        .cast("timestamp")
        .alias("m")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
        ).cast("long").alias("s"),
    )
    w = Window.orderBy("m")
    lagged = months.select(
        "m", "n", "s",
        F.lag("n").over(w).alias("n1"),
        F.lag("s").over(w).alias("s1"),
    ).where(F.col("n1").isNotNull())
    num = (F.col("n") - F.col("n1")) * F.col("s1")
    vol = F.when(
        num >= 0, F.expr("abs((n - n1) * s1) div n1")
    ).otherwise(-F.expr("abs((n - n1) * s1) div n1"))
    return (
        lagged.select(
            "m",
            F.col("n").alias("n_orders"),
            (F.col("s") - F.col("s1")).alias("ds_cents"),
            vol.alias("vol_cents"),
            (F.col("s") - F.col("s1") - vol).alias("price_cents"),
        )
        .orderBy("m")
    )


@query(
    "q_missing_days",
    oracle="""
    WITH days AS (
        SELECT o_orderdate AS d FROM orders GROUP BY o_orderdate
    ),
    gaps AS (
        SELECT d,
               date_diff('day', CAST(lag(d) OVER (ORDER BY d) AS DATE),
                         CAST(d AS DATE)) - 1 AS gap
        FROM days
    )
    SELECT CAST(year(d) AS BIGINT) AS yr,
           CAST(count(*) AS BIGINT) AS days_present,
           CAST(sum(coalesce(gap, 0)) AS BIGINT) AS missing_days,
           CAST(max(coalesce(gap, 0)) AS BIGINT) AS longest_gap
    FROM gaps GROUP BY year(d) ORDER BY yr
    """,
)
def q_missing_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series completeness audit: per year, how many calendar days
    between consecutive observed order days are MISSING, and the
    longest silent run — the data-quality gate in front of every
    daily-series consumer above (a control chart or acf over a series
    with silent holes reads noise as signal). Gap = datediff to the
    previous observed day − 1, attributed to the year of the LATER
    day (a year-boundary gap counts once, in the resuming year); the
    series' first day carries gap 0. All exact integer day counts on
    the ~2.4k-row day frame."""
    o = load_table(spark, sf_dir, "orders")
    days = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.lit(1).alias("one")
    ).select("d")
    w = Window.orderBy("d")
    gaps = days.select(
        "d",
        (F.datediff(F.col("d"), F.lag("d").over(w)) - 1).alias("gap"),
    )
    return (
        gaps.groupBy(F.year("d").cast("long").alias("yr"))
        .agg(
            F.count("*").cast("long").alias("days_present"),
            F.sum(F.coalesce(F.col("gap"), F.lit(0)))
            .cast("long")
            .alias("missing_days"),
            F.max(F.coalesce(F.col("gap"), F.lit(0)))
            .cast("long")
            .alias("longest_gap"),
        )
        .orderBy("yr")
    )


# ---------------------------------------------------------------------------
# Tranche 10 — customer-base composition accounting. The registered
# cohort family (q_cohort_ltv, q_new_vs_returning, q_growth_accounting)
# reads the base through the CALENDAR; none of it reads the base's
# STRUCTURE: the RFM segmentation every CRM starts from, how much of
# the whale set actually turns over year to year, how stable the
# nation demand league is, how long acquisition takes to produce a
# second order, and how heavy-tailed per-customer spend really is.
# Every query collapses the order scan to a per-customer (or
# per-year-entity) frame first; windows partition by year/cohort.
# ---------------------------------------------------------------------------


@query(
    "q_rfm_grid",
    oracle="""
    WITH anchor AS (
        SELECT CAST(max(o_orderdate) AS DATE) AS amax FROM orders
    ),
    per AS (
        SELECT o_custkey,
               date_diff('day', CAST(max(o_orderdate) AS DATE),
                         (SELECT amax FROM anchor)) AS rec,
               CAST(count(*) AS BIGINT) AS freq,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS mon
        FROM orders GROUP BY o_custkey
    ),
    banded AS (
        SELECT CASE WHEN rec <= 90 THEN 0
                    WHEN rec <= 365 THEN 1 ELSE 2 END AS r_band,
               CASE WHEN freq <= 8 THEN 0
                    WHEN freq <= 12 THEN 1 ELSE 2 END AS f_band,
               CASE WHEN mon < 200000000 THEN 0
                    WHEN mon < 300000000 THEN 1 ELSE 2 END AS m_band,
               mon
        FROM per
    )
    SELECT CAST(r_band AS BIGINT) AS r_band,
           CAST(f_band AS BIGINT) AS f_band,
           CAST(m_band AS BIGINT) AS m_band,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(mon) AS BIGINT) AS mon_cents
    FROM banded GROUP BY r_band, f_band, m_band
    ORDER BY r_band, f_band, m_band
    """,
)
def q_rfm_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RFM grid — customers cut by Recency (days since last order
    vs the corpus horizon: ≤90 / ≤365 / older), Frequency (≤8 / ≤12 /
    more orders) and Monetary (<2e8 / <3e8 / more lifetime cents, the
    sf-invariant quartile cuts) — the segmentation every CRM and
    churn model starts from, with each cell's headcount and lifetime
    value. Thresholds are FIXED constants (orders-per-customer and
    ticket size are scale-invariant in this corpus), so the grid is
    comparable across SF. One per-customer aggregate, then a ≤27-row
    grid; the 1-row horizon leg broadcasts (plan-lint NLJ_OK). Recency
    against the corpus max keeps the answer stable however stale the
    snapshot (the q_retention_sweep convention)."""
    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max(F.col("o_orderdate")).alias("amax"))
    per = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_d"),
        F.count("*").cast("long").alias("freq"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
        ).cast("long").alias("mon"),
    )
    banded = per.crossJoin(F.broadcast(anchor)).select(
        F.when(F.datediff("amax", "last_d") <= 90, 0)
        .when(F.datediff("amax", "last_d") <= 365, 1)
        .otherwise(2)
        .cast("long")
        .alias("r_band"),
        F.when(F.col("freq") <= 8, 0)
        .when(F.col("freq") <= 12, 1)
        .otherwise(2)
        .cast("long")
        .alias("f_band"),
        F.when(F.col("mon") < 200000000, 0)
        .when(F.col("mon") < 300000000, 1)
        .otherwise(2)
        .cast("long")
        .alias("m_band"),
        "mon",
    )
    return (
        banded.groupBy("r_band", "f_band", "m_band")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum("mon").cast("long").alias("mon_cents"),
        )
        .orderBy("r_band", "f_band", "m_band")
    )


@query(
    "q_whale_turnover",
    oracle="""
    WITH yearly AS (
        SELECT year(o_orderdate) AS yr, o_custkey,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS s
        FROM orders GROUP BY 1, 2
    ),
    ranked AS (
        SELECT yr, o_custkey,
               row_number() OVER (PARTITION BY yr
                                  ORDER BY s DESC, o_custkey) AS rn,
               count(*) OVER (PARTITION BY yr) AS ny
        FROM yearly
    ),
    tops AS (
        SELECT yr, o_custkey FROM ranked
        WHERE rn <= greatest(1, ny // 10)
    ),
    cnt AS (
        SELECT yr, CAST(count(*) AS BIGINT) AS n_top FROM tops GROUP BY yr
    ),
    inter AS (
        SELECT b.yr AS yr, CAST(count(*) AS BIGINT) AS n_inter
        FROM tops a JOIN tops b
          ON a.o_custkey = b.o_custkey AND a.yr + 1 = b.yr
        GROUP BY b.yr
    )
    SELECT CAST(c2.yr AS BIGINT) AS yr,
           c1.n_top AS n_top_prev,
           c2.n_top AS n_top_cur,
           coalesce(i.n_inter, 0) AS n_inter,
           CAST(coalesce(i.n_inter, 0) * 10000
                // (c1.n_top + c2.n_top - coalesce(i.n_inter, 0))
                AS BIGINT) AS jaccard_e4
    FROM cnt c2
    JOIN cnt c1 ON c1.yr + 1 = c2.yr
    LEFT JOIN inter i ON i.yr = c2.yr
    ORDER BY yr
    """,
)
def q_whale_turnover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whale-set turnover: the Jaccard overlap of each year's
    top-decile spenders with the previous year's — the composition
    churn q_power_user_share's share number hides (a stable share can
    mask a fully-rotated set, and rotation decides whether key-account
    programs chase a fixed book or a moving one). Top decile is an
    exact per-year rank selection ((spend desc, custkey) tie-break,
    k = max(1, n_y/10)); the year partitions bound each window sort to
    one year's active customers (the designed per-year ranking class —
    q_cheapest_supplier_churn's scale family). Set algebra on the
    ≤n/10-row tops frame; jaccard in exact e4 integer division."""
    o = load_table(spark, sf_dir, "orders")
    yearly = o.groupBy(
        F.year("o_orderdate").alias("yr"), "o_custkey"
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
        ).cast("long").alias("s")
    )
    w = Window.partitionBy("yr").orderBy(F.desc("s"), "o_custkey")
    wc = Window.partitionBy("yr")
    ranked = yearly.select(
        "yr", "o_custkey",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("ny"),
    )
    tops = ranked.where(
        F.col("rn") <= F.greatest(F.lit(1), F.expr("ny div 10"))
    ).select("yr", "o_custkey")
    cnt = tops.groupBy("yr").agg(F.count("*").cast("long").alias("n_top"))
    a, b = tops.alias("a"), tops.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.yr") + 1 == F.col("b.yr")),
        )
        .groupBy(F.col("b.yr").alias("yr"))
        .agg(F.count("*").cast("long").alias("n_inter"))
    )
    c1, c2 = cnt.alias("c1"), cnt.alias("c2")
    joined = (
        c2.join(c1, F.col("c1.yr") + 1 == F.col("c2.yr"))
        .join(inter.alias("i"), F.col("i.yr") == F.col("c2.yr"), "left")
        .select(
            F.col("c2.yr").cast("long").alias("yr"),
            F.col("c1.n_top").alias("n_top_prev"),
            F.col("c2.n_top").alias("n_top_cur"),
            F.coalesce(F.col("i.n_inter"), F.lit(0))
            .cast("long")
            .alias("n_inter"),
        )
    )
    return joined.select(
        "yr", "n_top_prev", "n_top_cur", "n_inter",
        F.expr(
            "CAST(n_inter * 10000 div"
            " (n_top_prev + n_top_cur - n_inter) AS BIGINT)"
        ).alias("jaccard_e4"),
    ).orderBy("yr")


@query(
    "q_league_mobility",
    oracle="""
    WITH rev AS (
        SELECT year(o.o_orderdate) AS yr, n.n_name,
               CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS s
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT yr, n_name,
               row_number() OVER (PARTITION BY yr
                                  ORDER BY s DESC, n_name) AS rk
        FROM rev
    ),
    pairs AS (
        SELECT b.yr AS yr,
               CAST(count(*) AS BIGINT) AS n_common,
               CAST(sum(abs(a.rk - b.rk)) AS BIGINT) AS footrule
        FROM ranked a JOIN ranked b
          ON a.n_name = b.n_name AND a.yr + 1 = b.yr
        GROUP BY b.yr
    )
    SELECT CAST(yr AS BIGINT) AS yr, n_common, footrule,
           CAST(CASE WHEN n_common >= 2 THEN
                footrule * 10000 // (n_common * n_common // 2)
                END AS BIGINT) AS mobility_e4
    FROM pairs ORDER BY yr
    """,
)
def q_league_mobility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank mobility of the nation demand league: Spearman's footrule
    (Σ|rank_t − rank_{t+1}|) over each adjacent year pair, normalized
    by its ⌊n²/2⌋ maximum — 0 means the league table is frozen (nation
    demand shares are structural), near 10000 means the ranking is
    reshuffling annually (last year's league is no forecast). Ranks
    are within-year over the nations ACTIVE that year ((rev desc,
    name) tie-break); the footrule sums over nations present in BOTH
    years. The fact join collapses to a ≤25-rows-per-year frame
    before any window — every downstream op is on a toy frame."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.year("o_orderdate").alias("yr"), "n_name")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).cast("long").alias("s")
        )
    )
    w = Window.partitionBy("yr").orderBy(F.desc("s"), "n_name")
    ranked = rev.select(
        "yr", "n_name", F.row_number().over(w).alias("rk")
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.n_name") == F.col("b.n_name"))
            & (F.col("a.yr") + 1 == F.col("b.yr")),
        )
        .groupBy(F.col("b.yr").cast("long").alias("yr"))
        .agg(
            F.count("*").cast("long").alias("n_common"),
            F.sum(F.abs(F.col("a.rk") - F.col("b.rk")))
            .cast("long")
            .alias("footrule"),
        )
    )
    return pairs.select(
        "yr", "n_common", "footrule",
        F.expr(
            "CAST(CASE WHEN n_common >= 2 THEN"
            " footrule * 10000 div (n_common * n_common div 2)"
            " END AS BIGINT)"
        ).alias("mobility_e4"),
    ).orderBy("yr")


@query(
    "q_second_order_latency",
    oracle="""
    WITH seq AS (
        SELECT o_custkey, o_orderdate,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders
    ),
    firsts AS (
        SELECT s1.o_custkey,
               year(s1.o_orderdate) AS cohort_yr,
               date_diff('day', CAST(s1.o_orderdate AS DATE),
                         CAST(s2.o_orderdate AS DATE)) AS latency
        FROM seq s1
        LEFT JOIN seq s2 ON s1.o_custkey = s2.o_custkey AND s2.rn = 2
        WHERE s1.rn = 1
    ),
    med AS (
        SELECT cohort_yr, latency,
               row_number() OVER (PARTITION BY cohort_yr
                                  ORDER BY latency, o_custkey) AS mrn,
               count(*) OVER (PARTITION BY cohort_yr) AS nrep
        FROM firsts WHERE latency IS NOT NULL
    ),
    coh AS (
        SELECT cohort_yr,
               CAST(count(*) AS BIGINT) AS n_cohort,
               CAST(count(latency) AS BIGINT) AS n_repeat
        FROM firsts GROUP BY cohort_yr
    )
    SELECT CAST(c.cohort_yr AS BIGINT) AS cohort_yr,
           c.n_cohort, c.n_repeat,
           CAST(c.n_repeat * 10000 // c.n_cohort AS BIGINT) AS repeat_e4,
           CAST(m.latency AS BIGINT) AS median_latency_days
    FROM coh c
    LEFT JOIN med m
      ON m.cohort_yr = c.cohort_yr AND m.mrn = (m.nrep + 1) // 2
    ORDER BY cohort_yr
    """,
)
def q_second_order_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-second-order by acquisition cohort: for customers whose
    FIRST order lands in year Y, the share that ever orders again and
    the exact (lower-)median days until that second order — the
    activation metric acquisition teams steer by (a lengthening median
    across cohorts says later acquisitions are colder). First/second
    orders from one per-customer keyed window ((date, orderkey)
    tie-break); the cohort median is an exact rank selection, not an
    approximate percentile. All windows partition by customer or
    cohort year — no global sort anywhere."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    seq = o.select(
        "o_custkey", "o_orderdate", F.row_number().over(w).alias("rn")
    )
    s1 = seq.where(F.col("rn") == 1).select(
        "o_custkey",
        F.year("o_orderdate").alias("cohort_yr"),
        F.col("o_orderdate").alias("d1"),
    )
    s2 = seq.where(F.col("rn") == 2).select(
        F.col("o_custkey").alias("ck2"),
        F.col("o_orderdate").alias("d2"),
    )
    firsts = s1.join(s2, s1.o_custkey == s2.ck2, "left").select(
        "o_custkey", "cohort_yr",
        F.datediff("d2", "d1").alias("latency"),
    )
    wm = Window.partitionBy("cohort_yr").orderBy("latency", "o_custkey")
    wn = Window.partitionBy("cohort_yr")
    med = (
        firsts.where(F.col("latency").isNotNull())
        .select(
            "cohort_yr", "latency",
            F.row_number().over(wm).alias("mrn"),
            F.count("*").over(wn).alias("nrep"),
        )
        .where(F.col("mrn") == F.expr("(nrep + 1) div 2"))
        .select(
            F.col("cohort_yr").alias("mc"),
            F.col("latency").alias("median_latency_days"),
        )
    )
    coh = firsts.groupBy("cohort_yr").agg(
        F.count("*").cast("long").alias("n_cohort"),
        F.count("latency").cast("long").alias("n_repeat"),
    )
    return (
        coh.join(med, coh.cohort_yr == med.mc, "left")
        .select(
            F.col("cohort_yr").cast("long").alias("cohort_yr"),
            "n_cohort", "n_repeat",
            F.expr(
                "CAST(n_repeat * 10000 div n_cohort AS BIGINT)"
            ).alias("repeat_e4"),
            F.col("median_latency_days").cast("long").alias(
                "median_latency_days"
            ),
        )
        .orderBy("cohort_yr")
    )


@query(
    "q_spend_kurtosis",
    oracle="""
    WITH per AS (
        SELECT CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) // 100 AS d
        FROM orders GROUP BY o_custkey
    ),
    mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(d) AS BIGINT) AS s1_int,
               CAST(CAST(sum(CAST(d AS HUGEINT)) AS DOUBLE) AS DOUBLE)
                   AS s1,
               CAST(sum(CAST(d AS HUGEINT) * d) AS DOUBLE) AS s2,
               CAST(sum(CAST(d * d AS HUGEINT) * d) AS DOUBLE) AS s3,
               CAST(sum(CAST(d * d AS HUGEINT) * (d * d)) AS DOUBLE) AS s4
        FROM per
    )
    SELECT n AS n_customers,
           CAST(s1_int // n AS BIGINT) AS mean_dollars,
           CAST(floor(
               (s4 / CAST(n AS DOUBLE)
                - 4.0 * (s1 / CAST(n AS DOUBLE)) * (s3 / CAST(n AS DOUBLE))
                + 6.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
                  * (s2 / CAST(n AS DOUBLE))
                - 3.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
                  * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))
               * 10000.0
               / ((s2 / CAST(n AS DOUBLE)
                   - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))
                  * (s2 / CAST(n AS DOUBLE)
                     - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))))
           ) AS BIGINT) AS kurt_e4,
           round((s3 / CAST(n AS DOUBLE)
                  - 3.0 * (s1 / CAST(n AS DOUBLE)) * (s2 / CAST(n AS DOUBLE))
                  + 2.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
                    * (s1 / CAST(n AS DOUBLE)))
                 / ((s2 / CAST(n AS DOUBLE)
                     - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))
                    * sqrt(s2 / CAST(n AS DOUBLE)
                           - (s1 / CAST(n AS DOUBLE))
                             * (s1 / CAST(n AS DOUBLE)))), 4) + 0.0
               AS skew_r4
    FROM mom
    """,
)
def q_spend_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and kurtosis of per-customer lifetime spend — the
    two-number answer to 'how whale-heavy is this base?' (kurtosis
    near 3e4 is Gaussian-bodied; far above means revenue concentration
    risk that a mean/stddev summary hides; q_order_value_gini reads
    inequality, this reads TAIL WEIGHT). Spend is exact integer
    DOLLARS (cents//100 — keeps d⁴ sums inside 38 digits through
    sf100); all four raw moments accumulate on DECIMAL(38,0)/HUGEINT
    (the q_graph_assortativity overflow rule) with one decimal→double
    conversion, then an identically-sequenced double formula on both
    engines: kurtosis as floor-e4 (the safe floor(x·1e4) class), skew
    in the allowed round4 sqrt class, -0.0-normalized."""
    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.expr(
            "CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))"
            " AS BIGINT) div 100"
        ).alias("d")
    )
    d = F.col("d")
    mom = per.select(d, (d * d).alias("dd")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("d").cast("long").alias("s1_int"),
        F.sum(d.cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum(d.cast("decimal(38,0)") * d).cast("double").alias("s2"),
        F.sum(F.col("dd").cast("decimal(38,0)") * d)
        .cast("double")
        .alias("s3"),
        F.sum(F.col("dd").cast("decimal(38,0)") * F.col("dd"))
        .cast("double")
        .alias("s4"),
    )
    nd = F.col("n").cast("double")
    mu = F.col("s1") / nd
    m2 = F.col("s2") / nd - mu * mu
    m3 = F.col("s3") / nd - F.lit(3.0) * mu * (F.col("s2") / nd) + F.lit(
        2.0
    ) * mu * mu * mu
    m4 = (
        F.col("s4") / nd
        - F.lit(4.0) * mu * (F.col("s3") / nd)
        + F.lit(6.0) * mu * mu * (F.col("s2") / nd)
        - F.lit(3.0) * mu * mu * mu * mu
    )
    return mom.select(
        F.col("n").alias("n_customers"),
        F.expr("CAST(s1_int div n AS BIGINT)").alias("mean_dollars"),
        F.floor(m4 * 10000.0 / (m2 * m2)).cast("long").alias("kurt_e4"),
        (F.round(m3 / (m2 * F.sqrt(m2)), 4) + F.lit(0.0)).alias("skew_r4"),
    )
