"""Round-12 registered surface — 50 oracle-backed analytics queries,
hash-proven through the driver-gate harness at sf0.01 AND the sf0.1 sweep env
before registration.

Tranche themes — decision seams the first 535 queries leave open:

- **Point-process structure** (q_interarrival_hazard, q_gap_entropy):
  the discrete hazard and bucket-entropy of inter-event gaps — the
  memorylessness check behind every arrival-rate capacity model.
- **Behavioral co-occurrence** (q_type_cooccurrence): user-level lift
  and Jaccard between event types — which behaviors travel together.
- **Series shape** (q_drawdown, q_wow_volatility): worst running loss
  of the daily series, and week-over-week movement magnitudes — the
  traffic-health counterpart of the finance drawdown report.

Determinism discipline: identical to the r9/r10/r11 staging — exact
integer counts and e4/bp floors via nonneg integer division (abs +
CASE re-sign for anything that can cross zero, the CLAUDE.md
q_header_detail_recon rule), round(,4) only on the allowed
log/sqrt/corr class, nullif/CASE guards on data-dependent
denominators, packed nonneg-integer argmax instead of struct argmin
(the q_kmeans_step rule).

Plan-lint status: no cartesian products, no Python crossings; the
BroadcastNestedLoopJoin hits are all allowlisted broadcast
scalar/grid legs carried verbatim into
tests/test_plan_lint.py::NLJ_OK — q_type_cooccurrence (1-row
distinct-user-total leg), q_mood_median (1-row grand-median leg),
q_benford_second (1-row digit-total leg + 10-row digit grid).
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
# Tranche 1 — point-process / series-shape event science.
# ---------------------------------------------------------------------------


@query(
    "q_interarrival_hazard",
    oracle="""
    WITH gaps AS (
        SELECT event_type,
               (epoch_us(ts) - lag(epoch_us(ts)) OVER (
                    PARTITION BY event_type ORDER BY ts, event_id))
                   // 1000000 AS gap_s
        FROM events
    ),
    bucketed AS (
        SELECT event_type,
               least(gap_s // 600, CAST(12 AS BIGINT)) AS bucket,
               CAST(count(*) AS BIGINT) AS n_gaps
        FROM gaps
        WHERE gap_s IS NOT NULL
        GROUP BY event_type, least(gap_s // 600, CAST(12 AS BIGINT))
    )
    SELECT event_type, bucket, n_gaps,
           CAST(sum(n_gaps) OVER (
                PARTITION BY event_type ORDER BY bucket DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_at_risk,
           CAST(n_gaps * 10000 // sum(n_gaps) OVER (
                PARTITION BY event_type ORDER BY bucket DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS hazard_e4
    FROM bucketed
    ORDER BY event_type, bucket
    """,
)
def q_interarrival_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete hazard of inter-event gaps per event type: bucket the
    per-type inter-arrival gaps into 10-minute cells (capped at 2 h),
    then hazard(b) = P(gap in b | gap ≥ b) = n_b / Σ_{b'≥b} n_b' — a
    flat hazard is the memoryless (Poisson) signature, a rising one
    means overdue events get MORE likely (queue flush), a falling one
    means bursts. This is the arrival-model check behind every
    capacity plan built on the events stream. Exact integers
    throughout: whole-second gaps by integer µs division, e4 hazard by
    nonneg integer division; the at-risk denominator is a reverse
    cumulative window, never a self-join."""
    ev = load_table(spark, sf_dir, "events")
    gaps = ev.select(
        "event_type",
        F.expr(
            "(unix_micros(ts) - lag(unix_micros(ts)) OVER ("
            "PARTITION BY event_type ORDER BY ts, event_id))"
            " div 1000000"
        ).alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    bucketed = (
        gaps.select(
            "event_type",
            F.least(F.expr("gap_s div 600"), F.lit(12).cast("long")).alias(
                "bucket"
            ),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count("*").cast("long").alias("n_gaps"))
    )
    rev = (
        Window.partitionBy("event_type")
        .orderBy(F.col("bucket").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return bucketed.select(
        "event_type",
        "bucket",
        "n_gaps",
        F.sum("n_gaps").over(rev).cast("long").alias("n_at_risk"),
        F.expr(
            "CAST(n_gaps * 10000 div (sum(n_gaps) OVER ("
            "PARTITION BY event_type ORDER BY bucket DESC"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"
            " AS BIGINT)"
        ).alias("hazard_e4"),
    ).orderBy("event_type", "bucket")


@query(
    "q_type_cooccurrence",
    oracle="""
    WITH ut AS (
        SELECT DISTINCT user_id, event_type FROM events
    ),
    tc AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
        FROM ut GROUP BY event_type
    ),
    tot AS (
        SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_total
        FROM events
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_both
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT p.type_a, p.type_b, p.n_both,
           CAST(p.n_both * t.n_total * 10000
                // (ca.n_users * cb.n_users) AS BIGINT) AS lift_e4,
           CAST(p.n_both * 10000
                // (ca.n_users + cb.n_users - p.n_both) AS BIGINT)
               AS jaccard_e4
    FROM pairs p
    JOIN tc ca ON ca.event_type = p.type_a
    JOIN tc cb ON cb.event_type = p.type_b
    CROSS JOIN tot t
    ORDER BY p.type_a, p.type_b
    """,
)
def q_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-level co-occurrence of event types: for every unordered
    type pair, the number of users exhibiting both, the lift
    n_both·N/(n_a·n_b) and the Jaccard overlap — which behaviors
    travel together (do purchasers also hit errors?). The pair
    candidate set is the self-join of the DISTINCT (user, type)
    projection — at most |types| rows per user, so the join is
    |users|·k², never |events|²; per-type totals and the one-row
    user-count leg are tiny aggregate legs (the latter a documented
    broadcast scalar). Exact integer lift/Jaccard in e4 by nonneg
    integer division."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    tc = ut.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_users")
    )
    tot = ev.agg(
        F.countDistinct("user_id").cast("long").alias("n_total")
    )
    a = ut.alias("a")
    b = ut.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    return (
        pairs.join(
            tc.select(
                F.col("event_type").alias("type_a"),
                F.col("n_users").alias("na"),
            ),
            "type_a",
        )
        .join(
            tc.select(
                F.col("event_type").alias("type_b"),
                F.col("n_users").alias("nb"),
            ),
            "type_b",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.expr(
                "CAST(n_both * n_total * 10000 div (na * nb) AS BIGINT)"
            ).alias("lift_e4"),
            F.expr(
                "CAST(n_both * 10000 div (na + nb - n_both) AS BIGINT)"
            ).alias("jaccard_e4"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "q_drawdown",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               epoch_us(CAST(date_trunc('day', ts) AS TIMESTAMP))
                   // 86400000000 AS epoch_day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events
        GROUP BY event_type, date_trunc('day', ts)
    ),
    dd AS (
        SELECT event_type, epoch_day, cnt,
               max(cnt) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - cnt AS drawdown
        FROM daily
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(max(cnt) AS BIGINT) AS max_daily,
           CAST(min(cnt) AS BIGINT) AS min_daily,
           CAST(max(drawdown * 10000000 + (9999999 - epoch_day))
                // 10000000 AS BIGINT) AS max_drawdown,
           CAST(9999999 - (max(drawdown * 10000000
                                + (9999999 - epoch_day)) % 10000000)
               AS BIGINT) AS trough_epoch_day
    FROM dd
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the daily event-count series per type: the
    deepest drop from a running peak, and the (earliest) day it
    bottomed — the traffic-health counterpart of the finance drawdown
    report (a big drawdown on 'purchase' is an incident; on 'error'
    it's a fix). Running peak is a cumulative window (no self-join);
    the argmax day rides the packed nonneg-integer key
    drawdown·10⁷ + (10⁷−1−epoch_day) — maximizing it maximizes
    drawdown then breaks ties toward the EARLIEST day, and both packed
    terms are nonneg with epoch_day < 10⁷, so unpacking by integer
    div/mod is exact on both engines (the q_kmeans_step packing rule;
    drawdown ≤ max daily count keeps the product far below 2⁶³)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))
    daily = daily.withColumn(
        "epoch_day", F.expr("unix_micros(day) div 86400000000")
    )
    cum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = daily.withColumn(
        "drawdown", F.max("cnt").over(cum) - F.col("cnt")
    )
    return (
        dd.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.max("cnt").cast("long").alias("max_daily"),
            F.min("cnt").cast("long").alias("min_daily"),
            F.expr(
                "CAST(max(drawdown * 10000000 + (9999999 - epoch_day))"
                " div 10000000 AS BIGINT)"
            ).alias("max_drawdown"),
            F.expr(
                "CAST(9999999 - (max(drawdown * 10000000"
                " + (9999999 - epoch_day)) % 10000000) AS BIGINT)"
            ).alias("trough_epoch_day"),
        )
        .orderBy("event_type")
    )


@query(
    "q_gap_entropy",
    oracle="""
    WITH gaps AS (
        SELECT event_type,
               (epoch_us(ts) - lag(epoch_us(ts)) OVER (
                    PARTITION BY event_type ORDER BY ts, event_id))
                   // 1000000 AS gap_s
        FROM events
    ),
    bucketed AS (
        SELECT event_type,
               least(gap_s // 600, CAST(12 AS BIGINT)) AS bucket,
               CAST(count(*) AS BIGINT) AS n
        FROM gaps
        WHERE gap_s IS NOT NULL
        GROUP BY event_type, least(gap_s // 600, CAST(12 AS BIGINT))
    ),
    withp AS (
        SELECT event_type, n,
               CAST(n AS DOUBLE) / CAST(sum(n) OVER (
                   PARTITION BY event_type) AS DOUBLE) AS p
        FROM bucketed
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(n) AS BIGINT) AS n_gaps,
           round(-sum(p * ln(p)) + 0.0, 4) AS entropy_nats
    FROM withp
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_gap_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of the inter-arrival gap-bucket
    distribution per event type — the one-number spread summary of the
    hazard table (q_interarrival_hazard): max-entropy means gaps are
    uniform over the 10-minute cells, near-zero means one dominant
    rhythm. ln() is the allowed round(,4) class (CLAUDE.md); the
    bucket mass p enters as one int64→double divide, identical in both
    engines, and the `+ 0.0` normalizes a potential -0.0 when a type
    has a single bucket (the CLAUDE.md negative-zero rule)."""
    ev = load_table(spark, sf_dir, "events")
    gaps = ev.select(
        "event_type",
        F.expr(
            "(unix_micros(ts) - lag(unix_micros(ts)) OVER ("
            "PARTITION BY event_type ORDER BY ts, event_id))"
            " div 1000000"
        ).alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    bucketed = (
        gaps.select(
            "event_type",
            F.least(F.expr("gap_s div 600"), F.lit(12).cast("long")).alias(
                "bucket"
            ),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = Window.partitionBy("event_type")
    p = F.col("n").cast("double") / F.sum("n").over(tot).cast("double")
    bucketed = bucketed.withColumn("plnp", p * F.log(p))
    return (
        bucketed.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.sum("n").cast("long").alias("n_gaps"),
            F.round(-F.sum("plnp") + F.lit(0.0), 4).alias("entropy_nats"),
        )
        .orderBy("event_type")
    )


@query(
    "q_wow_volatility",
    oracle="""
    WITH weekly AS (
        SELECT event_type,
               CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events
        GROUP BY event_type, date_trunc('week', ts)
    ),
    changes AS (
        SELECT event_type, cnt,
               lag(cnt) OVER (
                   PARTITION BY event_type ORDER BY week) AS prev
        FROM weekly
    ),
    signed AS (
        SELECT event_type,
               abs(cnt - prev) * 10000 // prev AS mag_bp,
               CASE WHEN cnt >= prev
                    THEN abs(cnt - prev) * 10000 // prev
                    ELSE -(abs(cnt - prev) * 10000 // prev)
               END AS change_bp
        FROM changes
        WHERE prev IS NOT NULL AND prev > 0
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_changes,
           CAST(max(mag_bp) AS BIGINT) AS max_abs_wow_bp,
           CAST(sum(mag_bp) // count(*) AS BIGINT) AS mean_abs_wow_bp,
           CAST(sum(change_bp) AS BIGINT) AS net_wow_bp
    FROM signed
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_wow_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week movement of the weekly event-count series per
    type: largest and mean absolute WoW change plus the signed net, in
    basis points of the prior week — the volatility line of a traffic
    report (a healthy stream moves tens of bp; hundreds is a launch or
    an outage). The WoW change can cross zero, so the bp floor runs on
    the ABSOLUTE delta and the sign is re-applied by CASE — never
    integer-divide a negative numerator (DuckDB floors, Spark
    truncates; the CLAUDE.md q_header_detail_recon rule). Weeks are
    date_trunc('week') Mondays, identical in both engines."""
    ev = load_table(spark, sf_dir, "events")
    weekly = ev.groupBy(
        "event_type", F.date_trunc("week", "ts").alias("week")
    ).agg(F.count("*").cast("long").alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("week")
    changes = weekly.withColumn("prev", F.lag("cnt").over(w)).where(
        F.col("prev").isNotNull() & (F.col("prev") > 0)
    )
    signed = changes.select(
        "event_type",
        F.expr("abs(cnt - prev) * 10000 div prev").alias("mag_bp"),
        F.expr(
            "CASE WHEN cnt >= prev THEN abs(cnt - prev) * 10000 div prev"
            " ELSE -(abs(cnt - prev) * 10000 div prev) END"
        ).alias("change_bp"),
    )
    return (
        signed.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_changes"),
            F.max("mag_bp").cast("long").alias("max_abs_wow_bp"),
            F.expr(
                "CAST(sum(mag_bp) div count(*) AS BIGINT)"
            ).alias("mean_abs_wow_bp"),
            F.sum("change_bp").cast("long").alias("net_wow_bp"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Tranche 2 — per-user behavioral structure.
# ---------------------------------------------------------------------------


@query(
    "q_session_depth",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id,
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
        SELECT user_id,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_seq
        FROM ordered
    ),
    depths AS (
        SELECT user_id, session_seq,
               CAST(count(*) AS BIGINT) AS depth
        FROM sessions
        GROUP BY user_id, session_seq
    ),
    bucketed AS (
        SELECT least(depth, CAST(20 AS BIGINT)) AS depth_bucket,
               CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(sum(depth) AS BIGINT) AS n_events
        FROM depths
        GROUP BY least(depth, CAST(20 AS BIGINT))
    )
    SELECT depth_bucket, n_sessions, n_events,
           CAST(n_sessions * 10000 // sum(n_sessions) OVER ()
               AS BIGINT) AS share_bp
    FROM bucketed
    ORDER BY depth_bucket
    """,
)
def q_session_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-depth histogram: sessionize each user's stream at a
    30-minute inactivity gap (the q_evt_sessionize convention), count
    events per session, and report the distribution of session depths
    (capped at 20+) with each bucket's share of all sessions — the
    engagement-shape number behind bounce-rate and prefetch sizing.
    Pure keyed windows (lag + running sum per user, both explicitly
    ordered by (ts, event_id) on both engines) — sessionization never
    leaves the user partition, so the plan scales with even user skew;
    exact integer shares in bp."""
    ev = load_table(spark, sf_dir, "events")
    lag_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id", "ts", "event_id",
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
        "user_id", F.sum("new_session").over(cum).alias("session_seq")
    )
    depths = sessions.groupBy("user_id", "session_seq").agg(
        F.count("*").cast("long").alias("depth")
    )
    bucketed = (
        depths.select(
            F.least(F.col("depth"), F.lit(20).cast("long")).alias(
                "depth_bucket"
            ),
            "depth",
        )
        .groupBy("depth_bucket")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum("depth").cast("long").alias("n_events"),
        )
    )
    return bucketed.select(
        "depth_bucket",
        "n_sessions",
        "n_events",
        F.expr(
            "CAST(n_sessions * 10000 div (sum(n_sessions) OVER ())"
            " AS BIGINT)"
        ).alias("share_bp"),
    ).orderBy("depth_bucket")


@query(
    "q_alternation_rate",
    oracle="""
    WITH trans AS (
        SELECT user_id,
               CASE WHEN event_type <> lag(event_type) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                    THEN 1 ELSE 0 END AS switched,
               CASE WHEN lag(event_type) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                        IS NULL
                    THEN 0 ELSE 1 END AS is_transition
        FROM events
    ),
    per_user AS (
        SELECT user_id,
               CAST(sum(switched) AS BIGINT) AS n_switch,
               CAST(sum(is_transition) AS BIGINT) AS n_trans
        FROM trans
        GROUP BY user_id
        HAVING sum(is_transition) > 0
    ),
    rated AS (
        SELECT least(n_switch * 10000 // n_trans // 1000,
                     CAST(9 AS BIGINT)) AS switch_decile,
               n_switch, n_trans
        FROM per_user
    )
    SELECT switch_decile,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n_switch) * 10000 // sum(n_trans) AS BIGINT)
               AS pooled_switch_bp
    FROM rated
    GROUP BY switch_decile
    ORDER BY switch_decile
    """,
)
def q_alternation_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-switching propensity: per user, the share of consecutive
    event pairs that CHANGE event type; users bucketed into deciles of
    that switch rate, with each decile's pooled rate — separates
    mono-task sessions (low deciles: view-view-view) from scattershot
    behavior, the segmentation input for session-based recommenders.
    Keyed lag windows only; exact bp via nonneg integer division (the
    decile is a second integer division of the bp — floor-of-floor is
    exact on both engines for nonneg operands)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = ev.select(
        "user_id",
        F.when(
            F.col("event_type") != F.lag("event_type").over(w), 1
        )
        .otherwise(0)
        .alias("switched"),
        F.when(F.lag("event_type").over(w).isNull(), 0)
        .otherwise(1)
        .alias("is_transition"),
    )
    per_user = (
        trans.groupBy("user_id")
        .agg(
            F.sum("switched").cast("long").alias("n_switch"),
            F.sum("is_transition").cast("long").alias("n_trans"),
        )
        .where(F.col("n_trans") > 0)
    )
    rated = per_user.select(
        F.least(
            F.expr("n_switch * 10000 div n_trans div 1000"),
            F.lit(9).cast("long"),
        ).alias("switch_decile"),
        "n_switch",
        "n_trans",
    )
    return (
        rated.groupBy("switch_decile")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.expr(
                "CAST(sum(n_switch) * 10000 div sum(n_trans) AS BIGINT)"
            ).alias("pooled_switch_bp"),
        )
        .orderBy("switch_decile")
    )


@query(
    "q_monotone_runs",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events
        GROUP BY event_type, date_trunc('day', ts)
    ),
    flagged AS (
        SELECT event_type, day,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY day) AS rn,
               CASE WHEN cnt > lag(cnt) OVER (
                        PARTITION BY event_type ORDER BY day)
                    THEN 1 ELSE 0 END AS up,
               CASE WHEN cnt < lag(cnt) OVER (
                        PARTITION BY event_type ORDER BY day)
                    THEN 1 ELSE 0 END AS down
        FROM daily
    ),
    runs AS (
        SELECT event_type, up, down,
               rn - sum(up) OVER (
                   PARTITION BY event_type ORDER BY rn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS up_grp,
               rn - sum(down) OVER (
                   PARTITION BY event_type ORDER BY rn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS down_grp
        FROM flagged
    ),
    up_runs AS (
        SELECT event_type, CAST(sum(up) AS BIGINT) AS run_len
        FROM runs GROUP BY event_type, up_grp
    ),
    down_runs AS (
        SELECT event_type, CAST(sum(down) AS BIGINT) AS run_len
        FROM runs GROUP BY event_type, down_grp
    )
    SELECT u.event_type,
           CAST(max(u.run_len) AS BIGINT) AS longest_up_steps,
           CAST((SELECT max(d.run_len) FROM down_runs d
                 WHERE d.event_type = u.event_type) AS BIGINT)
               AS longest_down_steps
    FROM up_runs u
    GROUP BY u.event_type
    ORDER BY u.event_type
    """,
)
def q_monotone_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest strictly-monotone stretch of the daily event-count
    series per type, in consecutive up-steps and down-steps — the
    trend-persistence summary (a 6-day up-run on 'error' is an
    escalating incident; random series rarely exceed 3-4). Classic
    gaps-and-islands: an up-run is a maximal block of consecutive
    up-flags, found by the rn − cumsum(flag) island key — a flag
    BREAKS the island key's advance exactly when the streak continues,
    so each island groups one streak; windows stay keyed per type."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("day")
    flagged = daily.select(
        "event_type",
        F.row_number().over(w).alias("rn"),
        F.when(F.col("cnt") > F.lag("cnt").over(w), 1)
        .otherwise(0)
        .alias("up"),
        F.when(F.col("cnt") < F.lag("cnt").over(w), 1)
        .otherwise(0)
        .alias("down"),
    )
    cum = (
        Window.partitionBy("event_type")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = flagged.select(
        "event_type",
        "up",
        "down",
        (F.col("rn") - F.sum("up").over(cum)).alias("up_grp"),
        (F.col("rn") - F.sum("down").over(cum)).alias("down_grp"),
    )
    up_best = (
        runs.groupBy("event_type", "up_grp")
        .agg(F.sum("up").cast("long").alias("run_len"))
        .groupBy("event_type")
        .agg(F.max("run_len").cast("long").alias("longest_up_steps"))
    )
    down_best = (
        runs.groupBy("event_type", "down_grp")
        .agg(F.sum("down").cast("long").alias("run_len"))
        .groupBy("event_type")
        .agg(F.max("run_len").cast("long").alias("longest_down_steps"))
    )
    return up_best.join(down_best, "event_type").orderBy("event_type")


@query(
    "q_user_hour_hhi",
    oracle="""
    WITH per_hour AS (
        SELECT user_id, extract(hour FROM ts) AS hr,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        GROUP BY user_id, extract(hour FROM ts)
    ),
    per_user AS (
        SELECT user_id,
               CAST(sum(n * n) * 10000 // (sum(n) * sum(n)) AS BIGINT)
                   AS hhi_e4,
               CAST(count(*) AS BIGINT) AS n_active_hours
        FROM per_hour
        GROUP BY user_id
    )
    SELECT least(hhi_e4 // 1000, CAST(9 AS BIGINT)) AS hhi_band,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(hhi_e4) // count(*) AS BIGINT) AS mean_hhi_e4,
           CAST(sum(n_active_hours) // count(*) AS BIGINT)
               AS mean_active_hours
    FROM per_user
    GROUP BY least(hhi_e4 // 1000, CAST(9 AS BIGINT))
    ORDER BY hhi_band
    """,
)
def q_user_hour_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day concentration per user, as a Herfindahl index over
    the user's 24-hour activity mix, banded — humans concentrate in a
    few waking hours (high HHI), round-the-clock uniform activity
    (HHI → 1/24) is the bot signature this audit flags, complementing
    q_bot_score's gap-regularity lens. HHI is exact integer
    arithmetic: Σn_h²·10⁴ // (Σn_h)² — per-user event counts keep
    Σn²·10⁴ far inside int64 at any SF (the numerator is quadratic in
    a SINGLE user's volume, not the corpus's)."""
    ev = load_table(spark, sf_dir, "events")
    per_hour = ev.groupBy(
        "user_id", F.hour("ts").alias("hr")
    ).agg(F.count("*").cast("long").alias("n"))
    per_user = per_hour.groupBy("user_id").agg(
        F.expr(
            "CAST(sum(n * n) * 10000 div (sum(n) * sum(n)) AS BIGINT)"
        ).alias("hhi_e4"),
        F.count("*").cast("long").alias("n_active_hours"),
    )
    return (
        per_user.groupBy(
            F.least(
                F.expr("hhi_e4 div 1000"), F.lit(9).cast("long")
            ).alias("hhi_band")
        )
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.expr(
                "CAST(sum(hhi_e4) div count(*) AS BIGINT)"
            ).alias("mean_hhi_e4"),
            F.expr(
                "CAST(sum(n_active_hours) div count(*) AS BIGINT)"
            ).alias("mean_active_hours"),
        )
        .orderBy("hhi_band")
    )


@query(
    "q_gap_dominance",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               (epoch_us(ts) - lag(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id))
                   // 1000000 AS gap_s
        FROM events
    ),
    ranked AS (
        SELECT user_id, gap_s,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY gap_s DESC) AS rk
        FROM gaps
        WHERE gap_s IS NOT NULL
    ),
    top2 AS (
        SELECT user_id,
               max(CASE WHEN rk = 1 THEN gap_s END) AS g1,
               max(CASE WHEN rk = 2 THEN gap_s END) AS g2
        FROM ranked
        WHERE rk <= 2
        GROUP BY user_id
        HAVING max(CASE WHEN rk = 2 THEN gap_s END) > 0
    )
    SELECT least(g1 // g2, CAST(10 AS BIGINT)) AS dominance_ratio,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(g1) // count(*) AS BIGINT) AS mean_top_gap_s,
           CAST(sum(g2) // count(*) AS BIGINT) AS mean_second_gap_s
    FROM top2
    GROUP BY least(g1 // g2, CAST(10 AS BIGINT))
    ORDER BY dominance_ratio
    """,
)
def q_gap_dominance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail dominance of each user's inactivity gaps: the ratio of the
    largest to the second-largest gap (capped at 10×), histogrammed —
    a dominance near 1 means routine absences (nightly), a large one
    means a single long dormancy splits the history (the churn-and-
    revival shape q_dormancy_revival counts, seen per-user). Top-2
    selection is a keyed row_number, never a self-join; ratio is
    nonneg integer division (whole seconds), ties broken arbitrarily
    among equal gaps — the VALUES g1 ≥ g2 are order-invariant."""
    ev = load_table(spark, sf_dir, "events")
    gaps = ev.select(
        "user_id",
        F.expr(
            "(unix_micros(ts) - lag(unix_micros(ts)) OVER ("
            "PARTITION BY user_id ORDER BY ts, event_id))"
            " div 1000000"
        ).alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    w = Window.partitionBy("user_id").orderBy(F.col("gap_s").desc())
    ranked = gaps.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= 2
    )
    top2 = (
        ranked.groupBy("user_id")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("gap_s"))).alias("g1"),
            F.max(F.when(F.col("rk") == 2, F.col("gap_s"))).alias("g2"),
        )
        .where(F.col("g2") > 0)
    )
    return (
        top2.groupBy(
            F.least(F.expr("g1 div g2"), F.lit(10).cast("long")).alias(
                "dominance_ratio"
            )
        )
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.expr("CAST(sum(g1) div count(*) AS BIGINT)").alias(
                "mean_top_gap_s"
            ),
            F.expr("CAST(sum(g2) div count(*) AS BIGINT)").alias(
                "mean_second_gap_s"
            ),
        )
        .orderBy("dominance_ratio")
    )


# ---------------------------------------------------------------------------
# Tranche 3 — retail / fulfilment audits on the star schema.
# ---------------------------------------------------------------------------


@query(
    "q_priority_inversion",
    oracle="""
    WITH delays AS (
        SELECT CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP)
                   AS month,
               o.o_orderpriority AS prio,
               datediff('day', o.o_orderdate, l.l_shipdate) AS delay_d
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    med AS (
        SELECT month, prio, median(delay_d) AS med_delay
        FROM delays
        GROUP BY month, prio
    ),
    pairs AS (
        SELECT a.month,
               CASE WHEN a.med_delay > b.med_delay THEN 1 ELSE 0 END
                   AS inverted,
               CASE WHEN a.med_delay > b.med_delay
                    THEN a.med_delay - b.med_delay ELSE 0 END AS gap
        FROM med a JOIN med b
          ON a.month = b.month AND a.prio < b.prio
    )
    SELECT month,
           CAST(sum(inverted) AS BIGINT) AS n_inversions,
           max(gap) + 0.0 AS max_inversion_gap_days
    FROM pairs
    GROUP BY month
    ORDER BY month
    """,
)
def q_priority_inversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority-inversion audit of fulfilment: per month, how many
    urgency-ordered priority pairs have the MORE urgent class shipping
    with a HIGHER median delay — the SLA credibility check (a month
    with 1-URGENT slower than 5-LOW means the priority field isn't
    driving the warehouse). Medians are exact interpolated percentiles
    (integer day counts → .0/.5 doubles, binary-exact on both
    engines); the pair comparison self-joins the per-(month, priority)
    AGGREGATE (≤5 rows per month), never the fact table, so the
    quadratic term is over a 5-element set. The priority labels'
    lexicographic order IS the urgency order ('1-URGENT' < '5-LOW')."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    delays = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.date_trunc("month", "o_orderdate").alias("month"),
        F.col("o_orderpriority").alias("prio"),
        F.datediff("l_shipdate", "o_orderdate").alias("delay_d"),
    )
    med = delays.groupBy("month", "prio").agg(
        F.expr("percentile(delay_d, 0.5)").alias("med_delay")
    )
    a = med.alias("a")
    b = med.alias("b")
    pairs = a.join(
        b,
        (F.col("a.month") == F.col("b.month"))
        & (F.col("a.prio") < F.col("b.prio")),
    ).select(
        F.col("a.month").alias("month"),
        F.when(F.col("a.med_delay") > F.col("b.med_delay"), 1)
        .otherwise(0)
        .alias("inverted"),
        F.when(
            F.col("a.med_delay") > F.col("b.med_delay"),
            F.col("a.med_delay") - F.col("b.med_delay"),
        )
        .otherwise(0.0)
        .alias("gap"),
    )
    return (
        pairs.groupBy("month")
        .agg(
            F.sum("inverted").cast("long").alias("n_inversions"),
            (F.max("gap") + F.lit(0.0)).alias("max_inversion_gap_days"),
        )
        .orderBy("month")
    )


@query(
    "q_balance_sign_mix",
    oracle="""
    WITH c AS (
        SELECT n.n_name,
               CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS cents
        FROM customer c JOIN nation n
          ON n.n_nationkey = c.c_nationkey
    )
    SELECT n_name,
           CAST(sum(CASE WHEN cents < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_neg,
           CAST(sum(CASE WHEN cents >= 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos,
           CAST(sum(CASE WHEN cents < 0 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS neg_share_bp,
           CAST(sum(CASE WHEN cents < 0 THEN -cents ELSE 0 END)
                // nullif(sum(CASE WHEN cents < 0 THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS mean_neg_debt_cents,
           CAST(sum(CASE WHEN cents >= 0 THEN cents ELSE 0 END)
                // nullif(sum(CASE WHEN cents >= 0 THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS mean_pos_bal_cents
    FROM c
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def q_balance_sign_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Credit-exposure mix per nation: how many customers carry a
    NEGATIVE account balance, their share, and the mean debt vs the
    mean positive balance — the receivables-risk split behind
    q_supplier_balance_risk's supplier-side twin. Balances are
    cent-exact doubles; floor(x·100 + 0.5) converts to integer cents
    identically on both engines for BOTH signs (half-up via floor,
    never CAST — DuckDB CAST rounds while Spark truncates), and the
    debt mean runs on the NEGATED nonneg cents so no negative value
    ever meets integer division (the CLAUDE.md sign rule). The nation
    leg is schema-bounded (25 rows) — AQE broadcasts it unhinted."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    cents = c.join(n, n.n_nationkey == c.c_nationkey).select(
        "n_name",
        F.expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
    )
    return (
        cents.groupBy("n_name")
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN cents < 0 THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_neg"),
            F.expr(
                "CAST(sum(CASE WHEN cents >= 0 THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_pos"),
            F.expr(
                "CAST(sum(CASE WHEN cents < 0 THEN 1 ELSE 0 END) * 10000"
                " div count(*) AS BIGINT)"
            ).alias("neg_share_bp"),
            F.expr(
                "CAST(sum(CASE WHEN cents < 0 THEN -cents ELSE 0 END)"
                " div nullif(sum(CASE WHEN cents < 0 THEN 1 ELSE 0 END),"
                " 0) AS BIGINT)"
            ).alias("mean_neg_debt_cents"),
            F.expr(
                "CAST(sum(CASE WHEN cents >= 0 THEN cents ELSE 0 END)"
                " div nullif(sum(CASE WHEN cents >= 0 THEN 1 ELSE 0 END),"
                " 0) AS BIGINT)"
            ).alias("mean_pos_bal_cents"),
        )
        .orderBy("n_name")
    )


@query(
    "q_part_token_price",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(p_name, ' ')) AS token,
               CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
        FROM part
    ),
    agg AS (
        SELECT token,
               CAST(count(*) AS BIGINT) AS n_parts,
               CAST(sum(cents) // count(*) AS BIGINT) AS mean_cents,
               CAST(min(cents) AS BIGINT) AS min_cents,
               CAST(max(cents) AS BIGINT) AS max_cents
        FROM toks
        GROUP BY token
    )
    SELECT token, n_parts, mean_cents, min_cents, max_cents
    FROM agg
    ORDER BY n_parts DESC, token
    LIMIT 20
    """,
)
def q_part_token_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-vocabulary pricing: split part names into tokens
    (color/size adjectives and product nouns), and for the 20 most
    common tokens report part count and the retail-price profile in
    exact cents — does 'red' command a premium over 'blue'? The
    merchandising-taxonomy audit for a name-only catalog. Token
    explode is linear in name length; the top-20 is a
    TakeOrderedAndProject with the token itself as the unique
    tie-break (the CLAUDE.md ties rule)."""
    p = load_table(spark, sf_dir, "part")
    toks = p.select(
        F.explode(F.split("p_name", " ")).alias("token"),
        F.expr("CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
    )
    agg = toks.groupBy("token").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.expr("CAST(sum(cents) div count(*) AS BIGINT)").alias(
            "mean_cents"
        ),
        F.min("cents").cast("long").alias("min_cents"),
        F.max("cents").cast("long").alias("max_cents"),
    )
    return agg.orderBy(F.col("n_parts").desc(), "token").limit(20)


@query(
    "q_multi_supplier_orders",
    oracle="""
    WITH per_pair AS (
        SELECT l_orderkey, l_partkey,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
               CAST(max(floor(l_extendedprice / l_quantity * 100 + 0.5))
                    - min(floor(l_extendedprice / l_quantity * 100
                                + 0.5)) AS BIGINT) AS spread_cents
        FROM lineitem
        GROUP BY l_orderkey, l_partkey
        HAVING count(DISTINCT l_suppkey) >= 2
    )
    SELECT n_supp,
           CAST(count(*) AS BIGINT) AS n_order_parts,
           CAST(sum(spread_cents) // count(*) AS BIGINT)
               AS mean_spread_cents,
           CAST(max(spread_cents) AS BIGINT) AS max_spread_cents
    FROM per_pair
    GROUP BY n_supp
    ORDER BY n_supp
    """,
)
def q_multi_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-sourcing audit: (order, part) pairs filled by MORE than
    one supplier, grouped by supplier count, with the spread between
    the cheapest and dearest implied unit price — paying two suppliers
    different unit prices for the same part on the same order is
    either negotiation headroom or a data defect. Implied unit price
    is ext/qty floored to cents after one IEEE divide (identical on
    both engines — int64→double divide + floor, the q_bot_score
    pattern); the grouping key is the natural lineitem key so the
    aggregation is one shuffle of the fact table, no self-join."""
    li = load_table(spark, sf_dir, "lineitem")
    per_pair = (
        li.groupBy("l_orderkey", "l_partkey")
        .agg(
            F.countDistinct("l_suppkey").cast("long").alias("n_supp"),
            F.expr(
                "CAST(max(floor(l_extendedprice / l_quantity * 100"
                " + 0.5)) - min(floor(l_extendedprice / l_quantity"
                " * 100 + 0.5)) AS BIGINT)"
            ).alias("spread_cents"),
        )
        .where(F.col("n_supp") >= 2)
    )
    return (
        per_pair.groupBy("n_supp")
        .agg(
            F.count("*").cast("long").alias("n_order_parts"),
            F.expr(
                "CAST(sum(spread_cents) div count(*) AS BIGINT)"
            ).alias("mean_spread_cents"),
            F.max("spread_cents").cast("long").alias("max_spread_cents"),
        )
        .orderBy("n_supp")
    )


@query(
    "q_tax_by_value_band",
    oracle="""
    WITH banded AS (
        SELECT o_orderkey,
               least(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                     // 5000000, CAST(9 AS BIGINT)) AS value_band
        FROM orders
    ),
    joined AS (
        SELECT b.value_band, l.l_orderkey,
               CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                   AS ext_cents,
               CAST(floor(l.l_tax * 100 + 0.5) AS BIGINT) AS tax_e2
        FROM banded b JOIN lineitem l ON l.l_orderkey = b.o_orderkey
    )
    SELECT value_band,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(sum(ext_cents * tax_e2) * 100 // sum(ext_cents)
               AS BIGINT) AS eff_tax_e4
    FROM joined
    GROUP BY value_band
    ORDER BY value_band
    """,
)
def q_tax_by_value_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective tax incidence by order-value band ($50k cent-bands,
    capped at 9): the value-weighted tax rate a band's lineitems
    actually paid — flat bands mean tax is orthogonal to order size,
    a slope is (synthetic) progressivity. ALL arithmetic is integer:
    cents and tax-percent enter as half-up-floored int64, the weighted
    numerator Σ(cents·tax_e2) stays exact where a double Σ(price·tax)
    would drift with summation order (the CLAUDE.md heavy-sum rule —
    this is the decimal-sum trap, dodged with integers instead of
    DECIMAL), and the e4 rate is one nonneg integer division. Value
    bands come from the ORDER total so the band assignment needs no
    window — band-by-value scales where an ntile decile would global-
    sort."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    banded = o.select(
        "o_orderkey",
        F.least(
            F.expr(
                "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
                " div 5000000"
            ),
            F.lit(9).cast("long"),
        ).alias("value_band"),
    )
    joined = banded.join(
        li, li.l_orderkey == banded.o_orderkey
    ).select(
        "value_band",
        "l_orderkey",
        F.expr(
            "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
        ).alias("ext_cents"),
        F.expr("CAST(floor(l_tax * 100 + 0.5) AS BIGINT)").alias(
            "tax_e2"
        ),
    )
    return (
        joined.groupBy("value_band")
        .agg(
            F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
            F.expr(
                "CAST(sum(ext_cents * tax_e2) * 100 div sum(ext_cents)"
                " AS BIGINT)"
            ).alias("eff_tax_e4"),
        )
        .orderBy("value_band")
    )


# ---------------------------------------------------------------------------
# Tranche 4 — corpus statistics on the documents table.
# ---------------------------------------------------------------------------


@query(
    "q_hapax_rate",
    oracle="""
    WITH wc AS (
        SELECT source, w, CAST(count(*) AS BIGINT) AS n
        FROM (
            SELECT source,
                   unnest(list_filter(
                       regexp_split_to_array(lower(text), '[^a-z]+'),
                       x -> x <> '')) AS w
            FROM documents
        )
        GROUP BY source, w
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS hapax_share_bp
    FROM wc
    GROUP BY source
    ORDER BY source
    """,
)
def q_hapax_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena rate per source: the share of each source's
    vocabulary that occurs exactly once — high hapax share means
    long-tail vocabulary (OCR noise, IDs, genuine lexical richness)
    and predicts tokenizer OOV pressure; the Zipf-tail companion to
    q_ttr_heaps' type-token curve. One explode → one (source, word)
    aggregation; all integers."""
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(
            "source", F.explode(alpha_words(F.col("text"))).alias("w")
        )
        .groupBy("source", "w")
        .agg(F.count("*").cast("long").alias("n"))
    )
    return (
        wc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("vocab_size"),
            F.sum("n").cast("long").alias("n_tokens"),
            F.expr(
                "CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_hapax"),
            F.expr(
                "CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 10000"
                " div count(*) AS BIGINT)"
            ).alias("hapax_share_bp"),
        )
        .orderBy("source")
    )


@query(
    "q_cramers_v",
    oracle="""
    WITH cells AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS o
        FROM documents
        GROUP BY lang, source
    ),
    tots AS (
        SELECT lang, source, o,
               sum(o) OVER (PARTITION BY lang) AS row_tot,
               sum(o) OVER (PARTITION BY source) AS col_tot,
               sum(o) OVER () AS grand
        FROM cells
    ),
    chi AS (
        SELECT CAST(max(grand) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
               sum((CAST(o AS DOUBLE)
                    - CAST(row_tot * col_tot AS DOUBLE)
                      / CAST(grand AS DOUBLE))
                   * (CAST(o AS DOUBLE)
                      - CAST(row_tot * col_tot AS DOUBLE)
                        / CAST(grand AS DOUBLE))
                   / (CAST(row_tot * col_tot AS DOUBLE)
                      / CAST(grand AS DOUBLE))) AS chi2_obs,
               sum(CAST(row_tot * col_tot AS DOUBLE)
                   / CAST(grand AS DOUBLE)) AS e_obs
        FROM tots
    ),
    full_chi AS (
        SELECT n_docs, n_langs, n_sources,
               chi2_obs + (CAST(n_docs AS DOUBLE) - e_obs) AS chi2
        FROM chi
    )
    SELECT n_docs, n_langs, n_sources,
           round(chi2 + 0.0, 4) AS chi2,
           round(sqrt(chi2 / (CAST(n_docs AS DOUBLE)
                              * CAST(least(n_langs, n_sources) - 1
                                     AS DOUBLE))) + 0.0, 4)
               AS cramers_v
    FROM full_chi
    """,
)
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between language and source — the
    one-number answer to 'is language confounded with source?' that
    decides whether per-source quality stats need language
    stratification (V ≈ 0: orthogonal; V → 1: each source is
    monolingual). A zero cell (a source with no docs in some language
    — 3 of 100 cells at sf0.01) contributes (0−e)²/e = e to χ², and
    the aggregation only SEES observed cells, so the full χ² is
    recovered by the identity χ² = Σ_obs (o−e)²/e + (N − Σ_obs e):
    the expected mass over ALL cells sums to N. Doubles enter only in
    (o−e)²/e with one shared parenthesization; round(,4) is the
    allowed sqrt/ratio class."""
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("o")
    )
    tots = cells.select(
        "lang",
        "source",
        "o",
        F.sum("o").over(Window.partitionBy("lang")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("source")).alias("col_tot"),
        F.sum("o").over(Window.partitionBy()).alias("grand"),
    )
    # one shared expression tree for e (int64 product cast once, one
    # divide) keeps the IEEE op order identical to the oracle's
    e = (F.col("row_tot") * F.col("col_tot")).cast("double") / F.col(
        "grand"
    ).cast("double")
    chi = tots.agg(
        F.max("grand").cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.sum(
            (F.col("o").cast("double") - e)
            * (F.col("o").cast("double") - e)
            / e
        ).alias("chi2_obs"),
        F.sum(e).alias("e_obs"),
    )
    chi = chi.withColumn(
        "chi2_raw",
        F.col("chi2_obs")
        + (F.col("n_docs").cast("double") - F.col("e_obs")),
    )
    return chi.select(
        "n_docs",
        "n_langs",
        "n_sources",
        F.round(F.col("chi2_raw") + F.lit(0.0), 4).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2_raw")
                / (
                    F.col("n_docs").cast("double")
                    * (
                        F.least("n_langs", "n_sources") - F.lit(1)
                    ).cast("double")
                )
            )
            + F.lit(0.0),
            4,
        ).alias("cramers_v"),
    )


@query(
    "q_bits_per_char",
    oracle="""
    WITH bigrams AS (
        SELECT source,
               substr(text, i, 2) AS bg
        FROM (
            SELECT source, text,
                   unnest(generate_series(1,
                       CAST(length(text) AS BIGINT) - 1)) AS i
            FROM documents
            WHERE length(text) >= 2
        )
    ),
    counts AS (
        SELECT source, bg, CAST(count(*) AS BIGINT) AS n_ab
        FROM bigrams
        GROUP BY source, bg
    ),
    withfirst AS (
        SELECT source, n_ab,
               sum(n_ab) OVER (
                   PARTITION BY source, substr(bg, 1, 1)) AS n_a,
               sum(n_ab) OVER (PARTITION BY source) AS n_tot
        FROM counts
    )
    SELECT source,
           CAST(max(n_tot) AS BIGINT) AS n_bigrams,
           CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
           round(-sum((CAST(n_ab AS DOUBLE) / CAST(n_tot AS DOUBLE))
                      * log2(CAST(n_ab AS DOUBLE)
                             / CAST(n_a AS DOUBLE))) + 0.0, 4)
               AS cond_entropy_bits
    FROM withfirst
    GROUP BY source
    ORDER BY source
    """,
)
def q_bits_per_char(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level conditional entropy H(next char | char) per
    source, in bits — the zeroth-order compressibility estimate
    (bits/char under an order-1 model) that ranks sources by
    redundancy before any real compressor runs; the q_char_entropy
    unigram measure upgraded one order. Bigrams are enumerated with a
    per-document index range (guarded to length ≥ 2 — the CLAUDE.md
    sequence/generate_series descent trap), counted exactly; only the
    final p·log₂ enters doubles, round(,4). The bigram-count relation
    is keyed by (source, first char) windows over the AGGREGATED
    count matrix (≤ 27² rows per source), never the raw corpus."""
    d = load_table(spark, sf_dir, "documents")
    bigrams = (
        d.where(F.length("text") >= 2)
        .select(
            "source",
            F.explode(
                F.sequence(
                    F.lit(1).cast("long"),
                    F.length("text").cast("long") - 1,
                )
            ).alias("i"),
            "text",
        )
        .select(
            "source",
            F.expr("substr(text, i, 2)").alias("bg"),
        )
    )
    counts = bigrams.groupBy("source", "bg").agg(
        F.count("*").cast("long").alias("n_ab")
    )
    withfirst = counts.select(
        "source",
        "n_ab",
        F.sum("n_ab")
        .over(Window.partitionBy("source", F.expr("substr(bg, 1, 1)")))
        .alias("n_a"),
        F.sum("n_ab").over(Window.partitionBy("source")).alias("n_tot"),
    )
    plogp = (
        F.col("n_ab").cast("double") / F.col("n_tot").cast("double")
    ) * F.log2(
        F.col("n_ab").cast("double") / F.col("n_a").cast("double")
    )
    return (
        withfirst.groupBy("source")
        .agg(
            F.max("n_tot").cast("long").alias("n_bigrams"),
            F.count("*").cast("long").alias("n_distinct_bigrams"),
            F.round(-F.sum(plogp) + F.lit(0.0), 4).alias(
                "cond_entropy_bits"
            ),
        )
        .orderBy("source")
    )


@query(
    "q_cohens_kappa",
    oracle="""
    WITH rules AS (
        SELECT source,
               CASE WHEN n_chars BETWEEN 150 AND 450
                    THEN 1 ELSE 0 END AS rule_len,
               CASE WHEN length(list_filter(
                        regexp_split_to_array(lower(text), '[^a-z]+'),
                        x -> x IN ('the', 'a', 'and', 'of', 'in')))
                        >= 5
                    THEN 1 ELSE 0 END AS rule_stop
        FROM documents
    ),
    counts AS (
        SELECT source,
               CAST(sum(rule_len * rule_stop) AS BIGINT) AS n11,
               CAST(sum(rule_len * (1 - rule_stop)) AS BIGINT) AS n10,
               CAST(sum((1 - rule_len) * rule_stop) AS BIGINT) AS n01,
               CAST(sum((1 - rule_len) * (1 - rule_stop)) AS BIGINT)
                   AS n00,
               CAST(count(*) AS BIGINT) AS n
        FROM rules
        GROUP BY source
    )
    SELECT source, n11, n10, n01, n00,
           round((
               (CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE))
               - (CAST((n11 + n10) * (n11 + n01)
                       + (n01 + n00) * (n10 + n00) AS DOUBLE)
                  / CAST(n * n AS DOUBLE))
           ) / (
               1.0
               - (CAST((n11 + n10) * (n11 + n01)
                       + (n01 + n00) * (n10 + n00) AS DOUBLE)
                  / CAST(n * n AS DOUBLE))
           ) + 0.0, 4) AS kappa
    FROM counts
    ORDER BY source
    """,
)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's κ agreement between two independent curation rules —
    the length gate (150–450 chars) and a stopword-count gate (≥5
    function words) — per source: κ near 0 means the rules select
    DIFFERENT documents (stack them), κ near 1 means one is redundant.
    The quality-rule portfolio question behind q_gopher_rules. The
    2×2 table is exact integers; κ is three int64→double conversions
    and divides with ONE shared parenthesization on both engines
    (chance agreement pe = (n1·+n·1 + n0·+n·0)/n² folded into a single
    fraction so no engine reassociates), round(,4) with the −0.0
    guard (κ can be negative)."""
    d = load_table(spark, sf_dir, "documents")
    rules = d.select(
        "source",
        F.when(F.col("n_chars").between(150, 450), 1)
        .otherwise(0)
        .alias("rule_len"),
        F.when(
            F.size(
                F.filter(
                    alpha_words(F.col("text")),
                    lambda w: w.isin("the", "a", "and", "of", "in"),
                )
            )
            >= 5,
            1,
        )
        .otherwise(0)
        .alias("rule_stop"),
    )
    counts = rules.groupBy("source").agg(
        F.sum(F.col("rule_len") * F.col("rule_stop"))
        .cast("long")
        .alias("n11"),
        F.sum(F.col("rule_len") * (1 - F.col("rule_stop")))
        .cast("long")
        .alias("n10"),
        F.sum((1 - F.col("rule_len")) * F.col("rule_stop"))
        .cast("long")
        .alias("n01"),
        F.sum((1 - F.col("rule_len")) * (1 - F.col("rule_stop")))
        .cast("long")
        .alias("n00"),
        F.count("*").cast("long").alias("n"),
    )
    po = (F.col("n11") + F.col("n00")).cast("double") / F.col("n").cast(
        "double"
    )
    pe = (
        (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))
    ).cast("double") / (F.col("n") * F.col("n")).cast("double")
    return counts.select(
        "source",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round((po - pe) / (F.lit(1.0) - pe) + F.lit(0.0), 4).alias(
            "kappa"
        ),
    ).orderBy("source")


@query(
    "q_filter_parity",
    oracle="""
    WITH per_lang AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN n_chars BETWEEN 150 AND 450
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        FROM documents
        GROUP BY lang
    ),
    rated AS (
        SELECT lang, n_docs, n_pass,
               CAST(n_pass * 10000 // n_docs AS BIGINT) AS pass_bp,
               CAST(sum(n_pass) OVER () * 10000
                    // sum(n_docs) OVER () AS BIGINT) AS corpus_bp
        FROM per_lang
    )
    SELECT lang, n_docs, n_pass, pass_bp, corpus_bp,
           pass_bp - corpus_bp AS gap_bp
    FROM rated
    ORDER BY lang
    """,
)
def q_filter_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demographic parity of the length filter across languages: each
    language's pass rate vs the corpus pooled rate, and the signed gap
    in bp — a filter tuned on English quietly starves other languages
    (the multilingual-curation fairness check; q_filter_length_bias
    audits WHAT the filter selects, this audits WHO it selects).
    Corpus totals are windows over the per-language AGGREGATE (≤
    #langs rows, no broadcast leg, no second scan); the gap is a
    SUBTRACTION of two already-floored nonneg bp integers, so no
    negative value ever meets integer division."""
    d = load_table(spark, sf_dir, "documents")
    per_lang = d.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr(
            "CAST(sum(CASE WHEN n_chars BETWEEN 150 AND 450 THEN 1"
            " ELSE 0 END) AS BIGINT)"
        ).alias("n_pass"),
    )
    rated = per_lang.select(
        "lang",
        "n_docs",
        "n_pass",
        F.expr("CAST(n_pass * 10000 div n_docs AS BIGINT)").alias(
            "pass_bp"
        ),
        F.expr(
            "CAST(sum(n_pass) OVER () * 10000"
            " div (sum(n_docs) OVER ()) AS BIGINT)"
        ).alias("corpus_bp"),
    )
    return rated.select(
        "lang",
        "n_docs",
        "n_pass",
        "pass_bp",
        "corpus_bp",
        (F.col("pass_bp") - F.col("corpus_bp")).alias("gap_bp"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# Tranche 5 — text-prep geometry for the LLM pipeline.
# ---------------------------------------------------------------------------


@query(
    "q_vocab_gini",
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
                   PARTITION BY lang ORDER BY n, w) AS i
        FROM wc
    ),
    sums AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS v,
               CAST(sum(n) AS BIGINT) AS n_tokens,
               CAST(sum(i * n) AS BIGINT) AS s
        FROM ranked
        GROUP BY lang
    )
    SELECT lang, v AS vocab_size, n_tokens,
           CAST(floor((CAST(2 * s - (v + 1) * n_tokens AS DOUBLE)
                       * 10000.0)
                      / CAST(v * n_tokens AS DOUBLE)) AS BIGINT)
               AS gini_e4
    FROM sums
    ORDER BY lang
    """,
)
def q_vocab_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the word-frequency distribution per
    language — the inequality view of the Zipf curve (q_zipf_slope
    fits the exponent; this integrates it): near 1 means a few words
    carry all the mass (aggressive stopword pruning pays), lower
    means a flat vocabulary. Uses the rank identity
    G = (2·Σ i·nᵢ − (V+1)·N) / (V·N) over frequencies ranked
    ascending (ties broken by word for a deterministic rank; G is
    tie-order invariant). The numerator is nonneg by construction,
    emitted as ONE double multiply-divide-floor (the q_bot_score
    pattern — int64→double conversion and IEEE divide round
    identically on both engines even past 2⁵³, and floor pins the
    result, keeping Σi·n·10⁴ safe from int64 overflow at any SF).
    The rank window runs over the per-language VOCABULARY aggregate
    (Heaps-sublinear in corpus size), not the token stream."""
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
        .over(Window.partitionBy("lang").orderBy("n", "w"))
        .cast("long")
        .alias("i"),
    )
    sums = ranked.groupBy("lang").agg(
        F.count("*").cast("long").alias("v"),
        F.sum("n").cast("long").alias("n_tokens"),
        F.sum(F.col("i") * F.col("n")).cast("long").alias("s"),
    )
    return sums.select(
        "lang",
        F.col("v").alias("vocab_size"),
        "n_tokens",
        F.expr(
            "CAST(floor((CAST(2 * s - (v + 1) * n_tokens AS DOUBLE)"
            " * 10000.0) / CAST(v * n_tokens AS DOUBLE)) AS BIGINT)"
        ).alias("gini_e4"),
    ).orderBy("lang")


@query(
    "q_word_stutter",
    oracle="""
    WITH words AS (
        SELECT doc_id, source,
               list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                           x -> x <> '') AS ws
        FROM documents
    ),
    pairs AS (
        SELECT doc_id, source,
               CAST(len(ws) AS BIGINT) - 1 AS n_pairs,
               CAST(len(list_filter(
                   generate_series(1, CAST(len(ws) AS BIGINT) - 1),
                   i -> ws[i] = ws[i + 1])) AS BIGINT) AS n_stutter
        FROM words
        WHERE len(ws) >= 2
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_pairs) AS BIGINT) AS n_adjacent_pairs,
           CAST(sum(n_stutter) AS BIGINT) AS n_stutters,
           CAST(sum(n_stutter) * 10000 // sum(n_pairs) AS BIGINT)
               AS stutter_bp,
           CAST(sum(CASE WHEN n_stutter > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_docs_affected
    FROM pairs
    GROUP BY source
    ORDER BY source
    """,
)
def q_word_stutter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Immediate word repetition ('the the') per source: the share of
    adjacent word pairs that repeat, and how many documents are
    affected — the cheapest generation/OCR-defect detector there is,
    and a dedup-normalization input (q_text_repetition looks at
    longer periods; this is period-1). Computed ARRAY-SIDE on both
    engines (no explode of the token stream): a lambda over the index
    range compares each word to its successor, with the ≥2-word guard
    the CLAUDE.md sequence rule demands."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "source", alpha_words(F.col("text")).alias("ws")
    ).where(F.size("ws") >= 2)
    pairs = words.select(
        "source",
        (F.size("ws").cast("long") - 1).alias("n_pairs"),
        F.size(
            F.filter(
                F.sequence(
                    F.lit(1).cast("long"),
                    F.size("ws").cast("long") - 1,
                ),
                lambda i: F.element_at("ws", i.cast("int"))
                == F.element_at("ws", (i + 1).cast("int")),
            )
        )
        .cast("long")
        .alias("n_stutter"),
    )
    return (
        pairs.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_pairs").cast("long").alias("n_adjacent_pairs"),
            F.sum("n_stutter").cast("long").alias("n_stutters"),
            F.expr(
                "CAST(sum(n_stutter) * 10000 div sum(n_pairs)"
                " AS BIGINT)"
            ).alias("stutter_bp"),
            F.expr(
                "CAST(sum(CASE WHEN n_stutter > 0 THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_docs_affected"),
        )
        .orderBy("source")
    )


@query(
    "q_word_position_bias",
    oracle="""
    WITH words AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                           x -> x <> '') AS ws
        FROM documents
    ),
    positioned AS (
        SELECT ws[i] AS w,
               (i - 1) * 10000 // (CAST(len(ws) AS BIGINT) - 1)
                   AS pos_e4
        FROM (
            SELECT ws,
                   unnest(generate_series(
                       CAST(1 AS BIGINT),
                       CAST(len(ws) AS BIGINT))) AS i
            FROM words
            WHERE len(ws) >= 2
        )
    )
    SELECT w AS word,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(sum(pos_e4) // count(*) AS BIGINT) AS mean_pos_e4
    FROM positioned
    GROUP BY w
    ORDER BY count(*) DESC, w
    LIMIT 10
    """,
)
def q_word_position_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional bias of the 10 most frequent words: each
    occurrence's position normalized to [0, 10⁴] over its document
    (0 = first word, 10⁴ = last), averaged per word — words that
    systematically open documents (boilerplate headers) or close them
    (signatures) surface as extreme means; uniform content words sit
    near 5000. The normalized position is an exact nonneg integer
    floor per occurrence ((i−1)·10⁴ // (L−1), docs of ≥2 words);
    top-10 is a TakeOrderedAndProject with the word as tie-break."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(alpha_words(F.col("text")).alias("ws")).where(
        F.size("ws") >= 2
    )
    positioned = words.select(
        F.posexplode("ws").alias("i0", "w"),
        F.size("ws").cast("long").alias("len"),
    ).select(
        "w",
        F.expr("CAST(i0 AS BIGINT) * 10000 div (len - 1)").alias(
            "pos_e4"
        ),
    )
    agg = positioned.groupBy("w").agg(
        F.count("*").cast("long").alias("n_occurrences"),
        F.expr("CAST(sum(pos_e4) div count(*) AS BIGINT)").alias(
            "mean_pos_e4"
        ),
    )
    return (
        agg.select(
            F.col("w").alias("word"), "n_occurrences", "mean_pos_e4"
        )
        .orderBy(F.col("n_occurrences").desc(), "word")
        .limit(10)
    )


@query(
    "q_chunk_boundary_loss",
    oracle="""
    WITH cuts AS (
        SELECT source,
               CAST((length(text) - 1) // 200 AS BIGINT) AS n_cuts,
               CAST(len(list_filter(
                   generate_series(CAST(1 AS BIGINT),
                       CAST((length(text) - 1) // 200 AS BIGINT)),
                   i -> substr(text, CAST(i * 200 AS INTEGER), 1) <> ' '
                    AND substr(text, CAST(i * 200 + 1 AS INTEGER), 1)
                        <> ' ')) AS BIGINT) AS n_midword
        FROM documents
        WHERE length(text) > 200
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_cuts) AS BIGINT) AS n_cuts,
           CAST(sum(n_midword) AS BIGINT) AS n_midword,
           CAST(sum(n_midword) * 10000 // sum(n_cuts) AS BIGINT)
               AS midword_bp
    FROM cuts
    GROUP BY source
    ORDER BY source
    """,
)
def q_chunk_boundary_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-boundary damage estimate for a fixed 200-char splitter:
    the share of cut points that fall MID-WORD (both characters
    around the cut are non-space) per source — the concrete cost of
    naive fixed-size chunking that the token-aware chunker
    (operators/chunker.py, reference mapreduce.go's splitter) exists
    to avoid; run BEFORE choosing a chunk size. Cut inspection is an
    array lambda over the per-doc cut indices (≤ len/200 of them),
    exact integer counts, docs longer than one chunk only."""
    d = load_table(spark, sf_dir, "documents")
    cuts = d.where(F.length("text") > 200).select(
        "source",
        F.expr("CAST((length(text) - 1) div 200 AS BIGINT)").alias(
            "n_cuts"
        ),
        F.size(
            F.filter(
                F.sequence(
                    F.lit(1).cast("long"),
                    F.expr("CAST((length(text) - 1) div 200 AS BIGINT)"),
                ),
                lambda i: (
                    F.expr("text").substr(
                        (i * 200).cast("int"), F.lit(1)
                    )
                    != " "
                )
                & (
                    F.expr("text").substr(
                        (i * 200 + 1).cast("int"), F.lit(1)
                    )
                    != " "
                ),
            )
        )
        .cast("long")
        .alias("n_midword"),
    )
    return (
        cuts.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_cuts").cast("long").alias("n_cuts"),
            F.sum("n_midword").cast("long").alias("n_midword"),
            F.expr(
                "CAST(sum(n_midword) * 10000 div sum(n_cuts)"
                " AS BIGINT)"
            ).alias("midword_bp"),
        )
        .orderBy("source")
    )


@query(
    "q_context_fit",
    oracle="""
    WITH counted AS (
        SELECT source,
               CAST(len(list_filter(
                   regexp_split_to_array(lower(text), '[^a-z]+'),
                   x -> x <> '')) AS BIGINT) AS n_words
        FROM documents
    ),
    expanded AS (
        SELECT source, n_words,
               unnest([CAST(16 AS BIGINT), CAST(32 AS BIGINT),
                       CAST(64 AS BIGINT), CAST(128 AS BIGINT)])
                   AS budget
        FROM counted
    )
    SELECT source, budget,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_words <= budget THEN 1 ELSE 0 END)
               AS BIGINT) AS n_fit,
           CAST(sum(CASE WHEN n_words <= budget THEN 1 ELSE 0 END)
                * 10000 // count(*) AS BIGINT) AS fit_bp
    FROM expanded
    GROUP BY source, budget
    ORDER BY source, budget
    """,
)
def q_context_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window fit curve: per source, the share of documents
    whose word count fits whole into each of four context budgets
    (16/32/64/128 words) — the no-chunking-needed fraction that
    decides whether a pipeline pays for the splitter at all (the
    planning twin of q_chunk_assign's actual assignment). The budget
    grid rides an EXPLODE of a 4-element literal array per document
    row — a column, not a join, so no broadcast leg and no NLJ —
    then one aggregation; all integers."""
    d = load_table(spark, sf_dir, "documents")
    counted = d.select(
        "source",
        F.size(alpha_words(F.col("text"))).cast("long").alias("n_words"),
    )
    expanded = counted.select(
        "source",
        "n_words",
        F.explode(
            F.array(
                F.lit(16).cast("long"),
                F.lit(32).cast("long"),
                F.lit(64).cast("long"),
                F.lit(128).cast("long"),
            )
        ).alias("budget"),
    )
    return (
        expanded.groupBy("source", "budget")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.expr(
                "CAST(sum(CASE WHEN n_words <= budget THEN 1 ELSE 0"
                " END) AS BIGINT)"
            ).alias("n_fit"),
            F.expr(
                "CAST(sum(CASE WHEN n_words <= budget THEN 1 ELSE 0"
                " END) * 10000 div count(*) AS BIGINT)"
            ).alias("fit_bp"),
        )
        .orderBy("source", "budget")
    )


# ---------------------------------------------------------------------------
# Tranche 6 — nonparametric statistics over series and facts.
# ---------------------------------------------------------------------------


@query(
    "q_mood_median",
    oracle="""
    WITH med AS (
        SELECT median(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS grand_med
        FROM orders
    ),
    seg AS (
        SELECT c.c_mktsegment AS segment,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN CAST(floor(o.o_totalprice * 100
                                            + 0.5) AS BIGINT)
                                  > m.grand_med
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_above
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        CROSS JOIN med m
        GROUP BY c.c_mktsegment
    ),
    tot AS (
        SELECT segment, n, n_above,
               sum(n) OVER () AS grand_n,
               sum(n_above) OVER () AS grand_above
        FROM seg
    )
    SELECT segment, n, n_above,
           CAST(n_above * 10000 // n AS BIGINT) AS above_bp,
           round(
               (CAST(n_above AS DOUBLE)
                - CAST(n * grand_above AS DOUBLE)
                  / CAST(grand_n AS DOUBLE))
               * (CAST(n_above AS DOUBLE)
                  - CAST(n * grand_above AS DOUBLE)
                    / CAST(grand_n AS DOUBLE))
               / (CAST(n * grand_above AS DOUBLE)
                  / CAST(grand_n AS DOUBLE))
               + (CAST(n - n_above AS DOUBLE)
                  - CAST(n * (grand_n - grand_above) AS DOUBLE)
                    / CAST(grand_n AS DOUBLE))
                 * (CAST(n - n_above AS DOUBLE)
                    - CAST(n * (grand_n - grand_above) AS DOUBLE)
                      / CAST(grand_n AS DOUBLE))
                 / (CAST(n * (grand_n - grand_above) AS DOUBLE)
                    / CAST(grand_n AS DOUBLE))
               + 0.0, 4) AS chi2_cell
    FROM tot
    ORDER BY segment
    """,
)
def q_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test of order value across market segments: each
    segment's share of orders ABOVE the grand median price, and its
    two-cell χ² contribution — the distribution-free 'do segments
    spend differently?' answer that a means test gets wrong under the
    heavy right tail (q_ab_welch's robust cousin). The grand median is
    ONE broadcast scalar row (documented NLJ leg); the segment table
    and its χ² expectations live in windows over the ≤5-row segment
    AGGREGATE. Prices enter as exact cents; χ² cells are doubles with
    one shared parenthesization, round(,4)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    med = o.agg(
        F.expr(
            "median(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))"
        ).alias("grand_med")
    )
    seg = (
        o.join(c, c.c_custkey == o.o_custkey)
        .crossJoin(F.broadcast(med))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.expr(
                "CAST(sum(CASE WHEN CAST(floor(o_totalprice * 100"
                " + 0.5) AS BIGINT) > grand_med THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_above"),
        )
    )
    tot = seg.select(
        "segment",
        "n",
        "n_above",
        F.sum("n").over(Window.partitionBy()).alias("grand_n"),
        F.sum("n_above").over(Window.partitionBy()).alias("grand_above"),
    )
    e_above = (F.col("n") * F.col("grand_above")).cast("double") / F.col(
        "grand_n"
    ).cast("double")
    e_below = (
        F.col("n") * (F.col("grand_n") - F.col("grand_above"))
    ).cast("double") / F.col("grand_n").cast("double")
    o_above = F.col("n_above").cast("double")
    o_below = (F.col("n") - F.col("n_above")).cast("double")
    return tot.select(
        "segment",
        "n",
        "n_above",
        F.expr("CAST(n_above * 10000 div n AS BIGINT)").alias(
            "above_bp"
        ),
        F.round(
            (o_above - e_above) * (o_above - e_above) / e_above
            + (o_below - e_below) * (o_below - e_below) / e_below
            + F.lit(0.0),
            4,
        ).alias("chi2_cell"),
    ).orderBy("segment")


@query(
    "q_mann_kendall",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events
        GROUP BY event_type, date_trunc('day', ts)
    ),
    indexed AS (
        SELECT event_type, cnt,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY day) AS rn
        FROM daily
    ),
    s AS (
        SELECT a.event_type,
               CAST(sum(CASE WHEN b.cnt > a.cnt THEN 1
                             WHEN b.cnt < a.cnt THEN -1
                             ELSE 0 END) AS BIGINT) AS s_stat,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM indexed a JOIN indexed b
          ON a.event_type = b.event_type AND a.rn < b.rn
        GROUP BY a.event_type
    ),
    nn AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n
        FROM daily GROUP BY event_type
    ),
    ties AS (
        SELECT event_type,
               CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)
                   AS BIGINT) AS tie_term
        FROM (
            SELECT event_type, CAST(count(*) AS BIGINT) AS t
            FROM daily
            GROUP BY event_type, cnt
            HAVING count(*) > 1
        )
        GROUP BY event_type
    ),
    z AS (
        SELECT s.event_type, nn.n, s.s_stat,
               (CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5)
                     - coalesce(t.tie_term, 0) AS DOUBLE)) / 18.0
                   AS var_s
        FROM s
        JOIN nn ON nn.event_type = s.event_type
        LEFT JOIN ties t ON t.event_type = s.event_type
    )
    SELECT event_type, n AS n_days, s_stat,
           round(var_s + 0.0, 4) AS var_s,
           round(CASE WHEN s_stat > 0
                      THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
                      WHEN s_stat < 0
                      THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
                      ELSE 0.0 END + 0.0, 4) AS z_score
    FROM z
    ORDER BY event_type
    """,
)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on the daily event-count series per
    type: S = Σ_{i<j} sign(xⱼ−xᵢ), its tie-corrected variance, and the
    continuity-corrected z — the standard is-traffic-trending test
    that needs no distributional assumption (q_cusum_changepoint finds
    WHERE a shift happened; this says WHETHER a monotone trend
    exists). The quadratic pair sum runs on the per-type DAILY
    AGGREGATE (≤31 rows per type, equi-joined on type), never the
    event stream; S and the tie term are exact integers, variance and
    z are the allowed sqrt/round(,4) class."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))
    indexed = daily.select(
        "event_type",
        "cnt",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .alias("rn"),
    )
    a = indexed.alias("a")
    b = indexed.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.rn") < F.col("b.rn")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.cnt") > F.col("a.cnt"), 1)
                .when(F.col("b.cnt") < F.col("a.cnt"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat"),
            F.count("*").cast("long").alias("n_pairs"),
        )
    )
    nn = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n")
    )
    ties = (
        daily.groupBy("event_type", "cnt")
        .agg(F.count("*").cast("long").alias("t"))
        .where(F.col("t") > 1)
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    z = (
        s.join(nn, "event_type")
        .join(ties, "event_type", "left")
        .select(
            "event_type",
            "n",
            "s_stat",
            (
                (
                    F.col("n")
                    * (F.col("n") - 1)
                    * (2 * F.col("n") + 5)
                    - F.coalesce(F.col("tie_term"), F.lit(0))
                ).cast("double")
                / F.lit(18.0)
            ).alias("var_s"),
        )
    )
    return z.select(
        "event_type",
        F.col("n").alias("n_days"),
        "s_stat",
        F.round(F.col("var_s") + F.lit(0.0), 4).alias("var_s"),
        F.round(
            F.when(
                F.col("s_stat") > 0,
                (F.col("s_stat") - 1).cast("double")
                / F.sqrt(F.col("var_s")),
            )
            .when(
                F.col("s_stat") < 0,
                (F.col("s_stat") + 1).cast("double")
                / F.sqrt(F.col("var_s")),
            )
            .otherwise(F.lit(0.0))
            + F.lit(0.0),
            4,
        ).alias("z_score"),
    ).orderBy("event_type")


@query(
    "q_theil_sen",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events
        GROUP BY event_type, date_trunc('day', ts)
    ),
    indexed AS (
        SELECT event_type, cnt,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY day) AS rn
        FROM daily
    ),
    slopes AS (
        SELECT a.event_type,
               CAST(b.cnt - a.cnt AS DOUBLE)
                   / CAST(b.rn - a.rn AS DOUBLE) AS slope
        FROM indexed a JOIN indexed b
          ON a.event_type = b.event_type AND a.rn < b.rn
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(median(slope) + 0.0, 4) AS sen_slope
    FROM slopes
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen slope of the daily event-count series per type: the
    MEDIAN of all pairwise slopes — the robust events-per-day trend
    estimate a single outage day cannot drag (the line-fit companion
    to q_mann_kendall's test; q_rolling_ols is the fragile OLS twin).
    Pairwise slopes are int64 deltas through ONE IEEE divide each
    (identical both engines); the median interpolates two such doubles
    — also identical — and the pair set lives on the per-type daily
    aggregate (≤31 rows per type)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))
    indexed = daily.select(
        "event_type",
        "cnt",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .alias("rn"),
    )
    a = indexed.alias("a")
    b = indexed.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.rn") < F.col("b.rn")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.cnt") - F.col("a.cnt")).cast("double")
            / (F.col("b.rn") - F.col("a.rn")).cast("double")
        ).alias("slope"),
    )
    return (
        slopes.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(
                F.expr("percentile(slope, 0.5)") + F.lit(0.0), 4
            ).alias("sen_slope"),
        )
        .orderBy("event_type")
    )


@query(
    "q_spearman",
    oracle="""
    WITH vals AS (
        SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS q,
               CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d
        FROM lineitem
    ),
    qr AS (
        SELECT q,
               2 * (sum(cnt) OVER (ORDER BY q
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) - cnt)
                   + cnt + 1 AS qrank2
        FROM (SELECT q, CAST(count(*) AS BIGINT) AS cnt
              FROM vals GROUP BY q)
    ),
    dr AS (
        SELECT d,
               2 * (sum(cnt) OVER (ORDER BY d
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) - cnt)
                   + cnt + 1 AS drank2
        FROM (SELECT d, CAST(count(*) AS BIGINT) AS cnt
              FROM vals GROUP BY d)
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT v.q) AS BIGINT) AS n_distinct_qty,
           CAST(count(DISTINCT v.d) AS BIGINT) AS n_distinct_disc,
           round(corr(CAST(qr.qrank2 AS DOUBLE),
                      CAST(dr.drank2 AS DOUBLE)) + 0.0, 4)
               AS spearman_rho
    FROM vals v
    JOIN qr ON qr.q = v.q
    JOIN dr ON dr.d = v.d
    """,
)
def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and discount — does
    the synthetic pricing engine discount bulk lines? Monotone
    association that Pearson (q_agg_corr) misses when the relation
    curves. The tie-averaged ranks are built WITHOUT a global sort of
    the fact table: both columns have bounded value domains (integral
    quantities, percent discounts), so per-VALUE counts aggregate
    first and the average rank per value = cum_before + (t+1)/2 comes
    from a window over the ≤51-row value table (doubled to stay
    integer), then joins back — AQE broadcasts the tiny rank maps.
    Pearson-on-ranks uses the engines' corr, the allowed round(,4)
    class (q_agg_corr precedent)."""
    li = load_table(spark, sf_dir, "lineitem")
    vals = li.select(
        F.expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").alias("q"),
        F.expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)").alias(
            "d"
        ),
    )
    def rank_map(col):
        cnts = vals.groupBy(col).agg(
            F.count("*").cast("long").alias("cnt")
        )
        w = (
            Window.orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return cnts.select(
            col,
            (
                2 * (F.sum("cnt").over(w) - F.col("cnt"))
                + F.col("cnt")
                + 1
            ).alias(f"{col}rank2"),
        )
    qr = rank_map("q")
    dr = rank_map("d")
    joined = vals.join(qr, "q").join(dr, "d")
    return joined.agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("q").cast("long").alias("n_distinct_qty"),
        F.countDistinct("d").cast("long").alias("n_distinct_disc"),
        F.round(
            F.corr(
                F.col("qrank2").cast("double"),
                F.col("drank2").cast("double"),
            )
            + F.lit(0.0),
            4,
        ).alias("spearman_rho"),
    )


@query(
    "q_xcorr_lag",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               epoch_us(CAST(date_trunc('day', ts) AS TIMESTAMP))
                   // 86400000000 AS epoch_day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events
        WHERE event_type IN ('click', 'purchase')
        GROUP BY event_type, date_trunc('day', ts)
    ),
    x AS (SELECT epoch_day, cnt FROM daily
          WHERE event_type = 'click'),
    y AS (SELECT epoch_day, cnt FROM daily
          WHERE event_type = 'purchase'),
    lagged AS (
        SELECT l.lag, x.cnt AS xv, y.cnt AS yv
        FROM x
        CROSS JOIN (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS lag) l
        JOIN y ON y.epoch_day = x.epoch_day + l.lag
    )
    SELECT lag,
           CAST(count(*) AS BIGINT) AS n_days,
           round(corr(CAST(xv AS DOUBLE), CAST(yv AS DOUBLE)) + 0.0, 4)
               AS xcorr
    FROM lagged
    GROUP BY lag
    ORDER BY lag
    """,
)
def q_xcorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between the click and purchase
    daily series at lags −3..+3 days: does click volume LEAD purchase
    volume (positive lag peak) — the attribution-window sizing signal
    (q_attribution_window_sweep measures per-user windows; this is
    the population-level echo). Each series is a ≤31-row daily
    aggregate; the 7-lag grid explodes per x-row (a column, no join)
    and the shifted alignment is an equi-join on epoch_day + lag.
    corr is the allowed round(,4) class."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type").isin("click", "purchase"))
        .groupBy(
            "event_type", F.date_trunc("day", "ts").alias("day")
        )
        .agg(F.count("*").cast("long").alias("cnt"))
        .select(
            "event_type",
            F.expr("unix_micros(day) div 86400000000").alias(
                "epoch_day"
            ),
            "cnt",
        )
    )
    x = daily.where(F.col("event_type") == "click").select(
        "epoch_day", F.col("cnt").alias("xv")
    )
    y = daily.where(F.col("event_type") == "purchase").select(
        F.col("epoch_day").alias("y_day"), F.col("cnt").alias("yv")
    )
    lagged = (
        x.select(
            "epoch_day",
            "xv",
            F.explode(
                F.array(*[F.lit(v) for v in (-3, -2, -1, 0, 1, 2, 3)])
            ).alias("lag"),
        )
        .join(y, F.col("y_day") == F.col("epoch_day") + F.col("lag"))
    )
    return (
        lagged.groupBy("lag")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.round(
                F.corr(
                    F.col("xv").cast("double"),
                    F.col("yv").cast("double"),
                )
                + F.lit(0.0),
                4,
            ).alias("xcorr"),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# Tranche 7 — calendar effects and distribution drift.
# ---------------------------------------------------------------------------


@query(
    "q_month_end_load",
    oracle="""
    WITH flagged AS (
        SELECT CAST(extract(year FROM o_orderdate) AS BIGINT) AS yr,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                   AS cents,
               CASE WHEN datediff('day', CAST(o_orderdate AS DATE),
                                  last_day(CAST(o_orderdate AS DATE)))
                         <= 2
                    THEN 1 ELSE 0 END AS is_tail
        FROM orders
    )
    SELECT yr,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(is_tail) AS BIGINT) AS n_tail,
           CAST(sum(is_tail) * 10000 // count(*) AS BIGINT)
               AS tail_orders_bp,
           CAST(sum(CASE WHEN is_tail = 1 THEN cents ELSE 0 END)
                * 10000 // sum(cents) AS BIGINT) AS tail_value_bp
    FROM flagged
    GROUP BY yr
    ORDER BY yr
    """,
)
def q_month_end_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-end loading: per year, the share of orders (and of order
    VALUE) booked in the final three days of their calendar month —
    the sales-pull-forward fingerprint every finance audit starts
    with (a value share persistently above the ~10% calendar-neutral
    baseline means quota-driven booking). The tail test is pure date
    arithmetic against last_day (identical on both engines on DATE
    operands); value is exact cents with int64 sums and bp floors."""
    o = load_table(spark, sf_dir, "orders")
    flagged = o.select(
        F.expr("CAST(extract(year FROM o_orderdate) AS BIGINT)").alias(
            "yr"
        ),
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
        F.expr(
            "CASE WHEN datediff(last_day(CAST(o_orderdate AS DATE)),"
            " CAST(o_orderdate AS DATE)) <= 2 THEN 1 ELSE 0 END"
        ).alias("is_tail"),
    )
    return (
        flagged.groupBy("yr")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("is_tail").cast("long").alias("n_tail"),
            F.expr(
                "CAST(sum(is_tail) * 10000 div count(*) AS BIGINT)"
            ).alias("tail_orders_bp"),
            F.expr(
                "CAST(sum(CASE WHEN is_tail = 1 THEN cents ELSE 0 END)"
                " * 10000 div sum(cents) AS BIGINT)"
            ).alias("tail_value_bp"),
        )
        .orderBy("yr")
    )


@query(
    "q_isoweek_rollover",
    oracle="""
    SELECT CAST(extract(year FROM o_orderdate) AS BIGINT) AS yr,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN CAST(isoyear(o_orderdate) AS BIGINT)
                              > CAST(extract(year FROM o_orderdate)
                                     AS BIGINT)
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_december_next_isoyear,
           CAST(sum(CASE WHEN CAST(isoyear(o_orderdate) AS BIGINT)
                              < CAST(extract(year FROM o_orderdate)
                                     AS BIGINT)
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_january_prior_isoyear
    FROM orders
    GROUP BY extract(year FROM o_orderdate)
    ORDER BY yr
    """,
)
def q_isoweek_rollover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-week rollover exposure: per calendar year, how many orders
    fall on dates whose ISO week belongs to the NEIGHBORING year
    (late-December dates in next year's week 1; early-January dates
    in the prior year's week 52/53) — exactly the rows that
    double-count or vanish when one report groups by calendar year
    and another by ISO week (the fiscal-calendar reconciliation trap;
    q_dow_stability's boundary sibling). Spark's YEAROFWEEK ≡
    DuckDB's isoyear; counts are exact."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.expr(
                "CAST(extract(year FROM o_orderdate) AS BIGINT)"
            ).alias("yr")
        )
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.expr(
                "CAST(sum(CASE WHEN CAST(extract(YEAROFWEEK FROM"
                " o_orderdate) AS BIGINT) > CAST(extract(year FROM"
                " o_orderdate) AS BIGINT) THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_december_next_isoyear"),
            F.expr(
                "CAST(sum(CASE WHEN CAST(extract(YEAROFWEEK FROM"
                " o_orderdate) AS BIGINT) < CAST(extract(year FROM"
                " o_orderdate) AS BIGINT) THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_january_prior_isoyear"),
        )
        .orderBy("yr")
    )


@query(
    "q_quarter_end_push",
    oracle="""
    WITH flagged AS (
        SELECT CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP)
                   AS quarter,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                   AS cents,
               CASE WHEN datediff('day', CAST(o_orderdate AS DATE),
                        CAST(date_trunc('quarter', o_orderdate)
                             + INTERVAL 3 MONTH - INTERVAL 1 DAY
                             AS DATE)) <= 13
                    THEN 1 ELSE 0 END AS is_push
        FROM orders
    )
    SELECT quarter,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(is_push) * 10000 // count(*) AS BIGINT)
               AS push_orders_bp,
           CAST(sum(CASE WHEN is_push = 1 THEN cents ELSE 0 END)
                * 10000 // sum(cents) AS BIGINT) AS push_value_bp
    FROM flagged
    GROUP BY quarter
    ORDER BY quarter
    """,
)
def q_quarter_end_push(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarter-end push: per quarter, the order and value share booked
    in the final 14 days — the quota-cycle signature at the grain
    where it actually operates (q_month_end_load's monthly cousin,
    kept separate because month-end and quarter-end pressures differ
    in kind). The quarter's last day is
    date_trunc('quarter') + 3 months − 1 day, identical arithmetic on
    both engines' DATE operands; exact cents, bp floors."""
    o = load_table(spark, sf_dir, "orders")
    flagged = o.select(
        F.date_trunc("quarter", "o_orderdate").alias("quarter"),
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
        F.expr(
            "CASE WHEN datediff(CAST(date_sub(add_months("
            "date_trunc('quarter', o_orderdate), 3), 1) AS DATE),"
            " CAST(o_orderdate AS DATE)) <= 13 THEN 1 ELSE 0 END"
        ).alias("is_push"),
    )
    return (
        flagged.groupBy("quarter")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.expr(
                "CAST(sum(is_push) * 10000 div count(*) AS BIGINT)"
            ).alias("push_orders_bp"),
            F.expr(
                "CAST(sum(CASE WHEN is_push = 1 THEN cents ELSE 0 END)"
                " * 10000 div sum(cents) AS BIGINT)"
            ).alias("push_value_bp"),
        )
        .orderBy("quarter")
    )


@query(
    "q_psi_drift",
    oracle="""
    WITH banded AS (
        SELECT least(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                     // 5000000, CAST(9 AS BIGINT)) AS value_band,
               CASE WHEN extract(year FROM o_orderdate) >= 1998
                    THEN 1 ELSE 0 END AS half
        FROM orders
    ),
    cells AS (
        SELECT value_band,
               CAST(sum(1 - half) AS BIGINT) AS n_first,
               CAST(sum(half) AS BIGINT) AS n_second
        FROM banded
        GROUP BY value_band
    ),
    tots AS (
        SELECT value_band, n_first, n_second,
               sum(n_first) OVER () AS tot_first,
               sum(n_second) OVER () AS tot_second,
               count(*) OVER () AS n_bands
        FROM cells
    )
    SELECT value_band, n_first, n_second,
           round((CAST(n_first + 1 AS DOUBLE)
                  / CAST(tot_first + n_bands AS DOUBLE)
                  - CAST(n_second + 1 AS DOUBLE)
                    / CAST(tot_second + n_bands AS DOUBLE))
                 * ln((CAST(n_first + 1 AS DOUBLE)
                       / CAST(tot_first + n_bands AS DOUBLE))
                      / (CAST(n_second + 1 AS DOUBLE)
                         / CAST(tot_second + n_bands AS DOUBLE)))
                 + 0.0, 4) AS psi_term
    FROM tots
    ORDER BY value_band
    """,
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of the order-value distribution,
    early era (pre-1998) vs late era: the per-band PSI terms
    (p₁−p₂)·ln(p₁/p₂) over $50k value bands with add-one smoothing —
    the model-monitoring drift score (PSI < 0.1 stable, > 0.25
    retrain) applied to the corpus's own history; q_dist_drift is the
    JSD twin, PSI is what risk teams actually threshold. Laplace
    smoothing guards empty bands so the log never sees zero;
    smoothed shares are int64→double divides with one shared
    parenthesization; windows run over the ≤10-row band aggregate.
    Each term is round(,4) (the allowed log class); the headline PSI
    is the column's sum (law-tested ≥ 0 in aggregate)."""
    o = load_table(spark, sf_dir, "orders")
    banded = o.select(
        F.least(
            F.expr(
                "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
                " div 5000000"
            ),
            F.lit(9).cast("long"),
        ).alias("value_band"),
        F.expr(
            "CASE WHEN extract(year FROM o_orderdate) >= 1998"
            " THEN 1 ELSE 0 END"
        ).alias("half"),
    )
    cells = banded.groupBy("value_band").agg(
        F.sum(1 - F.col("half")).cast("long").alias("n_first"),
        F.sum("half").cast("long").alias("n_second"),
    )
    w = Window.partitionBy()
    tots = cells.select(
        "value_band",
        "n_first",
        "n_second",
        F.sum("n_first").over(w).alias("tot_first"),
        F.sum("n_second").over(w).alias("tot_second"),
        F.count("*").over(w).alias("n_bands"),
    )
    p1 = (F.col("n_first") + 1).cast("double") / (
        F.col("tot_first") + F.col("n_bands")
    ).cast("double")
    p2 = (F.col("n_second") + 1).cast("double") / (
        F.col("tot_second") + F.col("n_bands")
    ).cast("double")
    return tots.select(
        "value_band",
        "n_first",
        "n_second",
        F.round((p1 - p2) * F.log(p1 / p2) + F.lit(0.0), 4).alias(
            "psi_term"
        ),
    ).orderBy("value_band")


@query(
    "q_benford_second",
    oracle="""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5)
                                     AS BIGINT) AS VARCHAR), 2, 1)
                    AS BIGINT) AS d2
        FROM orders
        WHERE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) >= 10
    ),
    expected(d2, exp_e6) AS (
        VALUES (CAST(0 AS BIGINT), CAST(119679 AS BIGINT)),
               (1, 113890), (2, 108821), (3, 104329), (4, 100308),
               (5, 96677), (6, 93374), (7, 90351), (8, 87570),
               (9, 84997)
    ),
    observed AS (
        SELECT d2, CAST(count(*) AS BIGINT) AS n,
               sum(count(*)) OVER () AS total
        FROM digits
        GROUP BY d2
    )
    SELECT e.d2, coalesce(o.n, 0) AS n,
           CAST(floor((CAST(coalesce(o.n, 0) AS DOUBLE) * 1000000.0)
                      / CAST(t.total AS DOUBLE)) AS BIGINT) AS obs_e6,
           e.exp_e6,
           CAST(floor((CAST(coalesce(o.n, 0) AS DOUBLE) * 1000000.0)
                      / CAST(t.total AS DOUBLE)) AS BIGINT) - e.exp_e6
               AS dev_e6
    FROM expected e
    LEFT JOIN observed o ON o.d2 = e.d2
    CROSS JOIN (SELECT max(total) AS total FROM observed) t
    ORDER BY e.d2
    """,
)
def q_benford_second(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford second-digit test on order totals: observed frequency
    of each second significant digit of the cent amount vs the
    Benford expectation P(d) = Σ_k log₁₀(1 + 1/(10k+d)) — the
    forensic-accounting screen that catches invented amounts which
    PASS the first-digit test (q_benford); second digits are the
    auditor's standard escalation. The ten expectation constants are
    DRIVER-PRECOMPUTED e6 integer literals inlined in BOTH engines
    (the q_minhash_band_tuning rule: no cross-engine libm in emitted
    integers); the digit is substring arithmetic on the exact cent
    string; observed shares are the one-double-divide floor pattern.
    The digit grid is a 10-row literal table (broadcast by design,
    NLJ-allowlisted)."""
    o = load_table(spark, sf_dir, "orders")
    digits = o.select(
        F.expr(
            "CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5)"
            " AS BIGINT) AS STRING), 2, 1) AS BIGINT)"
        ).alias("d2")
    ).where(
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)") >= 10
    )
    exp_rows = [
        (0, 119679), (1, 113890), (2, 108821), (3, 104329),
        (4, 100308), (5, 96677), (6, 93374), (7, 90351),
        (8, 87570), (9, 84997),
    ]
    expected = spark.createDataFrame(
        exp_rows, "d2 long, exp_e6 long"
    )
    observed = digits.groupBy("d2").agg(
        F.count("*").cast("long").alias("n")
    )
    observed = observed.withColumn(
        "total", F.sum("n").over(Window.partitionBy())
    )
    total = observed.agg(F.max("total").alias("total"))
    joined = (
        expected.join(observed.select("d2", "n"), "d2", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "d2",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            F.expr(
                "CAST(floor((CAST(coalesce(n, 0) AS DOUBLE)"
                " * 1000000.0) / CAST(total AS DOUBLE)) AS BIGINT)"
            ).alias("obs_e6"),
            "exp_e6",
        )
    )
    return joined.select(
        "d2",
        "n",
        "obs_e6",
        "exp_e6",
        (F.col("obs_e6") - F.col("exp_e6")).alias("dev_e6"),
    ).orderBy("d2")


# ---------------------------------------------------------------------------
# Tranche 8 — catalog and supplier dynamics.
# ---------------------------------------------------------------------------


@query(
    "q_new_item_ramp",
    oracle="""
    WITH firsts AS (
        SELECT l_partkey,
               min(l_shipdate) AS first_ship
        FROM lineitem
        GROUP BY l_partkey
    ),
    ramp AS (
        SELECT f.l_partkey,
               CAST(date_trunc('quarter', f.first_ship) AS TIMESTAMP)
                   AS cohort,
               CAST(count(*) AS BIGINT) AS lines_total,
               CAST(sum(CASE WHEN datediff('day', f.first_ship,
                                           l.l_shipdate) < 90
                             THEN 1 ELSE 0 END) AS BIGINT) AS lines_90
        FROM firsts f
        JOIN lineitem l ON l.l_partkey = f.l_partkey
        GROUP BY f.l_partkey, date_trunc('quarter', f.first_ship)
    )
    SELECT cohort,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(lines_90) // count(*) AS BIGINT)
               AS mean_lines_90d,
           CAST(sum(lines_total) // count(*) AS BIGINT)
               AS mean_lines_total,
           CAST(sum(lines_90) * 10000 // sum(lines_total) AS BIGINT)
               AS ramp_share_bp
    FROM ramp
    GROUP BY cohort
    ORDER BY cohort
    """,
)
def q_new_item_ramp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-item ramp by introduction cohort: parts grouped by the
    quarter of their FIRST shipment, with the mean line volume in
    their first 90 days and its share of lifetime volume — the
    assortment-introduction health curve (a cohort whose 90-day share
    collapses is being launched into dead demand; q_slow_movers finds
    today's laggards, this dates their launch). Two passes over
    lineitem: a per-part min, then one equi-join back on partkey —
    the join key is the aggregation key, so co-partitioning makes the
    second pass shuffle-free after the first at scale."""
    li = load_table(spark, sf_dir, "lineitem")
    firsts = li.groupBy("l_partkey").agg(
        F.min("l_shipdate").alias("first_ship")
    )
    ramp = (
        li.join(firsts, "l_partkey")
        .groupBy(
            "l_partkey",
            F.date_trunc("quarter", "first_ship").alias("cohort"),
        )
        .agg(
            F.count("*").cast("long").alias("lines_total"),
            F.expr(
                "CAST(sum(CASE WHEN datediff(l_shipdate, first_ship)"
                " < 90 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("lines_90"),
        )
    )
    return (
        ramp.groupBy("cohort")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.expr(
                "CAST(sum(lines_90) div count(*) AS BIGINT)"
            ).alias("mean_lines_90d"),
            F.expr(
                "CAST(sum(lines_total) div count(*) AS BIGINT)"
            ).alias("mean_lines_total"),
            F.expr(
                "CAST(sum(lines_90) * 10000 div sum(lines_total)"
                " AS BIGINT)"
            ).alias("ramp_share_bp"),
        )
        .orderBy("cohort")
    )


@query(
    "q_cheapest_supplier_churn",
    oracle="""
    WITH unit AS (
        SELECT l_partkey,
               CAST(date_trunc('month', l_shipdate) AS TIMESTAMP)
                   AS month,
               min(CAST(floor(l_extendedprice / l_quantity * 100
                              + 0.5) AS BIGINT) * 100000000
                   + l_suppkey) AS packed
        FROM lineitem
        GROUP BY l_partkey, date_trunc('month', l_shipdate)
    ),
    cheapest AS (
        SELECT l_partkey, month,
               packed % 100000000 AS best_supp,
               lag(packed % 100000000) OVER (
                   PARTITION BY l_partkey ORDER BY month) AS prev_supp
        FROM unit
    )
    SELECT month,
           CAST(count(*) AS BIGINT) AS n_parts_with_history,
           CAST(sum(CASE WHEN best_supp <> prev_supp
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
           CAST(sum(CASE WHEN best_supp <> prev_supp
                         THEN 1 ELSE 0 END) * 10000 // count(*)
               AS BIGINT) AS churn_bp
    FROM cheapest
    WHERE prev_supp IS NOT NULL
    GROUP BY month
    ORDER BY month
    """,
)
def q_cheapest_supplier_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest-supplier churn: per month, the share of parts whose
    BEST (lowest implied unit price, tie-broken to the smaller
    supplier key) supplier differs from the part's previous active
    month — volatile sourcing means spot-market pricing, stable means
    contracts; the procurement-strategy fingerprint. The argmin rides
    the packed-integer key unit_cents·10⁸ + suppkey (the CLAUDE.md
    q_kmeans_step rule — DuckDB has no struct-ordered min; 10⁸ bounds
    any realistic supplier key and keeps the product ≤ 10¹⁵), and the
    month-over-month comparison is a keyed lag per part."""
    li = load_table(spark, sf_dir, "lineitem")
    unit = li.groupBy(
        "l_partkey", F.date_trunc("month", "l_shipdate").alias("month")
    ).agg(
        F.min(
            F.expr(
                "CAST(floor(l_extendedprice / l_quantity * 100 + 0.5)"
                " AS BIGINT) * 100000000 + l_suppkey"
            )
        ).alias("packed")
    )
    w = Window.partitionBy("l_partkey").orderBy("month")
    cheapest = unit.select(
        "month",
        (F.col("packed") % 100000000).alias("best_supp"),
        F.lag(F.col("packed") % 100000000).over(w).alias("prev_supp"),
    ).where(F.col("prev_supp").isNotNull())
    return (
        cheapest.groupBy("month")
        .agg(
            F.count("*").cast("long").alias("n_parts_with_history"),
            F.expr(
                "CAST(sum(CASE WHEN best_supp <> prev_supp THEN 1"
                " ELSE 0 END) AS BIGINT)"
            ).alias("n_changed"),
            F.expr(
                "CAST(sum(CASE WHEN best_supp <> prev_supp THEN 1"
                " ELSE 0 END) * 10000 div count(*) AS BIGINT)"
            ).alias("churn_bp"),
        )
        .orderBy("month")
    )


@query(
    "q_supplier_reach",
    oracle="""
    WITH reach AS (
        SELECT l.l_suppkey,
               CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_cust,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY l.l_suppkey
    )
    SELECT least(n_cust // 100, CAST(9 AS BIGINT)) AS reach_band,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(n_cust) // count(*) AS BIGINT) AS mean_customers,
           CAST(sum(n_lines) // count(*) AS BIGINT) AS mean_lines
    FROM reach
    GROUP BY least(n_cust // 100, CAST(9 AS BIGINT))
    ORDER BY reach_band
    """,
)
def q_supplier_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier customer reach: distinct end-customers each supplier's
    lines ultimately serve (lineitem→orders), banded by hundreds —
    the supplier-concentration view from the DEMAND side
    (q_supplier_hhi concentrates on value; this asks how many
    relationships a supplier failure would break). One fact-to-fact
    equi-join on the order key, then a distinct-count keyed by
    supplier; the banding floors are nonneg integer division."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    reach = (
        li.join(o, o.o_orderkey == li.l_orderkey)
        .groupBy("l_suppkey")
        .agg(
            F.countDistinct("o_custkey").cast("long").alias("n_cust"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )
    return (
        reach.groupBy(
            F.least(
                F.expr("n_cust div 100"), F.lit(9).cast("long")
            ).alias("reach_band")
        )
        .agg(
            F.count("*").cast("long").alias("n_suppliers"),
            F.expr("CAST(sum(n_cust) div count(*) AS BIGINT)").alias(
                "mean_customers"
            ),
            F.expr("CAST(sum(n_lines) div count(*) AS BIGINT)").alias(
                "mean_lines"
            ),
        )
        .orderBy("reach_band")
    )


@query(
    "q_unit_price_consistency",
    oracle="""
    WITH ratios AS (
        SELECT p.p_brand,
               CAST(floor((CAST(floor(l.l_extendedprice / l.l_quantity
                                      * 100 + 0.5) AS BIGINT)
                           * 10000.0)
                          / CAST(floor(p.p_retailprice * 100 + 0.5)
                                 AS DOUBLE)) AS BIGINT) AS ratio_e4
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
    )
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(ratio_e4) // count(*) AS BIGINT) AS mean_ratio_e4,
           CAST(min(ratio_e4) AS BIGINT) AS min_ratio_e4,
           CAST(max(ratio_e4) AS BIGINT) AS max_ratio_e4
    FROM ratios
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def q_unit_price_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction-vs-catalog price consistency per brand: the implied
    unit price each lineitem actually charged, as an e4 ratio of the
    part's retail price — a mean far from 10⁴ means systematic
    off-list pricing; a wide min–max band means the list price is
    fiction (q_price_fairness audits customer-level dispersion; this
    is catalog-level). The ratio is the one-double-divide floor
    pattern over two exact cent integers; brand aggregation is one
    join on partkey and one shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    ratios = li.join(p, p.p_partkey == li.l_partkey).select(
        "p_brand",
        F.expr(
            "CAST(floor((CAST(floor(l_extendedprice / l_quantity * 100"
            " + 0.5) AS BIGINT) * 10000.0) / CAST(floor(p_retailprice"
            " * 100 + 0.5) AS DOUBLE)) AS BIGINT)"
        ).alias("ratio_e4"),
    )
    return (
        ratios.groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.expr(
                "CAST(sum(ratio_e4) div count(*) AS BIGINT)"
            ).alias("mean_ratio_e4"),
            F.min("ratio_e4").cast("long").alias("min_ratio_e4"),
            F.max("ratio_e4").cast("long").alias("max_ratio_e4"),
        )
        .orderBy("p_brand")
    )


@query(
    "q_daily_mix_entropy",
    oracle="""
    WITH cells AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               event_type,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        GROUP BY date_trunc('day', ts), event_type
    ),
    withp AS (
        SELECT day, n,
               CAST(n AS DOUBLE) / CAST(sum(n) OVER (
                   PARTITION BY day) AS DOUBLE) AS p
        FROM cells
    )
    SELECT day,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_types,
           round(-sum(p * ln(p)) + 0.0, 4) AS entropy_nats
    FROM withp
    GROUP BY day
    ORDER BY day
    """,
)
def q_daily_mix_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-type mix entropy: Shannon entropy of each day's
    type distribution — a day whose entropy dips is dominated by one
    event type (an error storm or a bot flood drowns the mix long
    before any single-type threshold fires); the one-line daily
    health score (q_lang_mix_entropy's temporal twin on the events
    stream). Exact counts, one int64→double divide per cell, ln in
    the allowed round(,4) class, windows over the ≤|types|-row daily
    aggregate."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.count("*").cast("long").alias("n"))
    tot = Window.partitionBy("day")
    p = F.col("n").cast("double") / F.sum("n").over(tot).cast("double")
    withp = cells.withColumn("plnp", p * F.log(p))
    return (
        withp.groupBy("day")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.count("*").cast("long").alias("n_types"),
            F.round(-F.sum("plnp") + F.lit(0.0), 4).alias(
                "entropy_nats"
            ),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Tranche 9 — embedding geometry + engine-surface patterns.
# ---------------------------------------------------------------------------


@query(
    "q_embed_signbits",
    oracle="""
    WITH coords AS (
        SELECT vec_id, i,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5)
                   AS BIGINT) AS q
        FROM (
            SELECT vec_id, embedding,
                   unnest(generate_series(1, len(embedding))) AS i
            FROM embeddings
        )
    ),
    bits AS (
        SELECT c.vec_id, h.j,
               CASE WHEN sum(CASE WHEN
                        CAST('0x' || substr(md5(CAST(h.j AS VARCHAR)
                             || '_' || CAST(c.i AS VARCHAR)), 1, 1)
                             AS BIGINT) % 2 = 0
                        THEN c.q ELSE -c.q END) > 0
                    THEN 1 ELSE 0 END AS bit
        FROM coords c
        CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS j) h
        GROUP BY c.vec_id, h.j
    ),
    sigs AS (
        SELECT vec_id,
               CAST(sum(bit * (1 << CAST(j AS INTEGER))) AS BIGINT)
                   AS sig
        FROM bits
        GROUP BY vec_id
    ),
    buckets AS (
        SELECT sig, CAST(count(*) AS BIGINT) AS n_vecs
        FROM sigs GROUP BY sig
    )
    SELECT n_vecs AS bucket_size,
           CAST(count(*) AS BIGINT) AS n_buckets
    FROM buckets
    GROUP BY n_vecs
    ORDER BY bucket_size
    """,
)
def q_embed_signbits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane sign fingerprint (SimHash for embeddings):
    8 deterministic ±1 hyperplanes (coefficient = parity of an md5
    nibble keyed by (plane, dimension) — the CLAUDE.md cross-engine
    hash idiom, no RNG and no libm), each vector's 8-bit signature,
    and the bucket-size histogram — the collision profile that sizes
    an LSH index for cosine search BEFORE building it
    (q_lsh_bucket_skew audits the text MinHash index; this is the
    embedding twin). Coordinates are quantized to exact e3 integers
    so every dot product is an order-free int64 sum — a double dot
    product would drift with partition order. Work is |vectors|·64·8
    exploded rows, linear in the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    coords = emb.select(
        "vec_id", F.posexplode("embedding").alias("i0", "x")
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.expr(
            "CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)"
        ).alias("q"),
    )
    planes = coords.select(
        "vec_id",
        "i",
        "q",
        F.explode(
            F.array(*[F.lit(j) for j in range(8)])
        ).alias("j"),
    )
    signed = planes.select(
        "vec_id",
        "j",
        F.expr(
            "CASE WHEN conv(substr(md5(CAST(j AS STRING) || '_' ||"
            " CAST(i AS STRING)), 1, 1), 16, 10) % 2 = 0"
            " THEN q ELSE -q END"
        ).alias("term"),
    )
    bits = signed.groupBy("vec_id", "j").agg(
        F.when(F.sum("term") > 0, 1).otherwise(0).alias("bit")
    )
    sigs = bits.groupBy("vec_id").agg(
        F.sum(F.expr("bit * shiftleft(1, CAST(j AS INT))"))
        .cast("long")
        .alias("sig")
    )
    buckets = sigs.groupBy("sig").agg(
        F.count("*").cast("long").alias("n_vecs")
    )
    return (
        buckets.groupBy(F.col("n_vecs").alias("bucket_size"))
        .agg(F.count("*").cast("long").alias("n_buckets"))
        .orderBy("bucket_size")
    )


@query(
    "q_embed_axis_dominance",
    oracle="""
    WITH coords AS (
        SELECT vec_id, label, i,
               abs(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000
                              + 0.5) AS BIGINT)) AS absq
        FROM (
            SELECT vec_id, label, embedding,
                   unnest(generate_series(1, len(embedding))) AS i
            FROM embeddings
        )
    ),
    dominant AS (
        SELECT vec_id, label,
               9999 - (max(absq * 10000 + (9999 - i)) % 10000)
                   AS axis
        FROM coords
        GROUP BY vec_id, label
    ),
    per_axis AS (
        SELECT label, axis, CAST(count(*) AS BIGINT) AS n
        FROM dominant
        GROUP BY label, axis
    )
    SELECT label,
           CAST(sum(n) AS BIGINT) AS n_vecs,
           CAST(count(*) AS BIGINT) AS n_distinct_axes,
           CAST(9999 - (max(n * 10000 + (9999 - axis)) % 10000)
               AS BIGINT) AS top_axis,
           CAST(max(n * 10000 + (9999 - axis)) // 10000 * 10000
                // sum(n) AS BIGINT) AS top_axis_share_bp
    FROM per_axis
    GROUP BY label
    ORDER BY label
    """,
)
def q_embed_axis_dominance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-axis profile per label: each vector's largest-|coord|
    dimension (ties to the SMALLER index), then per label the modal
    dominant axis, its share, and how many distinct axes dominate —
    isotropic embeddings spread across all 64 axes (share → 1/64); a
    label glued to one axis signals a degenerate feature or a
    one-hot-ish encoder (q_embed_isotropy measures this globally;
    this localizes it per class). BOTH argmaxes ride the packed
    nonneg key v·10⁴ + (10⁴−1−idx) (q_kmeans_step rule; |q| ≤ ~525
    and axis < 10⁴ keep products tiny); coordinates quantize to e3
    integers so comparisons are exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    coords = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("i0", "x")
    ).select(
        "vec_id",
        "label",
        (F.col("i0") + 1).alias("i"),
        F.expr(
            "abs(CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5)"
            " AS BIGINT))"
        ).alias("absq"),
    )
    dominant = coords.groupBy("vec_id", "label").agg(
        F.expr(
            "9999 - (max(absq * 10000 + (9999 - i)) % 10000)"
        ).alias("axis")
    )
    per_axis = dominant.groupBy("label", "axis").agg(
        F.count("*").cast("long").alias("n")
    )
    return (
        per_axis.groupBy("label")
        .agg(
            F.sum("n").cast("long").alias("n_vecs"),
            F.count("*").cast("long").alias("n_distinct_axes"),
            F.expr(
                "CAST(9999 - (max(n * 10000 + (9999 - axis)) % 10000)"
                " AS BIGINT)"
            ).alias("top_axis"),
            F.expr(
                "CAST(max(n * 10000 + (9999 - axis)) div 10000 * 10000"
                " div sum(n) AS BIGINT)"
            ).alias("top_axis_share_bp"),
        )
        .orderBy("label")
    )


@query(
    "q_pivot_two_measures",
    oracle="""
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
               AS BIGINT) AS f_cnt,
           CAST(sum(CASE WHEN o_orderstatus = 'F'
                         THEN CAST(floor(o_totalprice * 100 + 0.5)
                                   AS BIGINT) ELSE 0 END)
               AS BIGINT) AS f_cents,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
               AS BIGINT) AS o_cnt,
           CAST(sum(CASE WHEN o_orderstatus = 'O'
                         THEN CAST(floor(o_totalprice * 100 + 0.5)
                                   AS BIGINT) ELSE 0 END)
               AS BIGINT) AS o_cents,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
               AS BIGINT) AS p_cnt,
           CAST(sum(CASE WHEN o_orderstatus = 'P'
                         THEN CAST(floor(o_totalprice * 100 + 0.5)
                                   AS BIGINT) ELSE 0 END)
               AS BIGINT) AS p_cents
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_pivot_two_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-measure pivot: order priority × status matrix carrying BOTH
    a count and an exact-cents value per status column — the
    dual-measure crosstab q_pivot (single measure) leaves open, and
    the shape every finance reconciliation export takes. Uses Spark's
    native pivot with explicit status values (planner prunes to one
    pass; no per-status scans) and per-agg aliases, renamed to the
    oracle's flat snake_case columns; values are exact cent sums."""
    o = load_table(spark, sf_dir, "orders")
    pivoted = (
        o.select(
            "o_orderpriority",
            "o_orderstatus",
            F.expr(
                "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
            ).alias("cents"),
        )
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            # count(*) is invalid inside a Pivot aggregate; count(1)
            # is the same cardinality
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )
    # an empty (priority, status) cell pivots to NULL where the
    # oracle's conditional sum yields 0 — normalize
    return pivoted.select(
        "o_orderpriority",
        *[
            F.coalesce(F.col(f"{s}_{m}"), F.lit(0))
            .cast("long")
            .alias(f"{s.lower()}_{m}")
            for s in ("F", "O", "P")
            for m in ("cnt", "cents")
        ],
    ).orderBy("o_orderpriority")


@query(
    "q_win_exclude_current",
    oracle="""
    WITH vals AS (
        SELECT event_type, user_id,
               CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v_e4
        FROM events
    ),
    grouped AS (
        SELECT event_type, v_e4,
               sum(v_e4) OVER (PARTITION BY event_type, user_id)
                   AS grp_sum,
               count(*) OVER (PARTITION BY event_type, user_id)
                   AS grp_n
        FROM vals
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN v_e4 * (grp_n - 1) > grp_sum - v_e4
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_above_loo,
           CAST(sum(CASE WHEN v_e4 * (grp_n - 1) > grp_sum - v_e4
                         THEN 1 ELSE 0 END) * 10000 // count(*)
               AS BIGINT) AS above_loo_bp
    FROM grouped
    WHERE grp_n >= 2
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_win_exclude_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCLUDE CURRENT ROW emulation: the share of events whose value
    exceeds the mean of their OWN (user, type) group with themselves
    left out — the leave-one-out comparison SQL's window frames can't
    express directly in either engine, rewritten algebraically as
    v·(n−1) > Σ−v over whole-partition sum/count windows (exact
    integers after e4 quantization, so the comparison never touches a
    float). The self-excluded baseline matters: against the plain
    group mean, a group of 2 ties both sides; against the LOO mean
    each event compares to the OTHER one. Groups of 1 are excluded
    (their LOO mean is undefined)."""
    ev = load_table(spark, sf_dir, "events")
    vals = ev.select(
        "event_type",
        "user_id",
        F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)").alias(
            "v_e4"
        ),
    )
    grp = Window.partitionBy("event_type", "user_id")
    grouped = vals.select(
        "event_type",
        "v_e4",
        F.sum("v_e4").over(grp).alias("grp_sum"),
        F.count("*").over(grp).alias("grp_n"),
    ).where(F.col("grp_n") >= 2)
    return (
        grouped.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.expr(
                "CAST(sum(CASE WHEN v_e4 * (grp_n - 1) > grp_sum -"
                " v_e4 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_above_loo"),
            F.expr(
                "CAST(sum(CASE WHEN v_e4 * (grp_n - 1) > grp_sum -"
                " v_e4 THEN 1 ELSE 0 END) * 10000 div count(*)"
                " AS BIGINT)"
            ).alias("above_loo_bp"),
        )
        .orderBy("event_type")
    )


@query(
    "q_forecast_mase",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events
        GROUP BY event_type, date_trunc('day', ts)
    ),
    lagged AS (
        SELECT event_type, cnt,
               lag(cnt, 7) OVER (
                   PARTITION BY event_type ORDER BY day) AS cnt_7,
               lag(cnt, 1) OVER (
                   PARTITION BY event_type ORDER BY day) AS cnt_1
        FROM daily
    ),
    sums AS (
        SELECT event_type,
               CAST(count(cnt_7) AS BIGINT) AS n7,
               CAST(sum(abs(cnt - cnt_7)) AS BIGINT) AS s7,
               CAST(count(cnt_1) AS BIGINT) AS n1,
               CAST(sum(abs(cnt - cnt_1)) AS BIGINT) AS s1
        FROM lagged
        GROUP BY event_type
    )
    SELECT event_type, n7 AS n_seasonal_points,
           CAST(s7 * 10000 // n7 AS BIGINT) AS mae_seasonal_e4,
           CAST(s1 * 10000 // n1 AS BIGINT) AS mae_naive_e4,
           CAST(s7 * n1 * 10000 // (s1 * n7) AS BIGINT) AS mase_e4
    FROM sums
    ORDER BY event_type
    """,
)
def q_forecast_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE of the seasonal-naive forecaster: per event type, the MAE
    of predicting each day by the SAME WEEKDAY last week (lag-7)
    scaled by the MAE of the random-walk (lag-1) baseline — MASE < 1
    means weekly seasonality is real signal worth modeling, > 1 means
    yesterday already beats last-week (q_forecast_backtest scores
    bias; this scores the standard scale-free accuracy ratio).
    Integer counts through keyed lag windows; both MAEs and their
    ratio are exact nonneg integer e4 floors (s·n' ≤ 10⁷·31·10⁴
    stays far inside int64)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "cnt",
        F.lag("cnt", 7).over(w).alias("cnt_7"),
        F.lag("cnt", 1).over(w).alias("cnt_1"),
    )
    sums = lagged.groupBy("event_type").agg(
        F.count("cnt_7").cast("long").alias("n7"),
        F.sum(F.abs(F.col("cnt") - F.col("cnt_7")))
        .cast("long")
        .alias("s7"),
        F.count("cnt_1").cast("long").alias("n1"),
        F.sum(F.abs(F.col("cnt") - F.col("cnt_1")))
        .cast("long")
        .alias("s1"),
    )
    return sums.select(
        "event_type",
        F.col("n7").alias("n_seasonal_points"),
        F.expr("CAST(s7 * 10000 div n7 AS BIGINT)").alias(
            "mae_seasonal_e4"
        ),
        F.expr("CAST(s1 * 10000 div n1 AS BIGINT)").alias(
            "mae_naive_e4"
        ),
        F.expr(
            "CAST(s7 * n1 * 10000 div (s1 * n7) AS BIGINT)"
        ).alias("mase_e4"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Tranche 10 — window close: returns, pricing, and mix audits.
# ---------------------------------------------------------------------------


@query(
    "q_brand_return_wilson",
    oracle="""
    WITH per_brand AS (
        SELECT p.p_brand,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN l.l_returnflag = 'R'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_returns
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY p.p_brand
    )
    SELECT p_brand, n_lines, n_returns,
           CAST(n_returns * 10000 // n_lines AS BIGINT) AS return_bp,
           round((
               (CAST(n_returns AS DOUBLE) / CAST(n_lines AS DOUBLE)
                + 1.9208 / CAST(n_lines AS DOUBLE)
                - 1.96 * sqrt(
                    (CAST(n_returns AS DOUBLE)
                     / CAST(n_lines AS DOUBLE))
                    * (1.0 - CAST(n_returns AS DOUBLE)
                             / CAST(n_lines AS DOUBLE))
                    / CAST(n_lines AS DOUBLE)
                    + 0.9604 / (CAST(n_lines AS DOUBLE)
                                * CAST(n_lines AS DOUBLE))))
               / (1.0 + 3.8416 / CAST(n_lines AS DOUBLE))
           ) + 0.0, 4) AS wilson_lb
    FROM per_brand
    ORDER BY p_brand
    """,
)
def q_brand_return_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand return rates with a Wilson 95% LOWER bound: the return
    share per brand and the statistically safe floor under it — the
    rank-by-lower-bound rule that stops a 3-line brand with one
    return from topping the quality blacklist (the standard fix for
    small-sample rate ranking). z enters only through the
    driver-precomputed literals 1.96 / z²=3.8416 / z²/2=1.9208 /
    z²/4=0.9604 shared by both engines; the bound itself is the
    allowed sqrt + round(,4) class with ONE parenthesization; the
    integer return_bp stays exact for downstream thresholds."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    per_brand = (
        li.join(p, p.p_partkey == li.l_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.expr(
                "CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0"
                " END) AS BIGINT)"
            ).alias("n_returns"),
        )
    )
    ph = F.col("n_returns").cast("double") / F.col("n_lines").cast(
        "double"
    )
    n = F.col("n_lines").cast("double")
    wilson = (
        ph
        + F.lit(1.9208) / n
        - F.lit(1.96)
        * F.sqrt(ph * (F.lit(1.0) - ph) / n + F.lit(0.9604) / (n * n))
    ) / (F.lit(1.0) + F.lit(3.8416) / n)
    return per_brand.select(
        "p_brand",
        "n_lines",
        "n_returns",
        F.expr("CAST(n_returns * 10000 div n_lines AS BIGINT)").alias(
            "return_bp"
        ),
        F.round(wilson + F.lit(0.0), 4).alias("wilson_lb"),
    ).orderBy("p_brand")


@query(
    "q_price_staleness",
    oracle="""
    WITH per_part AS (
        SELECT l.l_partkey, p.p_brand,
               CAST(count(DISTINCT date_trunc('month', l.l_shipdate))
                   AS BIGINT) AS n_months,
               CAST(count(DISTINCT CAST(floor(l.l_extendedprice
                        / l.l_quantity * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS n_prices
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY l.l_partkey, p.p_brand
    )
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(CASE WHEN n_prices = 1 AND n_months >= 6
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_stale,
           CAST(sum(CASE WHEN n_prices = 1 AND n_months >= 6
                         THEN 1 ELSE 0 END) * 10000 // count(*)
               AS BIGINT) AS stale_bp,
           CAST(sum(n_prices - 1) // count(*) AS BIGINT)
               AS mean_price_changes
    FROM per_part
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def q_price_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price staleness per brand: parts that traded in ≥6 distinct
    months yet never moved off a SINGLE implied unit price — frozen
    price files are how stale catalogs leak margin through inflation
    (q_cheapest_supplier_churn watches WHO is cheapest; this watches
    whether prices move AT ALL). Distinct months and distinct exact
    cent prices per part are one aggregation; staleness is a pure
    integer predicate rolled up per brand."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    per_part = (
        li.join(p, p.p_partkey == li.l_partkey)
        .groupBy("l_partkey", "p_brand")
        .agg(
            F.countDistinct(F.date_trunc("month", "l_shipdate"))
            .cast("long")
            .alias("n_months"),
            F.countDistinct(
                F.expr(
                    "CAST(floor(l_extendedprice / l_quantity * 100"
                    " + 0.5) AS BIGINT)"
                )
            )
            .cast("long")
            .alias("n_prices"),
        )
    )
    return (
        per_part.groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.expr(
                "CAST(sum(CASE WHEN n_prices = 1 AND n_months >= 6"
                " THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_stale"),
            F.expr(
                "CAST(sum(CASE WHEN n_prices = 1 AND n_months >= 6"
                " THEN 1 ELSE 0 END) * 10000 div count(*) AS BIGINT)"
            ).alias("stale_bp"),
            F.expr(
                "CAST(sum(n_prices - 1) div count(*) AS BIGINT)"
            ).alias("mean_price_changes"),
        )
        .orderBy("p_brand")
    )


@query(
    "q_mktseg_priority_mix",
    oracle="""
    WITH cells AS (
        SELECT c.c_mktsegment AS segment,
               o.o_orderpriority AS prio,
               CAST(count(*) AS BIGINT) AS n
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_mktsegment, o.o_orderpriority
    ),
    tots AS (
        SELECT segment, prio, n,
               sum(n) OVER (PARTITION BY segment) AS seg_tot,
               sum(n) OVER (PARTITION BY prio) AS prio_tot,
               sum(n) OVER () AS grand
        FROM cells
    )
    SELECT segment, prio, n,
           CAST(n * 10000 // seg_tot AS BIGINT) AS share_bp,
           CAST(n * 10000 // seg_tot AS BIGINT)
               - CAST(prio_tot * 10000 // grand AS BIGINT) AS dev_bp
    FROM tots
    ORDER BY segment, prio
    """,
)
def q_mktseg_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment × priority mix audit: each segment's priority
    distribution in bp, and its signed deviation from the corpus-wide
    priority mix — a segment over-indexing on 1-URGENT is either a
    premium tier or a mis-tagged feed (the χ² machinery of
    q_chi_square localized to per-cell deviations a planner can read
    off). Marginals are windows over the ≤25-cell aggregate; the
    deviation subtracts two already-floored nonneg bp integers (no
    negative ever meets integer division)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cells = (
        o.join(c, c.c_custkey == o.o_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    tots = cells.select(
        "segment",
        "prio",
        "n",
        F.sum("n").over(Window.partitionBy("segment")).alias("seg_tot"),
        F.sum("n").over(Window.partitionBy("prio")).alias("prio_tot"),
        F.sum("n").over(Window.partitionBy()).alias("grand"),
    )
    return tots.select(
        "segment",
        "prio",
        "n",
        F.expr("CAST(n * 10000 div seg_tot AS BIGINT)").alias(
            "share_bp"
        ),
        (
            F.expr("CAST(n * 10000 div seg_tot AS BIGINT)")
            - F.expr("CAST(prio_tot * 10000 div grand AS BIGINT)")
        ).alias("dev_bp"),
    ).orderBy("segment", "prio")


@query(
    "q_value_half_life",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT))
                   AS BIGINT) AS v_e4
        FROM events
        GROUP BY event_type, date_trunc('day', ts)
    ),
    running AS (
        SELECT event_type, v_e4,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY day) AS rn,
               sum(v_e4) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS run_v,
               sum(v_e4) OVER (PARTITION BY event_type) AS tot_v
        FROM daily
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(min(CASE WHEN 2 * run_v >= tot_v THEN rn END)
               AS BIGINT) AS half_day_idx,
           CAST(min(CASE WHEN 2 * run_v >= tot_v THEN rn END) * 10000
                // count(*) AS BIGINT) AS half_point_bp
    FROM running
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_value_half_life(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value accumulation half-point: per event type, the first day
    index at which the running daily value crosses half the period
    total, and that index as a share of the period — 5000 bp means
    value accrues uniformly; an early half-point means front-loaded
    value (launch spike), late means a closing rush (the
    q_quarter_end_push shape measured on the events stream). Daily
    values quantize to exact e4 integers so the running and total
    sums compare exactly; the crossing day is a conditional min over
    an integer predicate — no doubles anywhere."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.sum(
            F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)")
        )
        .cast("long")
        .alias("v_e4")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    running = daily.select(
        "event_type",
        "v_e4",
        F.row_number().over(w).alias("rn"),
        F.sum("v_e4").over(cum).alias("run_v"),
        F.sum("v_e4")
        .over(Window.partitionBy("event_type"))
        .alias("tot_v"),
    )
    return (
        running.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.min(
                F.when(2 * F.col("run_v") >= F.col("tot_v"), F.col("rn"))
            )
            .cast("long")
            .alias("half_day_idx"),
            F.expr(
                "CAST(min(CASE WHEN 2 * run_v >= tot_v THEN rn END)"
                " * 10000 div count(*) AS BIGINT)"
            ).alias("half_point_bp"),
        )
        .orderBy("event_type")
    )


@query(
    "q_discount_by_quantity",
    oracle="""
    WITH lines AS (
        SELECT least(CAST(floor(l_quantity + 0.5) AS BIGINT) // 10,
                     CAST(4 AS BIGINT)) AS qty_band,
               CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc_e2,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                   AS ext_cents
        FROM lineitem
    )
    SELECT qty_band,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(disc_e2) * 100 // count(*) AS BIGINT)
               AS mean_disc_bp,
           CAST(sum(ext_cents * disc_e2) * 100 // sum(ext_cents)
               AS BIGINT) AS weighted_disc_bp
    FROM lines
    GROUP BY qty_band
    ORDER BY qty_band
    """,
)
def q_discount_by_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The discount-vs-quantity curve: mean and value-weighted
    discount (bp) per 10-unit quantity band — the actual volume-
    discount schedule in force, read off the data (q_spearman says
    whether bulk correlates with discount; this says BY HOW MUCH per
    band, the number a pricing negotiation uses). Discount percent
    and price cents are exact integers; the value-weighted numerator
    Σ(cents·disc_e2) is the same int64-exact trick as
    q_tax_by_value_band — a double product sum would drift with
    partition order."""
    li = load_table(spark, sf_dir, "lineitem")
    lines = li.select(
        F.least(
            F.expr("CAST(floor(l_quantity + 0.5) AS BIGINT) div 10"),
            F.lit(4).cast("long"),
        ).alias("qty_band"),
        F.expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)").alias(
            "disc_e2"
        ),
        F.expr(
            "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
        ).alias("ext_cents"),
    )
    return (
        lines.groupBy("qty_band")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.expr(
                "CAST(sum(disc_e2) * 100 div count(*) AS BIGINT)"
            ).alias("mean_disc_bp"),
            F.expr(
                "CAST(sum(ext_cents * disc_e2) * 100 div"
                " sum(ext_cents) AS BIGINT)"
            ).alias("weighted_disc_bp"),
        )
        .orderBy("qty_band")
    )
