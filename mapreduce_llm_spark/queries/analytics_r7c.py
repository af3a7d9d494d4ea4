"""Round-7 third batch: allocation / experimentation / data-layout
analytics with exact cross-engine replay — max-min fair budget
allocation (the waterfill every capacity planner runs), a Welch A/B
t-test on md5-assigned variants, a decision-stump split finder (the
1-node CART step feature pipelines use for feature screening), a
hash-bucket skew audit, CDC log compaction, deterministic negative
sampling for contrastive training, a two-level Merkle checksum tree,
time-decayed popularity ranking with exact dyadic weights, log-odds
term drift, a prefix autocomplete index, shingle-blocked Jaccard
k-NN over documents, and a bounded k-core peel on the co-purchase
graph.

Determinism discipline (module rule, inherited from analytics_r7):
multi-row DOUBLE sums appear only under round(,4) and only for
ln()/sqrt-valued terms (the documented safe class); every other
aggregate is exact integer (cents via the floor(x*100 + 0.5)
round-half-up idiom, identical IEEE on both engines), an e4/e6 floor
of a division chain written token-identically on both sides, or a
dyadic 2^(40-k) integer weight. Cross-engine hashing is the house
40-bit-md5 arithmetic (CLAUDE.md) — never xxhash64.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from mapreduce_llm_spark.io import load_table
from mapreduce_llm_spark.queries.common import md5_40
from mapreduce_llm_spark.registry import query


_FAIR_BUDGET_CENTS = 1_000_000  # 10,000.00 per nation


@query(
    "q_fair_allocation",
    oracle=f"""
    WITH caps AS (
        SELECT s_suppkey, s_nationkey,
               CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS cap
        FROM supplier
        WHERE floor(s_acctbal * 100 + 0.5) > 0
    ),
    t AS (
        SELECT s_nationkey, cap,
               row_number() OVER (PARTITION BY s_nationkey
                                  ORDER BY cap, s_suppkey) AS i,
               sum(cap) OVER (PARTITION BY s_nationkey
                              ORDER BY cap, s_suppkey
                              ROWS UNBOUNDED PRECEDING) AS prefix,
               count(*) OVER (PARTITION BY s_nationkey) AS n
        FROM caps
    ),
    g AS (
        SELECT s_nationkey,
               max(n) AS n,
               sum(CASE WHEN cap * (n - i + 1) + (prefix - cap)
                             <= {_FAIR_BUDGET_CENTS} THEN 1 ELSE 0 END)
                   AS n_capped,
               sum(CASE WHEN cap * (n - i + 1) + (prefix - cap)
                             <= {_FAIR_BUDGET_CENTS} THEN cap ELSE 0 END)
                   AS funded
        FROM t GROUP BY s_nationkey
    )
    SELECT n_name,
           CAST(n AS BIGINT) AS n_suppliers,
           CAST(n_capped AS BIGINT) AS n_capped,
           CAST(CASE WHEN n_capped < n THEN
                    ({_FAIR_BUDGET_CENTS} - funded) // (n - n_capped)
                END AS BIGINT) AS waterline_cents,
           CAST(funded + coalesce(
                    CASE WHEN n_capped < n THEN
                        (({_FAIR_BUDGET_CENTS} - funded) // (n - n_capped))
                        * (n - n_capped)
                    END, 0) AS BIGINT) AS allocated_cents
    FROM g JOIN nation ON n_nationkey = s_nationkey
    ORDER BY n_name
    """,
)
def q_fair_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-min fair (water-filling) allocation of a fixed per-nation
    budget across that nation's suppliers, capacity = positive account
    balance in cents: sort capacities ascending, fully fund every
    supplier whose cap fits under the would-be waterline
    (cap·remaining + funded_prefix ≤ B — an integer-multiply
    comparison, so the funded set needs NO division), then split the
    remainder evenly by integer floor division. The closed-form
    prefix-sum construction replaces the textbook iterate-until-fixed
    loop — one keyed window, one aggregate, zero iteration.

    Scale: windows and aggregates are all keyed by nation; integer
    cents keep every comparison exact (caps ≤ 1e6 cents × counts keep
    cap·(n−i+1) ≪ 2^63 even at 1000× suppliers)."""
    caps = (
        load_table(spark, sf_dir, "supplier")
        .select(
            "s_suppkey",
            "s_nationkey",
            F.floor(F.col("s_acctbal") * 100 + 0.5).cast("long").alias("cap"),
        )
        .where(F.col("cap") > 0)
    )
    w = Window.partitionBy("s_nationkey").orderBy("cap", "s_suppkey")
    t = caps.select(
        "s_nationkey",
        "cap",
        F.row_number().over(w).alias("i"),
        F.sum("cap")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("prefix"),
        F.count("*").over(Window.partitionBy("s_nationkey")).alias("n"),
    )
    B = F.lit(_FAIR_BUDGET_CENTS).cast("long")
    fits = (F.col("cap") * (F.col("n") - F.col("i") + 1)
            + (F.col("prefix") - F.col("cap"))) <= B
    g = t.groupBy("s_nationkey").agg(
        F.max("n").alias("n"),
        F.sum(F.when(fits, 1).otherwise(0)).alias("n_capped"),
        F.sum(F.when(fits, F.col("cap")).otherwise(0)).alias("funded"),
    )
    uncapped = F.col("n") - F.col("n_capped")
    waterline = F.when(
        F.col("n_capped") < F.col("n"),
        F.expr(f"({_FAIR_BUDGET_CENTS} - funded) div (n - n_capped)"),
    )
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        g.join(F.broadcast(nat), g["s_nationkey"] == nat["n_nationkey"])
        .select(
            "n_name",
            F.col("n").alias("n_suppliers"),
            F.col("n_capped").cast("long").alias("n_capped"),
            waterline.cast("long").alias("waterline_cents"),
            (F.col("funded")
             + F.coalesce(waterline * uncapped, F.lit(0))
             ).cast("long").alias("allocated_cents"),
        )
        .orderBy("n_name")
    )


@query(
    "q_ab_welch",
    oracle="""
    WITH v AS (
        SELECT event_type,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 10)
                    AS BIGINT) % 2 AS variant,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
        FROM events
    ),
    g AS (
        SELECT event_type,
               sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n_a,
               sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n_b,
               sum(CASE WHEN variant = 0 THEN vc ELSE 0 END) AS s1a,
               sum(CASE WHEN variant = 1 THEN vc ELSE 0 END) AS s1b,
               sum(CASE WHEN variant = 0 THEN vc * vc ELSE 0 END) AS s2a,
               sum(CASE WHEN variant = 1 THEN vc * vc ELSE 0 END) AS s2b
        FROM v GROUP BY event_type
    ),
    m AS (
        SELECT *,
               CAST(s1a AS DOUBLE) / n_a AS ma,
               CAST(s1b AS DOUBLE) / n_b AS mb
        FROM g WHERE n_a >= 2 AND n_b >= 2
    ),
    s AS (
        SELECT *,
               (CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * ma) / (n_a - 1)
                   AS va,
               (CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * mb) / (n_b - 1)
                   AS vb
        FROM m
    )
    SELECT event_type,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(floor(ma * 100) AS BIGINT) AS mean_a_e4,
           CAST(floor(mb * 100) AS BIGINT) AS mean_b_e4,
           CAST(floor((ma - mb) / nullif(sqrt(va / n_a + vb / n_b), 0.0)
                      * 10000) AS BIGINT) AS welch_t_e4
    FROM s
    ORDER BY event_type
    """,
)
def q_ab_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test per event type between two
    deterministically md5-assigned user variants — the A/B readout an
    experimentation pipeline computes, with NO RNG anywhere: variant =
    md5_40(user_id) % 2 replays exactly on both engines. Values
    quantize to e2 integers (floor(v·100 + 0.5)) BEFORE the moment
    sums, so n/Σv/Σv² are exact integers and the t statistic is one
    token-identical double chain on both sides (correctly-rounded
    IEEE ops on identical operands ⇒ identical doubles ⇒ identical
    e4 floors). Degenerate variances nullif to NULL, not a crash.

    Scale: one keyed aggregate with map-side partials; Σv² ≤ n·(1e5)²
    keeps int64 exact to ~1e8 rows per type — beyond that the same
    sums move to DECIMAL(38,0) unchanged."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (md5_40(F.col("user_id").cast("string")) % 2).alias("variant"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("vc"),
    )
    g = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("variant") == 0, F.col("vc")).otherwise(0)).alias("s1a"),
        F.sum(F.when(F.col("variant") == 1, F.col("vc")).otherwise(0)).alias("s1b"),
        F.sum(F.when(F.col("variant") == 0, F.col("vc") * F.col("vc"))
              .otherwise(0)).alias("s2a"),
        F.sum(F.when(F.col("variant") == 1, F.col("vc") * F.col("vc"))
              .otherwise(0)).alias("s2b"),
    ).where((F.col("n_a") >= 2) & (F.col("n_b") >= 2))
    m = g.withColumn("ma", F.expr("CAST(s1a AS DOUBLE) / n_a")).withColumn(
        "mb", F.expr("CAST(s1b AS DOUBLE) / n_b")
    )
    s = m.withColumn(
        "va", F.expr("(CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * ma) / (n_a - 1)")
    ).withColumn(
        "vb", F.expr("(CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * mb) / (n_b - 1)")
    )
    return s.select(
        "event_type",
        "n_a",
        "n_b",
        F.expr("CAST(floor(ma * 100) AS BIGINT)").alias("mean_a_e4"),
        F.expr("CAST(floor(mb * 100) AS BIGINT)").alias("mean_b_e4"),
        F.expr(
            "CAST(floor((ma - mb) / nullif(sqrt(va / n_a + vb / n_b), 0.0D)"
            " * 10000) AS BIGINT)"
        ).alias("welch_t_e4"),
    ).orderBy("event_type")


@query(
    "q_best_split",
    oracle="""
    WITH cell AS (
        SELECT CAST(floor(l_discount * 100 + 0.5) AS INT) AS dc,
               count(*) AS cnt,
               sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS pos
        FROM lineitem GROUP BY 1
    ),
    cum AS (
        SELECT dc,
               sum(cnt) OVER (ORDER BY dc ROWS UNBOUNDED PRECEDING) AS nl,
               sum(pos) OVER (ORDER BY dc ROWS UNBOUNDED PRECEDING) AS pl,
               sum(cnt) OVER () AS n,
               sum(pos) OVER () AS p
        FROM cell
    ),
    g AS (
        SELECT dc, nl, pl, n - nl AS nr, p - pl AS pr
        FROM cum WHERE n - nl > 0
    ),
    w AS (
        SELECT dc, nl, pl,
               CAST(floor((
                   CAST(nl AS DOUBLE) / n
                   * (1.0 - (CAST(pl AS DOUBLE) / nl) * (CAST(pl AS DOUBLE) / nl)
                          - (CAST(nl - pl AS DOUBLE) / nl)
                            * (CAST(nl - pl AS DOUBLE) / nl))
                   + CAST(nr AS DOUBLE) / n
                   * (1.0 - (CAST(pr AS DOUBLE) / nr) * (CAST(pr AS DOUBLE) / nr)
                          - (CAST(nr - pr AS DOUBLE) / nr)
                            * (CAST(nr - pr AS DOUBLE) / nr))
               ) * 1000000) AS BIGINT) AS wgini_e6
        FROM g, (SELECT sum(cnt) AS n, sum(pos) AS p FROM cell) tot
    )
    SELECT dc AS thr_cents,
           CAST(nl AS BIGINT) AS n_left,
           CAST(pl AS BIGINT) AS pos_left,
           wgini_e6,
           CAST(row_number() OVER (ORDER BY wgini_e6, dc) AS INT) AS split_rank
    FROM w
    ORDER BY thr_cents
    """,
)
def q_best_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump split finder — the single-feature CART step a
    feature-screening pipeline runs per column: for every candidate
    threshold on discount (cents), the population-weighted Gini
    impurity of the returned-flag target on each side, ranked so
    split_rank = 1 is the best cut. Candidate thresholds come from
    the grouped distribution (11 cells), NOT from sorting the fact
    table: one keyed aggregate collapses 100 TB to ≤ 101 cells, and
    the cumulative window + ranking run post-aggregation on those
    cells only. All counts are exact integers; the impurity chain is
    one token-identical double expression on both engines under an
    e6 floor."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_discount") * 100 + 0.5).cast("int").alias("dc"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    cell = li.groupBy("dc").agg(
        F.count("*").alias("cnt"), F.sum("y").alias("pos")
    )
    wc = Window.orderBy("dc").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = cell.select(
        "dc",
        F.sum("cnt").over(wc).alias("nl"),
        F.sum("pos").over(wc).alias("pl"),
        F.sum("cnt").over(wall).alias("n"),
        F.sum("pos").over(wall).alias("p"),
    )
    g = cum.where(F.col("n") - F.col("nl") > 0).select(
        "dc", "nl", "pl", "n", "p",
        (F.col("n") - F.col("nl")).alias("nr"),
        (F.col("p") - F.col("pl")).alias("pr"),
    )
    w = g.select(
        "dc",
        "nl",
        "pl",
        F.expr(
            "CAST(floor(("
            " CAST(nl AS DOUBLE) / n"
            " * (1.0D - (CAST(pl AS DOUBLE) / nl) * (CAST(pl AS DOUBLE) / nl)"
            "        - (CAST(nl - pl AS DOUBLE) / nl)"
            "          * (CAST(nl - pl AS DOUBLE) / nl))"
            " + CAST(nr AS DOUBLE) / n"
            " * (1.0D - (CAST(pr AS DOUBLE) / nr) * (CAST(pr AS DOUBLE) / nr)"
            "        - (CAST(nr - pr AS DOUBLE) / nr)"
            "          * (CAST(nr - pr AS DOUBLE) / nr))"
            ") * 1000000) AS BIGINT)"
        ).alias("wgini_e6"),
    )
    return w.select(
        F.col("dc").alias("thr_cents"),
        F.col("nl").alias("n_left"),
        F.col("pl").alias("pos_left"),
        "wgini_e6",
        F.row_number()
        .over(Window.orderBy("wgini_e6", "dc"))
        .alias("split_rank"),
    ).orderBy("thr_cents")


@query(
    "q_bucket_skew",
    oracle="""
    WITH b AS (
        SELECT CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 10)
                    AS BIGINT) % 32 AS bucket,
               count(*) AS cnt
        FROM lineitem GROUP BY 1
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(cnt AS BIGINT) AS cnt,
           CAST(cnt * 10000 // sum(cnt) OVER () AS BIGINT) AS share_e4,
           cnt * 64 > sum(cnt) OVER () * 3 AS is_hot
    FROM b
    ORDER BY bucket
    """,
)
def q_bucket_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-layout skew audit: distribute lineitem across 32 buckets by
    the house md5_40(orderkey) hash and report each bucket's row count,
    basis-point share, and a hot flag (cnt > 1.5× the mean, spelled as
    the exact integer comparison cnt·64 > total·3) — the pre-flight a
    shuffle-heavy job runs to decide whether a key needs salting. The
    fact scan collapses to ≤ 32 cells in one map-side-combinable
    aggregate; the share window runs on those 32 rows only."""
    li = load_table(spark, sf_dir, "lineitem").select(
        (md5_40(F.col("l_orderkey").cast("string")) % 32)
        .cast("int")
        .alias("bucket")
    )
    b = li.groupBy("bucket").agg(F.count("*").alias("cnt"))
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    total = F.sum("cnt").over(wall)
    return b.select(
        "bucket",
        "cnt",
        F.expr(f"CAST(cnt * 10000 div sum(cnt) OVER "
               f"(ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
               f" AS BIGINT)").alias("share_e4"),
        (F.col("cnt") * 64 > total * 3).alias("is_hot"),
    ).orderBy("bucket")


@query(
    "q_cdc_apply",
    oracle="""
    WITH base AS (
        SELECT o_orderkey AS k, o_orderstatus AS st,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS pc
        FROM orders
    ),
    log AS (
        SELECT k, st, 1 AS seq, 'I' AS op, pc AS cents FROM base
        UNION ALL
        SELECT k, st, 2, 'U', pc + 5000 FROM base WHERE k % 4 = 0
        UNION ALL
        SELECT k, st, 3, 'D', CAST(NULL AS BIGINT) FROM base WHERE k % 7 = 0
    ),
    fin AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC)
                      AS rn
            FROM log
        ) WHERE rn = 1
    )
    SELECT st AS o_orderstatus,
           CAST(sum(CASE WHEN op <> 'D' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_live,
           CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_deleted,
           CAST(sum(CASE WHEN op <> 'D' THEN cents ELSE 0 END) AS BIGINT)
               AS live_cents
    FROM fin
    GROUP BY st
    ORDER BY o_orderstatus
    """,
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction: a deterministic multi-version change log
    (insert at seq 1 for every key, an update at seq 2 for keys ≡ 0
    mod 4, a delete at seq 3 for keys ≡ 0 mod 7) collapses to the
    live table state by max-sequence-wins — the apply step every lake
    ingestion pipeline runs on a Debezium/engine changelog. The log is
    generated in-task (array-explode, no extra scan or join), the
    latest-version pick is ONE keyed window (partition = the CDC key,
    the natural shuffle at 100 TB), and money stays in exact cents.
    Distinct from q_merge_upsert (one batch merge) and q_dedup_latest
    (no tombstones): this is multi-version + delete semantics."""
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("pc"),
    )
    log = base.select(
        "k",
        "st",
        F.explode(
            F.filter(
                F.array(
                    F.struct(
                        F.lit(1).alias("seq"),
                        F.lit("I").alias("op"),
                        F.col("pc").alias("cents"),
                    ),
                    F.struct(
                        F.lit(2).alias("seq"),
                        F.lit("U").alias("op"),
                        (F.col("pc") + 5000).alias("cents"),
                    ),
                    F.struct(
                        F.lit(3).alias("seq"),
                        F.lit("D").alias("op"),
                        F.lit(None).cast("long").alias("cents"),
                    ),
                ),
                lambda x: (x["seq"] == 1)
                | ((x["seq"] == 2) & (F.col("k") % 4 == 0))
                | ((x["seq"] == 3) & (F.col("k") % 7 == 0)),
            )
        ).alias("ch"),
    ).select("k", "st", "ch.seq", "ch.op", "ch.cents")
    w = Window.partitionBy("k").orderBy(F.col("seq").desc())
    fin = log.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return (
        fin.groupBy(F.col("st").alias("o_orderstatus"))
        .agg(
            F.sum(F.when(F.col("op") != "D", 1).otherwise(0)).alias("n_live"),
            F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias(
                "n_deleted"
            ),
            F.sum(
                F.when(F.col("op") != "D", F.col("cents")).otherwise(0)
            ).alias("live_cents"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q_negative_sample",
    oracle="""
    WITH mx AS (SELECT max(p_partkey) AS mp FROM part),
    pos AS (
        SELECT DISTINCT o_custkey, l_partkey
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    c AS (SELECT DISTINCT o_custkey FROM orders WHERE o_custkey % 20 = 0),
    cand AS (
        SELECT o_custkey, j,
               CAST('0x' || substr(md5(concat(CAST(o_custkey AS VARCHAR),
                                              '#', CAST(j AS VARCHAR))),
                                   1, 10) AS BIGINT) % mp + 1 AS pk
        FROM c, mx, unnest(generate_series(0, 7)) AS t(j)
    ),
    ded AS (
        SELECT o_custkey, pk, min(j) AS j FROM cand GROUP BY o_custkey, pk
    ),
    neg AS (
        SELECT d.* FROM ded d
        WHERE NOT EXISTS (SELECT 1 FROM pos p
                          WHERE p.o_custkey = d.o_custkey
                            AND p.l_partkey = d.pk)
    )
    SELECT o_custkey, CAST(rn AS INT) AS neg_rank, pk AS partkey
    FROM (
        SELECT *, row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY j, pk) AS rn
        FROM neg
    ) WHERE rn <= 4
    ORDER BY o_custkey, neg_rank
    """,
)
def q_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    every 20th customer, 8 candidate part ids drawn by the house
    md5_40 hash over (customer, draw-index), anti-joined against the
    customer's ACTUAL purchases, deduped keep-first-draw, and the
    first 4 surviving negatives kept per customer. No RNG — re-runs,
    resumes, and both engines produce the identical sample, the same
    reproducibility contract as q_shuffle_shards. Scale: candidate
    generation is in-task (8-element sequence explode), the anti-join
    and ranking shuffle on the customer key, and the 1-row max-partkey
    leg broadcasts."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pos = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    mx = load_table(spark, sf_dir, "part").agg(
        F.max("p_partkey").alias("mp")
    )
    c = (
        o.select("o_custkey")
        .where(F.col("o_custkey") % 20 == 0)
        .distinct()
    )
    cand = (
        c.crossJoin(F.broadcast(mx))
        .select(
            "o_custkey",
            "mp",
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("j"),
        )
        .select(
            "o_custkey",
            "j",
            (
                md5_40(
                    F.concat(
                        F.col("o_custkey").cast("string"),
                        F.lit("#"),
                        F.col("j").cast("string"),
                    )
                )
                % F.col("mp")
                + 1
            ).alias("pk"),
        )
    )
    ded = cand.groupBy("o_custkey", "pk").agg(F.min("j").alias("j"))
    neg = ded.join(
        pos,
        (ded["o_custkey"] == pos["o_custkey"])
        & (ded["pk"] == pos["l_partkey"]),
        "left_anti",
    )
    w = Window.partitionBy("o_custkey").orderBy("j", "pk")
    return (
        neg.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 4)
        .select(
            "o_custkey",
            F.col("rn").cast("int").alias("neg_rank"),
            F.col("pk").alias("partkey"),
        )
        .orderBy("o_custkey", "neg_rank")
    )


@query(
    "q_merkle_tree",
    oracle="""
    WITH leaf AS (
        SELECT n_name, c_mktsegment AS segment,
               CAST(sum(CAST('0x' || substr(md5(concat(
                       CAST(c_custkey AS VARCHAR), '|', c_name, '|',
                       CAST(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
                            AS VARCHAR))), 1, 10) AS BIGINT)) AS BIGINT)
                   AS checksum,
               count(*) AS n_rows
        FROM customer JOIN nation ON n_nationkey = c_nationkey
        GROUP BY n_name, c_mktsegment
    ),
    node AS (
        SELECT n_name,
               CAST(sum(CAST('0x' || substr(md5(CAST(checksum AS VARCHAR)),
                                            1, 10)
                        AS BIGINT)) AS BIGINT) AS checksum,
               sum(n_rows) AS n_rows
        FROM leaf GROUP BY n_name
    ),
    root AS (
        SELECT CAST(sum(CAST('0x' || substr(md5(CAST(checksum AS VARCHAR)),
                                            1, 10)
                        AS BIGINT)) AS BIGINT) AS checksum,
               sum(n_rows) AS n_rows
        FROM node
    )
    SELECT 'leaf' AS level, n_name, segment, checksum,
           CAST(n_rows AS BIGINT) AS n_rows
    FROM leaf
    UNION ALL
    SELECT 'node', n_name, '*', checksum, CAST(n_rows AS BIGINT) FROM node
    UNION ALL
    SELECT 'root', '*', '*', checksum, CAST(n_rows AS BIGINT) FROM root
    ORDER BY level, n_name, segment
    """,
)
def q_merkle_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level Merkle checksum tree over the customer table
    (leaf = nation × segment, node = nation, root = table): each
    upper level hashes its children's CHECKSUM STRINGS again rather
    than re-summing raw rows, so a single changed row flips exactly
    one leaf, one node, and the root — the audit structure that
    localizes corruption in a 100 TB replica comparison without
    re-scanning either side (q_group_checksum proves layout
    invariance at one level; this composes levels). Sum-of-40-bit
    terms keeps every level's checksum exact under signed-64 ANSI
    arithmetic; upper levels aggregate ≤ |nations × segments| rows."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    leaf = (
        cust.join(F.broadcast(nat), nat["n_nationkey"] == cust["c_nationkey"])
        .select(
            "n_name",
            F.col("c_mktsegment").alias("segment"),
            md5_40(
                F.concat(
                    F.col("c_custkey").cast("string"),
                    F.lit("|"),
                    F.col("c_name"),
                    F.lit("|"),
                    F.floor(F.col("c_acctbal") * 100 + 0.5)
                    .cast("long")
                    .cast("string"),
                )
            ).alias("h"),
        )
        .groupBy("n_name", "segment")
        .agg(F.sum("h").alias("checksum"), F.count("*").alias("n_rows"))
        # The three output levels all derive from this ≤ |nations ×
        # segments|-row frame; materialize it once so the union does
        # NOT re-scan the (100 TB) fact table per level — un-pinned,
        # Spark planned three separate customer scans (AQE exchange
        # reuse only collapsed siblings within one stage tree).
        .localCheckpoint(eager=True)
    )
    node = leaf.groupBy("n_name").agg(
        F.sum(md5_40(F.col("checksum").cast("string"))).alias("checksum"),
        F.sum("n_rows").alias("n_rows"),
    )
    root = node.agg(
        F.sum(md5_40(F.col("checksum").cast("string"))).alias("checksum"),
        F.sum("n_rows").alias("n_rows"),
    )
    out = (
        leaf.select(
            F.lit("leaf").alias("level"), "n_name", "segment",
            "checksum", "n_rows",
        )
        .unionAll(
            node.select(
                F.lit("node").alias("level"), "n_name",
                F.lit("*").alias("segment"), "checksum", "n_rows",
            )
        )
        .unionAll(
            root.select(
                F.lit("root").alias("level"), F.lit("*").alias("n_name"),
                F.lit("*").alias("segment"), "checksum", "n_rows",
            )
        )
    )
    return out.orderBy("level", "n_name", "segment")


@query(
    "q_recency_topk",
    oracle="""
    WITH mx AS (SELECT max(CAST(l_shipdate AS DATE)) AS maxd FROM lineitem),
    t AS (
        SELECT l_partkey,
               CAST(l_quantity AS BIGINT) AS qty,
               date_diff('day', CAST(l_shipdate AS DATE), maxd) // 7 AS k
        FROM lineitem, mx
    )
    SELECT l_partkey,
           CAST(sum(CASE WHEN k <= 40
                         THEN qty * (CAST(1 AS BIGINT) << (40 - k))
                         ELSE 0 END) AS BIGINT) AS score_w40,
           CAST(count(*) AS BIGINT) AS n_ships
    FROM t
    GROUP BY l_partkey
    ORDER BY score_w40 DESC, l_partkey
    LIMIT 10
    """,
)
def q_recency_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed part popularity with a half-life of one week and
    EXACT dyadic weights: weight = 2^(40−weeks_old) as an INTEGER
    (shift-left), so the decayed score Σ qty·w is a plain int64 sum —
    no float pow, no summation-order drift, both engines bit-equal.
    Terms older than 40 weeks contribute 0 (beneath e-12 of the top
    weight — the same cutoff a float implementation hits by
    underflow, made explicit). The scan collapses to one keyed
    aggregate; the global top-10 is TakeOrdered (per-partition top-10
    then a 10-row driver merge), never a single-partition sort.
    Max-shipdate is a broadcast 1-row leg."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("qty"),
        F.col("l_shipdate").cast("date").alias("sd"),
    )
    mx = li.agg(F.max("sd").alias("maxd"))
    t = li.crossJoin(F.broadcast(mx)).select(
        "l_partkey",
        "qty",
        F.expr("CAST(datediff(maxd, sd) AS BIGINT) div 7").alias("k"),
    )
    return (
        t.groupBy("l_partkey")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN k <= 40"
                    " THEN qty * shiftleft(CAST(1 AS BIGINT),"
                    "                      CAST(40 - k AS INT))"
                    " ELSE CAST(0 AS BIGINT) END"
                )
            ).alias("score_w40"),
            F.count("*").alias("n_ships"),
        )
        .orderBy(F.col("score_w40").desc(), "l_partkey")
        .limit(10)
    )


@query(
    "q_term_logodds",
    oracle="""
    WITH toks AS (
        SELECT doc_id % 2 AS half, w
        FROM (SELECT doc_id,
                     unnest(regexp_split_to_array(lower(text), '[^a-z]+'))
                         AS w
              FROM documents)
        WHERE w <> ''
    ),
    p AS (
        SELECT w,
               sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS y1,
               sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS y2
        FROM toks GROUP BY w
    ),
    t AS (
        SELECT w, y1, y2,
               sum(y1) OVER () AS n1,
               sum(y2) OVER () AS n2
        FROM p
    )
    SELECT w,
           CAST(y1 AS BIGINT) AS y1,
           CAST(y2 AS BIGINT) AS y2,
           round((ln((y1 + 0.5) / (n1 - y1 + 0.5))
                  - ln((y2 + 0.5) / (n2 - y2 + 0.5)))
                 / sqrt(1.0 / (y1 + 0.5) + 1.0 / (y2 + 0.5)), 4) + 0.0
               AS logodds_z
    FROM t
    ORDER BY w
    """,
)
def q_term_logodds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monroe-style log-odds-ratio term drift with a symmetric 0.5
    Dirichlet prior between two deterministic corpus halves
    (doc_id parity) — the "which words changed" readout a corpus
    curator runs between two crawls, on the same split discipline as
    q_split_train_test. Counts are exact integers from one keyed
    aggregate; the z-score is the documented ln/sqrt-safe round(,4)
    class (+ 0.0 on the DuckDB side normalizes the −0.0 divergence).
    The corpus-half totals ride a window over the ≤|vocab| aggregated
    rows, not a second scan."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(
            (F.col("doc_id") % 2).alias("half"),
            F.explode(
                F.filter(
                    F.split(F.lower("text"), "[^a-z]+"),
                    lambda w: w != F.lit(""),
                )
            ).alias("w"),
        )
    )
    p = toks.groupBy("w").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("y1"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("y2"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = p.select(
        "w",
        "y1",
        "y2",
        F.sum("y1").over(wall).alias("n1"),
        F.sum("y2").over(wall).alias("n2"),
    )
    return t.select(
        "w",
        "y1",
        "y2",
        F.expr(
            "round((ln((y1 + 0.5) / (n1 - y1 + 0.5))"
            "       - ln((y2 + 0.5) / (n2 - y2 + 0.5)))"
            "      / sqrt(1.0D / (y1 + 0.5) + 1.0D / (y2 + 0.5)), 4)"
        ).alias("logodds_z"),
    ).orderBy("w")


@query(
    "q_prefix_index",
    oracle="""
    WITH toks AS (
        SELECT w, count(*) AS cnt
        FROM (SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+'))
                  AS w
              FROM documents)
        WHERE w <> ''
        GROUP BY w
    ),
    pfx AS (
        SELECT substr(w, 1, p) AS prefix, w, cnt
        FROM toks, unnest(generate_series(1, least(4, length(w)))) AS t(p)
    )
    SELECT prefix, w AS completion, cnt, CAST(rn AS INT) AS rnk
    FROM (
        SELECT *, row_number() OVER (PARTITION BY prefix
                                     ORDER BY cnt DESC, w) AS rn
        FROM pfx
    ) WHERE rn <= 2
    ORDER BY prefix, rnk
    """,
)
def q_prefix_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocomplete prefix index over the corpus vocabulary: the top-2
    completions by corpus frequency for every 1–4-char prefix — the
    inverted prefix→completion artifact a search-suggest service
    builds offline. One keyed word count collapses the scan to
    |vocab| rows; the ≤4-way prefix expansion and per-prefix ranking
    run post-aggregation (the ranking window is keyed by prefix).
    generate_series rides the list-unnest form (the documented
    lateral-arg gotcha) with a least(4, length) bound so short words
    never build an out-of-range prefix."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.filter(
                    F.split(F.lower("text"), "[^a-z]+"),
                    lambda w: w != F.lit(""),
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    pfx = toks.select(
        "w",
        "cnt",
        F.explode(
            F.sequence(F.lit(1), F.least(F.lit(4), F.length("w")))
        ).alias("p"),
    ).select(
        F.expr("substr(w, 1, p)").alias("prefix"), "w", "cnt"
    )
    w = Window.partitionBy("prefix").orderBy(F.col("cnt").desc(), "w")
    return (
        pfx.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select(
            "prefix",
            F.col("w").alias("completion"),
            "cnt",
            F.col("rn").cast("int").alias("rnk"),
        )
        .orderBy("prefix", "rnk")
    )


@query(
    "q_doc_knn",
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
                   unnest([array_to_string(ws[i:i+3], ' ')
                           FOR i IN generate_series(1, greatest(len(ws) - 3,
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
        SELECT a.doc_id AS qd, b.doc_id AS nb, count(*) AS inter
        FROM capped a JOIN capped b USING (sh)
        WHERE a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    boths AS (
        SELECT qd, nb, inter FROM pair
        UNION ALL
        SELECT nb, qd, inter FROM pair
    ),
    scored AS (
        SELECT qd, nb, inter,
               inter * 10000 // (sq.ns + sn.ns - inter) AS jaccard_e4
        FROM boths
        JOIN sizes sq ON sq.doc_id = qd
        JOIN sizes sn ON sn.doc_id = nb
        WHERE inter >= 2
    )
    SELECT qd AS doc_id, nb AS neighbor_id,
           CAST(inter AS BIGINT) AS n_common,
           CAST(jaccard_e4 AS BIGINT) AS jaccard_e4,
           CAST(rn AS INT) AS rnk
    FROM (
        SELECT *, row_number() OVER (PARTITION BY qd
                                     ORDER BY jaccard_e4 DESC, nb) AS rn
        FROM scored
    ) WHERE rn <= 3
    ORDER BY doc_id, rnk
    """,
)
def q_doc_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 nearest neighbors by exact 4-word-shingle
    Jaccard, found through an inverted shingle index — the k-NN
    companion to q_dedup_ngram's thresholded pair finder (that one
    answers "which pairs exceed τ", this one "who are MY closest
    neighbors", the shape retrieval-dedup triage wants). Candidate
    generation is blocked on the shingle key with a document-frequency
    cap (2 ≤ df ≤ 20): ubiquitous boilerplate shingles — the quadratic
    blowup at 100 TB — never enter the self-join, the same
    stopword-shingle discipline as the banded-LSH operators. Jaccard
    is exact integer arithmetic (inter·10⁴ div union); ranking is
    keyed by query doc."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.lower("text"), "[^a-z]+"), lambda w: w != F.lit("")
    )
    with_ws = docs.select("doc_id", words.alias("ws"))
    # round-14 optimization (the q_shingle_containment pattern):
    # (1) per-doc dedup happens IN-TASK via array_distinct before the
    # explode — the old explode-then-global-distinct paid a full
    # shuffle of shingle strings for a dedup that is per-document by
    # construction; (2) shingles are carried as xxhash64 fingerprints
    # (8-byte join/groupBy keys; counts change only on a same-pair
    # 64-bit collision, birthday bound ≪ 1e-8 — the string-exact
    # oracle still hash-matches); (3) the narrow (doc_id, long) frame
    # is checkpointed once for its four consumers (sizes, df cap, both
    # join sides), which previously each re-ran tokenize + explode.
    sh = (
        with_ws.select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("ws") >= 4,
                    F.array_distinct(
                        F.transform(
                            F.sequence(F.lit(1), F.size("ws") - 3),
                            lambda i: F.array_join(F.slice("ws", i, 4), " "),
                        )
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("s"),
        )
        .select("doc_id", F.xxhash64("s").alias("sh"))
        .localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("ns"))
    df = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("nd"))
        .where((F.col("nd") >= 2) & (F.col("nd") <= 20))
        .select("sh")
    )
    capped = sh.join(df, "sh")
    a = capped.select(F.col("doc_id").alias("qd"), "sh")
    b = capped.select(F.col("doc_id").alias("nb"), "sh")
    pair = (
        a.join(b, "sh")
        .where(F.col("qd") < F.col("nb"))
        .groupBy("qd", "nb")
        .agg(F.count("*").alias("inter"))
    )
    boths = pair.unionAll(
        pair.select(
            F.col("nb").alias("qd"), F.col("qd").alias("nb"), "inter"
        )
    )
    sq = sizes.select(F.col("doc_id").alias("qd"), F.col("ns").alias("nsq"))
    sn = sizes.select(F.col("doc_id").alias("nb"), F.col("ns").alias("nsn"))
    scored = (
        boths.join(sq, "qd")
        .join(sn, "nb")
        .where(F.col("inter") >= 2)
        .select(
            "qd",
            "nb",
            "inter",
            F.expr("inter * 10000 div (nsq + nsn - inter)").alias(
                "jaccard_e4"
            ),
        )
    )
    w = Window.partitionBy("qd").orderBy(F.col("jaccard_e4").desc(), "nb")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            F.col("qd").alias("doc_id"),
            F.col("nb").alias("neighbor_id"),
            F.col("inter").alias("n_common"),
            "jaccard_e4",
            F.col("rn").cast("int").alias("rnk"),
        )
        .orderBy("doc_id", "rnk")
    )


@query(
    "q_graph_kcore",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
               FROM lineitem),
    sz AS (SELECT ok, count(*) AS c FROM b GROUP BY ok),
    e0 AS MATERIALIZED (
        SELECT DISTINCT a.pk AS u, b2.pk AS v
        FROM b a
        JOIN b b2 ON a.ok = b2.ok AND a.pk < b2.pk
        JOIN sz ON sz.ok = a.ok
        WHERE sz.c <= 12
    ),
    n1 AS MATERIALIZED (
        SELECT n FROM (SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0)
        GROUP BY n HAVING count(*) >= 80
    ),
    e1 AS MATERIALIZED (
        SELECT u, v FROM e0
        WHERE u IN (SELECT n FROM n1) AND v IN (SELECT n FROM n1)
    ),
    n2 AS MATERIALIZED (
        SELECT n FROM (SELECT u AS n FROM e1 UNION ALL SELECT v FROM e1)
        GROUP BY n HAVING count(*) >= 80
    ),
    e2 AS MATERIALIZED (
        SELECT u, v FROM e1
        WHERE u IN (SELECT n FROM n2) AND v IN (SELECT n FROM n2)
    ),
    n3 AS MATERIALIZED (
        SELECT n FROM (SELECT u AS n FROM e2 UNION ALL SELECT v FROM e2)
        GROUP BY n HAVING count(*) >= 80
    ),
    e3 AS MATERIALIZED (
        SELECT u, v FROM e2
        WHERE u IN (SELECT n FROM n3) AND v IN (SELECT n FROM n3)
    ),
    n4 AS MATERIALIZED (
        SELECT n FROM (SELECT u AS n FROM e3 UNION ALL SELECT v FROM e3)
        GROUP BY n HAVING count(*) >= 80
    ),
    e4 AS MATERIALIZED (
        SELECT u, v FROM e3
        WHERE u IN (SELECT n FROM n4) AND v IN (SELECT n FROM n4)
    ),
    n5 AS MATERIALIZED (
        SELECT n FROM (SELECT u AS n FROM e4 UNION ALL SELECT v FROM e4)
        GROUP BY n HAVING count(*) >= 80
    ),
    e5 AS MATERIALIZED (
        SELECT u, v FROM e4
        WHERE u IN (SELECT n FROM n5) AND v IN (SELECT n FROM n5)
    )
    SELECT CAST(iter AS INT) AS iter,
           CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges
    FROM (
        SELECT 0 AS iter,
               (SELECT count(DISTINCT n) FROM
                   (SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0))
                   AS n_nodes,
               (SELECT count(*) FROM e0) AS n_edges
        UNION ALL SELECT 1, (SELECT count(*) FROM n1),
                            (SELECT count(*) FROM e1)
        UNION ALL SELECT 2, (SELECT count(*) FROM n2),
                            (SELECT count(*) FROM e2)
        UNION ALL SELECT 3, (SELECT count(*) FROM n3),
                            (SELECT count(*) FROM e3)
        UNION ALL SELECT 4, (SELECT count(*) FROM n4),
                            (SELECT count(*) FROM e4)
        UNION ALL SELECT 5, (SELECT count(*) FROM n5),
                            (SELECT count(*) FROM e5)
    )
    ORDER BY iter
    """,
)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded 80-core peel of the part co-purchase graph (parts
    joined when they share an order; baskets > 12 items excluded from
    pair expansion — the quadratic-basket cap, same discipline as
    q_basket_pairs) via operators/graph.kcore_peel_trace: 6 peel
    levels of drop-degree-<k, reporting surviving nodes and induced
    edges per level. The distributed loop is degree-aggregate +
    broadcast semi-joins with per-round localCheckpoint; the DuckDB
    twin unrolls the recursion into MATERIALIZED CTE levels (the
    pagerank CTE-inlining gotcha, ROUND7_NOTES) — hash-matching the
    full trace proves every intermediate frontier, not just the final
    core."""
    from mapreduce_llm_spark.operators.graph import kcore_peel_trace
    from mapreduce_llm_spark.queries.analytics_r4 import basket_pair_counts

    # round-14 optimization (guide §2.4): the edge list is built with
    # the join-free q_basket_pairs expansion — one collect_set shuffle
    # per order + in-task C(k,2) pair transform — instead of
    # distinct → size-filter join → self-join on l_orderkey (4-5
    # exchanges and two lineitem passes). size(collect_set) ≤ 12 is
    # exactly the oracle's count-of-distinct-parts cap, and the final
    # distinct dedups pairs across orders, so the edge SET (and the
    # whole peel trace) is unchanged.
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    edges = (
        basket_pair_counts(li, "ok", "pk", max_basket_items=12)
        .select(F.col("part_a").alias("u"), F.col("part_b").alias("v"))
        .distinct()
    )
    return kcore_peel_trace(edges, k=80, iters=6)
