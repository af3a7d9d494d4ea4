"""Round-7 oracle-backed batch: behavioral transition analytics
(inter-event timing, audience overlap, conversion lag), commerce
profiling (repeat purchasing, order-size and discount ladders,
supplier reach), corpus-health diagnostics a training-data pipeline
ranks on (lexical concentration, boilerplate/template detection,
shingle-level internal duplication, word-shape profiles), and
embedding-column QA (int8 quantization error bounds, sparsity).

Cross-engine determinism discipline (inherited from analytics_r6's
module header, the systematized round-5/6 gotcha pile): every emitted
ratio derives from EXACT integer or decimal aggregates and is emitted
as a scaled-integer ``*_e4``/``*_e6``/``*_e9`` floor or an exact
``div``; decimal money sums are CAST to string; round(,4) appears
nowhere in this module (nothing here is irrational-valued enough to
need it — quantization error bounds go through order-independent MAX
before their single floor). Multi-row DOUBLE sums appear nowhere.

Scale notes are per-query; the common shapes are: per-key windows
(never global), aggregate-before-join, broadcast 1-row scalar legs
(plan-lint allowlisted with intent), and shuffles keyed on
high-cardinality columns (shingle, (cust, part) pair, user).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_llm_spark.io import load_table
from mapreduce_llm_spark.operators.match_recognize import match_recognize
from mapreduce_llm_spark.operators.ranking import (
    ntile_from_rank,
    partitioned_row_number,
)
from mapreduce_llm_spark.queries.common import ts_micros
from mapreduce_llm_spark.registry import query

_DAY_US = 86_400_000_000


@query(
    "q_transition_time",
    oracle="""
    WITH ord AS (
        SELECT user_id, event_type AS from_type,
               lead(event_type) OVER w AS to_type,
               epoch_us(lead(ts) OVER w) - epoch_us(ts) AS gap_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    t AS (
        SELECT from_type, to_type, count(*) AS n, sum(gap_us) AS sg
        FROM ord WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type
    ),
    tot AS (SELECT sum(n) AS tn FROM t)
    SELECT from_type, to_type,
           CAST(n AS BIGINT)            AS n_trans,
           CAST(sg // n AS BIGINT)      AS mean_gap_us,
           CAST(n * 10000 // tn AS BIGINT) AS share_e4
    FROM t, tot
    ORDER BY from_type, to_type
    """,
)
def q_transition_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed Markov transitions: for each consecutive event-type pair
    within a user's stream, the transition count, MEAN inter-event gap
    (exact integer microseconds — what q_markov_transitions' count
    matrix cannot see), and the pair's share of all transitions. One
    keyed window (user_id) + one 25-row aggregate; the share leg is a
    broadcast 1-row total. All arithmetic is exact int64 (gap sums are
    microsecond integers; means are integer div)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", ts_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    tr = (
        e.withColumn("to_type", F.lead("event_type").over(w))
        .withColumn("gap_us", F.lead("us").over(w) - F.col("us"))
        .where(F.col("to_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), "to_type")
        .agg(F.count("*").alias("n"), F.sum("gap_us").alias("sg"))
    )
    tot = tr.agg(F.sum("n").alias("tn"))
    return (
        tr.crossJoin(F.broadcast(tot))
        .select(
            "from_type",
            "to_type",
            F.col("n").alias("n_trans"),
            F.expr("sg div n").alias("mean_gap_us"),
            F.expr("n * 10000 div tn").alias("share_e4"),
        )
        .orderBy("from_type", "to_type")
    )


@query(
    "q_user_overlap",
    oracle="""
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
    na AS (SELECT event_type, count(*) AS n FROM du GROUP BY event_type),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               count(*) AS n_common
        FROM du a JOIN du b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY type_a, type_b
    )
    SELECT type_a, type_b,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(x.n AS BIGINT)      AS n_a,
           CAST(y.n AS BIGINT)      AS n_b,
           CAST(n_common * 10000 // nullif(x.n + y.n - n_common, 0)
                AS BIGINT)          AS jaccard_e4
    FROM pairs
    JOIN na x ON x.event_type = type_a
    JOIN na y ON y.event_type = type_b
    ORDER BY type_a, type_b
    """,
)
def q_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap: exact Jaccard similarity of the user sets
    behind each event-type pair — the segment-overlap matrix an
    activation pipeline reads before merging audiences. Distinct-first
    (the only full-data shuffle, keyed on (type, user)), THEN the
    self-join runs on the deduplicated (user → ≤5 types) frame, so
    pair expansion is bounded by 10 pairs per user, never |events|².
    Jaccard is exact int64: |A∩B|·1e4 div (|A|+|B|−|A∩B|)."""
    e = load_table(spark, sf_dir, "events")
    du = e.select("event_type", "user_id").distinct()
    na = du.groupBy("event_type").agg(F.count("*").alias("n"))
    a, b = du.alias("a"), du.alias("b")
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
        .agg(F.count("*").alias("n_common"))
    )
    na_a = na.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    na_b = na.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(na_a), "type_a")
        .join(F.broadcast(na_b), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_common",
            "n_a",
            "n_b",
            F.expr(
                "n_common * 10000 div nullif(n_a + n_b - n_common, 0)"
            ).alias("jaccard_e4"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "q_first_purchase_lag",
    oracle="""
    WITH v AS (
        SELECT user_id, min(epoch_us(ts)) AS v_us
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS p_us, any_value(v_us) AS v_us
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > v_us
        GROUP BY e.user_id
    )
    SELECT CAST((p_us - v_us) // 86400000000 AS INT) AS lag_days,
           CAST(count(*) AS BIGINT) AS n_users
    FROM p
    GROUP BY lag_days
    ORDER BY lag_days
    """,
)
def q_first_purchase_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-lag histogram: whole days between a user's FIRST
    view and their first purchase after it — the time-to-convert
    distribution behind activation dashboards (q_time_to_event
    measures per-user hours to ANY conversion; this is the
    view-anchored corpus histogram). Two keyed aggregates + one keyed
    join on user_id; day bucketing is exact integer division of
    microsecond epochs."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", ts_micros("ts").alias("us")
    )
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("v_us"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .where(F.col("us") > F.col("v_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"), F.first("v_us").alias("v_us"))
    )
    return (
        p.select(
            F.expr(f"CAST((p_us - v_us) div {_DAY_US} AS INT)").alias("lag_days")
        )
        .groupBy("lag_days")
        .agg(F.count("*").alias("n_users"))
        .orderBy("lag_days")
    )


@query(
    "q_reorder_rate",
    oracle="""
    WITH cp AS (
        SELECT o_custkey, l_partkey,
               count(DISTINCT l_orderkey) AS n_ord
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_custkey, l_partkey
    )
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN n_ord >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_repeat,
           CAST(sum(CASE WHEN n_ord >= 2 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS repeat_share_e4
    FROM cp JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def q_reorder_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase affinity by brand: the share of (customer,
    part) pairs ordered in two or more DISTINCT orders — the
    replenishment-vs-one-off signal behind assortment planning. The
    (cust, part) aggregate runs FIRST (one keyed shuffle over the
    fact join), and only the collapsed pair frame joins the part
    dimension — the brand join never sees fact-table row counts.
    Ratios are exact int64 div."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cp = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey", "l_partkey")
        .agg(F.count_distinct("l_orderkey").alias("n_ord"))
    )
    return (
        cp.join(p, cp["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.when(F.col("n_ord") >= 2, 1).otherwise(0)).alias("n_repeat"),
        )
        .select(
            "p_brand",
            "n_pairs",
            "n_repeat",
            F.expr("n_repeat * 10000 div n_pairs").alias("repeat_share_e4"),
        )
        .orderBy("p_brand")
    )


@query(
    "q_order_size_profile",
    oracle="""
    WITH per_order AS (
        SELECT l_orderkey, count(*) AS n_lines,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
        FROM lineitem GROUP BY l_orderkey
    ),
    tot AS (SELECT count(*) AS t FROM per_order)
    SELECT CAST(n_lines AS INT) AS n_lines,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(*) * 10000 // t AS BIGINT) AS share_e4,
           CAST(CAST(sum(rev) AS DECIMAL(38,2)) AS VARCHAR) AS revenue
    FROM per_order, tot
    GROUP BY n_lines, t
    ORDER BY n_lines
    """,
)
def q_order_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-size mix: the distribution of lines-per-order with each
    bucket's share and exact decimal revenue — the shape parameter
    behind picking/packing cost models. One keyed aggregate over
    lineitem, a ≤7-row histogram aggregate, and a broadcast 1-row
    total leg. Revenue is decimal end-to-end, CAST to string (the
    q_agg_decimal_exact pattern — no double sum anywhere)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_extendedprice").cast("decimal(18,2)").alias("p")
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.count("*").alias("n_lines"), F.sum("p").alias("rev")
    )
    tot = per_order.agg(F.count("*").alias("t"))
    return (
        per_order.groupBy("n_lines")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("rev").cast("decimal(38,2)").cast("string").alias("revenue"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n_lines").cast("int").alias("n_lines"),
            "n_orders",
            F.expr("n_orders * 10000 div t").alias("share_e4"),
            "revenue",
        )
        .orderBy("n_lines")
    )


@query(
    "q_discount_ladder",
    oracle="""
    SELECT CAST(floor(l_discount * 100 + 0.5) AS INT) AS disc_cents,
           CAST(count(*) AS BIGINT)                    AS n_lines,
           CAST(count(DISTINCT l_orderkey) AS BIGINT)  AS n_orders,
           CAST(sum(l_quantity) AS BIGINT)             AS qty,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                AS DECIMAL(38,2)) AS VARCHAR)          AS gross,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                * 10000 // count(*) AS BIGINT)         AS return_rate_e4
    FROM lineitem
    GROUP BY disc_cents
    ORDER BY disc_cents
    """,
)
def q_discount_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount-level ladder: per discount cent-level, line/order
    volume, shipped quantity, exact decimal gross revenue, and the
    return rate — does discounting correlate with returns. One hash
    aggregate over lineitem grouped by a derived int key (~11 groups).
    Quantities are integer-valued doubles, so their sum is exact in
    IEEE regardless of order and casts to bigint identically on both
    engines; money is decimal-summed and CAST to string."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_discount") * 100 + 0.5).cast("int").alias("disc_cents")
        )
        .agg(
            F.count("*").alias("n_lines"),
            F.count_distinct("l_orderkey").alias("n_orders"),
            F.sum("l_quantity").cast("bigint").alias("qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .cast("string")
            .alias("gross"),
            F.expr(
                "sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)"
                " * 10000 div count(*)"
            ).alias("return_rate_e4"),
        )
        .orderBy("disc_cents")
    )


@query(
    "q_graph_degree",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT l_suppkey, o_custkey
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    deg AS (
        SELECT l_suppkey, count(*) AS degree FROM pairs GROUP BY l_suppkey
    )
    SELECT CAST(length(bin(degree)) AS INT) AS degree_bucket,
           CAST(count(*) AS BIGINT)         AS n_suppliers,
           CAST(min(degree) AS BIGINT)      AS min_degree,
           CAST(max(degree) AS BIGINT)      AS max_degree
    FROM deg
    GROUP BY degree_bucket
    ORDER BY degree_bucket
    """,
)
def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the supplier→customer bipartite graph
    (distinct customers each supplier has shipped to), bucketed by
    bit-length — the power-law fingerprint that decides whether a
    downstream graph join needs skew handling. Distinct-first keyed
    shuffle, then two small aggregates. Bit-length bucketing is
    length(bin(x)) — pure integer string ops on BOTH engines, no
    floor(log2()) boundary hazard at exact powers of two."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    deg = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select("l_suppkey", "o_custkey")
        .distinct()
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("degree"))
    )
    return (
        deg.groupBy(F.length(F.bin("degree")).cast("int").alias("degree_bucket"))
        .agg(
            F.count("*").alias("n_suppliers"),
            F.min("degree").alias("min_degree"),
            F.max("degree").alias("max_degree"),
        )
        .orderBy("degree_bucket")
    )


@query(
    "q_doc_simpson",
    oracle="""
    WITH toks AS (
        SELECT source, w
        FROM (SELECT source,
                     unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
              FROM documents)
        WHERE w <> ''
    ),
    freqs AS (
        SELECT source, w, count(*) AS n FROM toks GROUP BY source, w
    )
    SELECT source,
           CAST(sum(n) AS BIGINT)   AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(floor(CAST(sum(n * (n - 1)) AS DOUBLE)
                      / CAST(sum(n) * (sum(n) - 1) AS DOUBLE)
                      * 1000000) AS BIGINT) AS simpson_e6
    FROM freqs
    GROUP BY source
    ORDER BY source
    """,
)
def q_doc_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical concentration per source: the Simpson index λ =
    Σ n·(n−1) / (N·(N−1)) — the probability two random tokens are the
    same word; repetitive/templated corpora spike it (complements
    q_ttr_heaps' richness view with a concentration view). Both
    numerator and denominator are exact int64 sums; the single double
    division and e6 floor are the identical IEEE ops on both
    engines."""
    docs = load_table(spark, sf_dir, "documents")
    freqs = (
        docs.select(
            "source", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w")
        )
        .where(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count("*").alias("n"))
    )
    return (
        freqs.groupBy("source")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.floor(
                F.sum(F.col("n") * (F.col("n") - 1)).cast("double")
                / (F.sum("n") * (F.sum("n") - 1)).cast("double")
                * 1000000
            ).alias("simpson_e6"),
        )
        .orderBy("source")
    )


@query(
    "q_doc_template",
    oracle="""
    WITH pref AS (
        SELECT source,
               array_to_string(
                   list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                               w -> w <> '')[1:8], ' ') AS prefix
        FROM documents
    ),
    cl AS (
        SELECT source, prefix, count(*) AS c FROM pref GROUP BY source, prefix
    )
    SELECT source,
           CAST(sum(c) AS BIGINT)   AS n_docs,
           CAST(count(*) AS BIGINT) AS n_prefixes,
           CAST(max(c) AS BIGINT)   AS max_cluster,
           CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
               AS n_templated,
           CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 10000
                // sum(c) AS BIGINT) AS templated_share_e4
    FROM cl
    GROUP BY source
    ORDER BY source
    """,
)
def q_doc_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/template detection per source: cluster documents by
    their first-8-word prefix and measure how much of the corpus sits
    in multi-document clusters — the cheap first-pass dedup signal
    that catches mirrored headers/footers before MinHash runs. One
    keyed shuffle on (source, prefix); prefixes are bounded 8-word
    strings, all counting exact."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.lower("text"), "[^a-z]+"), lambda w: w != F.lit("")
    )
    cl = (
        docs.select(
            "source", F.array_join(F.slice(words, 1, 8), " ").alias("prefix")
        )
        .groupBy("source", "prefix")
        .agg(F.count("*").alias("c"))
    )
    return (
        cl.groupBy("source")
        .agg(
            F.sum("c").alias("n_docs"),
            F.count("*").alias("n_prefixes"),
            F.max("c").alias("max_cluster"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias(
                "n_templated"
            ),
        )
        .select(
            "source",
            "n_docs",
            "n_prefixes",
            "max_cluster",
            "n_templated",
            F.expr("n_templated * 10000 div n_docs").alias("templated_share_e4"),
        )
        .orderBy("source")
    )


@query(
    "q_word_profile",
    oracle="""
    WITH toks AS (
        SELECT lang, w
        FROM (SELECT lang,
                     unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
              FROM documents)
        WHERE w <> ''
    )
    SELECT lang,
           CAST(count(*) AS BIGINT)           AS n_tokens,
           CAST(count(DISTINCT w) AS BIGINT)  AS n_types,
           CAST(sum(length(w)) * 10000 // count(*) AS BIGINT)
               AS mean_len_e4,
           CAST(max(length(w)) AS INT)        AS max_len
    FROM toks
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_word_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-shape profile per language label: token/type volume, mean
    word length (exact int64 e4), and the longest token — the
    tokenizer-cost predictor (long-token languages inflate BPE fallback
    work; see q_cost_estimate). One explode + one hash aggregate; all
    arithmetic exact."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "lang", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w")
        )
        .where(F.col("w") != "")
    )
    return (
        toks.groupBy("lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.count_distinct("w").alias("n_types"),
            F.expr("sum(length(w)) * 10000 div count(*)").alias("mean_len_e4"),
            F.max(F.length("w")).cast("int").alias("max_len"),
        )
        .orderBy("lang")
    )


@query(
    "q_shingle_dup_rate",
    oracle="""
    WITH ws AS (
        SELECT source, doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                           w -> w <> '') AS ws
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT source, doc_id, sh
        FROM (
            SELECT source, doc_id,
                   unnest([array_to_string(ws[i:i+4], ' ')
                           FOR i IN generate_series(1, greatest(len(ws) - 4, 0))])
                       AS sh
            FROM ws
        )
    ),
    spread AS (
        SELECT sh, count(DISTINCT doc_id) AS nd FROM sh GROUP BY sh
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared,
           CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS shared_share_e4
    FROM sh JOIN spread USING (sh)
    GROUP BY source
    ORDER BY source
    """,
)
def q_shingle_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-level internal duplication: the share of each source's
    distinct 5-word shingles that also occur in at least one OTHER
    document — finer-grained than q_ngram_novelty's 3-gram
    source-exclusivity (doc-level spread, 5-gram window, dedup
    health not novelty). Shuffles are keyed on the shingle string —
    high cardinality, uniform by construction; no all-pairs doc join
    anywhere (the inverted-index shape, like q_dedup_ngram). The
    size>=5 guard rides greatest(len-4, 0) / sequence-descend rules
    identically on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.lower("text"), "[^a-z]+"), lambda w: w != F.lit("")
    )
    with_ws = docs.select("source", "doc_id", words.alias("ws"))
    sh = (
        with_ws.select(
            "source",
            "doc_id",
            F.explode(
                F.when(
                    F.size("ws") >= 5,
                    F.transform(
                        F.sequence(F.lit(1), F.size("ws") - 4),
                        lambda i: F.array_join(F.slice("ws", i, 5), " "),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("sh"),
        )
        .distinct()
    )
    spread = sh.groupBy("sh").agg(F.count_distinct("doc_id").alias("nd"))
    return (
        sh.join(spread, "sh")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias("n_shared"),
        )
        .select(
            "source",
            "n_shingles",
            "n_shared",
            F.expr("n_shared * 10000 div n_shingles").alias("shared_share_e4"),
        )
        .orderBy("source")
    )


@query(
    "q_customer_migration",
    oracle="""
    WITH spend AS (
        SELECT CAST(year(o_orderdate) AS INT) AS yr, o_custkey,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sp
        FROM orders GROUP BY yr, o_custkey
    ),
    t AS (
        SELECT yr, o_custkey,
               ntile(3) OVER (PARTITION BY yr ORDER BY sp DESC, o_custkey)
                   AS terc
        FROM spend
    ),
    tr AS (
        SELECT a.yr AS from_yr, a.terc AS from_terc, b.terc AS to_terc,
               count(*) AS n
        FROM t a JOIN t b
          ON a.o_custkey = b.o_custkey AND b.yr = a.yr + 1
        GROUP BY from_yr, from_terc, to_terc
    ),
    tot AS (
        SELECT from_yr, from_terc, sum(n) AS tn
        FROM tr GROUP BY from_yr, from_terc
    )
    SELECT from_yr,
           CAST(from_terc AS INT)  AS from_terc,
           CAST(to_terc AS INT)    AS to_terc,
           CAST(n AS BIGINT)       AS n_customers,
           CAST(n * 10000 // tn AS BIGINT) AS share_e4
    FROM tr JOIN tot USING (from_yr, from_terc)
    ORDER BY from_yr, from_terc, to_terc
    """,
)
def q_customer_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year spend-tercile migration matrix: customers ranked
    into terciles within each year, then the transition counts into
    next year's terciles — the churn/upsell mobility dashboard. The
    per-year ranking uses operators/ranking.partitioned_row_number:
    year cardinality is tiny while each year's customer set is the
    whole base, exactly the skew shape where a plain
    Window.partitionBy(yr) funnels everything through |years| tasks —
    the range-partition + per-(partition, year) offset construction
    keeps it distributed (and ntile_from_rank reproduces SQL ntile
    semantics exactly, property-tested against DuckDB). Spend is
    decimal-summed; shares are exact int64 div."""
    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("int").alias("yr"),
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
    )
    spend = o.groupBy("yr", "o_custkey").agg(F.sum("p").alias("sp"))
    ranked = partitioned_row_number(
        spend, ["yr"], [F.col("sp").desc(), F.col("o_custkey")], alias="rn"
    )
    # per-year totals off the operator's materialized output — not a
    # second orders scan+rollup (round-14 optimization; same multiset)
    totals = ranked.groupBy("yr").agg(F.count("*").alias("ty"))
    t = ranked.join(F.broadcast(totals), "yr").withColumn(
        "terc", ntile_from_rank(F.col("rn"), F.col("ty"), 3)
    )
    # round-14 optimization (guide §2.4): spend is unique per
    # (yr, o_custkey), so "this year's tercile joined to next year's"
    # is a lead() over the per-customer year sequence kept only where
    # the next year is consecutive — ONE hash exchange on o_custkey
    # replaces the a⋈b self-join's two exchanges + merge sorts. Row set
    # identical: the join matched exactly the (yr, yr+1) pairs per
    # customer, which is lead(yr) == yr + 1.
    wck = Window.partitionBy("o_custkey").orderBy("yr")
    tr = (
        t.withColumn("to_yr", F.lead("yr").over(wck))
        .withColumn("to_terc", F.lead("terc").over(wck))
        .where(F.col("to_yr") == F.col("yr") + 1)
        .select(
            F.col("yr").alias("from_yr"),
            F.col("terc").alias("from_terc"),
            "to_terc",
        )
        .groupBy("from_yr", "from_terc", "to_terc")
        .agg(F.count("*").alias("n_customers"))
    )
    tot = tr.groupBy("from_yr", "from_terc").agg(
        F.sum("n_customers").alias("tn")
    )
    return (
        tr.join(F.broadcast(tot), ["from_yr", "from_terc"])
        .select(
            "from_yr",
            "from_terc",
            "to_terc",
            "n_customers",
            F.expr("n_customers * 10000 div tn").alias("share_e4"),
        )
        .orderBy("from_yr", "from_terc", "to_terc")
    )


@query(
    "q_match_overlap",
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
    probe AS (
        SELECT user_id, rows_, i,
               regexp_extract(substr(str, CAST(i AS INT)), '^vc+p') AS m
        FROM seqs, unnest(generate_series(1, length(str))) AS t(i)
    ),
    m AS (
        SELECT user_id, i AS start_pos, length(m) AS mlen, rows_,
               row_number() OVER (PARTITION BY user_id ORDER BY i)
                   AS match_no
        FROM probe WHERE m <> ''
    )
    SELECT user_id,
           CAST(match_no AS INT)    AS match_no,
           CAST(start_pos AS BIGINT) AS start_pos,
           CAST(mlen AS INT)        AS n_events,
           CAST(epoch_us(rows_[CAST(start_pos + mlen - 1 AS BIGINT)].ts)
                - epoch_us(rows_[CAST(start_pos AS BIGINT)].ts) AS BIGINT)
               AS span_us,
           round(list_sum(list_transform(
                     rows_[CAST(start_pos AS BIGINT):CAST(start_pos + mlen - 1 AS BIGINT)],
                     r -> coalesce(r.value, 0.0))), 4) AS spend
    FROM m
    ORDER BY user_id, match_no
    """,
)
def q_match_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE in AFTER MATCH SKIP TO NEXT ROW mode — the
    overlap semantics the round-6 operator documented as a
    restriction, closed this round: every row starts a fresh anchored
    probe, so nested funnels (a view inside a longer view→click→
    purchase run) surface as their own matches. The oracle re-derives
    the matches INDEPENDENTLY: same symbol encoding, but DuckDB
    probes substr(str, i) with an anchored regexp_extract per
    position — a cross-implementation proof of the overlap position
    algebra. Histories cap at 1000 events/user on both engines (the
    O(L²) overlap bound both engines pay; see
    operators/match_recognize.py)."""
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
        after_match="skip_to_next_row",
    )
    first_ts = F.element_at("match_rows", 1)["ts"].cast("timestamp")
    last_ts = F.element_at("match_rows", -1)["ts"].cast("timestamp")
    return m.select(
        "user_id",
        F.col("match_no").cast("int").alias("match_no"),
        F.col("start_pos").cast("long").alias("start_pos"),
        F.col("match_len").cast("int").alias("n_events"),
        (F.unix_micros(last_ts) - F.unix_micros(first_ts))
        .cast("long")
        .alias("span_us"),
        F.round(
            F.aggregate(
                "match_rows",
                F.lit(0.0),
                lambda a, r: a + F.coalesce(r["value"], F.lit(0.0)),
            ),
            4,
        ).alias("spend"),
    ).orderBy("user_id", "match_no")


@query(
    "q_brand_price_median",
    oracle="""
    WITH r AS (
        SELECT p_brand, p_retailprice,
               row_number() OVER (
                   PARTITION BY p_brand
                   ORDER BY p_retailprice, p_partkey) AS rn,
               count(*) OVER (PARTITION BY p_brand) AS nb
        FROM part
    )
    SELECT p_brand,
           CAST(max(nb) AS BIGINT)  AS n_parts,
           min(p_retailprice)       AS min_price,
           max(CASE WHEN rn = (nb + 1) // 2
                    THEN p_retailprice END) AS median_price,
           max(p_retailprice)       AS max_price
    FROM r
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def q_brand_price_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT (discrete, lower-median) price median per brand via the
    distributed partitioned ranking operator — no interpolation, no
    approx-percentile sketch: the median is the stored value at rank
    (n+1)//2, so the output carries raw untouched doubles (nothing to
    round, nothing to diverge). 25 brands × the whole part table is
    the low-cardinality-key skew shape partitioned_row_number exists
    for; counts join back broadcast."""
    p = load_table(spark, sf_dir, "part").select(
        "p_brand", "p_partkey", "p_retailprice"
    )
    ranked = partitioned_row_number(
        p, ["p_brand"], [F.col("p_retailprice"), F.col("p_partkey")], alias="rn"
    )
    # round-14 audit: counts/stats stay on the direct part scans (bare
    # pruned-column scans + partial aggs; the derive-from-checkpoint
    # rewrite only pays when the recomputed subtree holds a
    # join/window/explode — see q_quantile_normalize)
    counts = p.groupBy("p_brand").agg(F.count("*").alias("nb"))
    stats = p.groupBy("p_brand").agg(
        F.min("p_retailprice").alias("min_price"),
        F.max("p_retailprice").alias("max_price"),
    )
    med = (
        ranked.join(F.broadcast(counts), "p_brand")
        .where(F.expr("rn = (nb + 1) div 2"))
        .select(
            "p_brand",
            F.col("nb").alias("n_parts"),
            F.col("p_retailprice").alias("median_price"),
        )
    )
    return (
        med.join(F.broadcast(stats), "p_brand")
        .select("p_brand", "n_parts", "min_price", "median_price", "max_price")
        .orderBy("p_brand")
    )


@query(
    "q_transition_median",
    oracle="""
    WITH ord AS (
        SELECT user_id, event_id, event_type AS from_type,
               lead(event_type) OVER w AS to_type,
               epoch_us(lead(ts) OVER w) - epoch_us(ts) AS gap_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    g AS (SELECT * FROM ord WHERE to_type IS NOT NULL),
    r AS (
        SELECT from_type, to_type, gap_us,
               row_number() OVER (
                   PARTITION BY from_type, to_type
                   ORDER BY gap_us, user_id, event_id) AS rn,
               count(*) OVER (PARTITION BY from_type, to_type) AS n
        FROM g
    )
    SELECT from_type, to_type,
           CAST(max(n) AS BIGINT) AS n_trans,
           CAST(max(CASE WHEN rn = (n + 1) // 2 THEN gap_us END) AS BIGINT)
               AS median_gap_us
    FROM r
    GROUP BY from_type, to_type
    ORDER BY from_type, to_type
    """,
)
def q_transition_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT median inter-event gap per transition pair — the robust
    companion to q_transition_time's mean (skewed gaps make the mean
    lie; the median is what a latency SLO reads). 25 (from, to) pairs
    × every transition in the corpus: the partitioned-ranking skew
    shape again, exact integer microseconds end-to-end."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", ts_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    g = (
        e.withColumn("to_type", F.lead("event_type").over(w))
        .withColumn("gap_us", F.lead("us").over(w) - F.col("us"))
        .where(F.col("to_type").isNotNull())
        .select(
            F.col("event_type").alias("from_type"),
            "to_type",
            "gap_us",
            "user_id",
            "event_id",
        )
    )
    ranked = partitioned_row_number(
        g,
        ["from_type", "to_type"],
        [F.col("gap_us"), F.col("user_id"), F.col("event_id")],
        alias="rn",
    )
    # pair counts off the operator's materialized output — not a second
    # events scan + lead-window pass (round-14 optimization)
    counts = ranked.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n")
    )
    return (
        ranked.join(F.broadcast(counts), ["from_type", "to_type"])
        .where(F.expr("rn = (n + 1) div 2"))
        .select(
            "from_type",
            "to_type",
            F.col("n").alias("n_trans"),
            F.col("gap_us").alias("median_gap_us"),
        )
        .orderBy("from_type", "to_type")
    )


@query(
    "q_rolling_distinct",
    oracle="""
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ),
    days AS (SELECT DISTINCT d FROM du),
    spread AS (
        SELECT DISTINCT obs, user_id
        FROM (SELECT user_id,
                     unnest(generate_series(d, d + 6, INTERVAL 1 DAY)) AS obs
              FROM du)
    )
    SELECT strftime(CAST(s.obs AS DATE), '%Y-%m-%d') AS day,
           CAST(count(DISTINCT s.user_id) AS BIGINT) AS n_active_7d
    FROM spread s JOIN days ON CAST(s.obs AS DATE) = days.d
    GROUP BY day
    ORDER BY day
    """,
)
def q_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the DAU/WAU
    surface. Rolling COUNT DISTINCT cannot ride a window frame
    (distinct doesn't decompose); the scalable form is the
    contribution expansion: each (day, user) activity contributes to
    the 7 observation days that cover it, then one distinct-aggregate
    per observation day. Expansion factor is the window width (×7,
    bounded), shuffles stay keyed on (day, user); no per-day rescans
    of the corpus."""
    e = load_table(spark, sf_dir, "events")
    du = e.select(
        F.col("ts").cast("date").alias("d"), "user_id"
    ).distinct()
    days = du.select("d").distinct()
    spread = du.select(
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias(
            "obs"
        ),
        "user_id",
    ).distinct()
    return (
        spread.join(F.broadcast(days), spread["obs"] == days["d"])
        .groupBy(F.date_format("obs", "yyyy-MM-dd").alias("day"))
        .agg(F.count_distinct("user_id").alias("n_active_7d"))
        .orderBy("day")
    )


@query(
    "q_supplier_hhi",
    oracle="""
    WITH rev AS (
        SELECT p_type, l_suppkey,
               sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS s
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_type, l_suppkey
    )
    SELECT p_type,
           CAST(count(*) AS BIGINT)      AS n_suppliers,
           CAST(sum(s) AS VARCHAR)       AS tot_cents,
           CAST(floor(CAST(sum(s * s) AS DOUBLE)
                      / (CAST(sum(s) AS DOUBLE) * CAST(sum(s) AS DOUBLE))
                      * 1000000) AS BIGINT) AS hhi_e6
    FROM rev
    GROUP BY p_type
    ORDER BY p_type
    """,
)
def q_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-concentration Herfindahl index per part type: Σ share²
    over suppliers, the antitrust/risk concentration measure
    (q_lorenz_curve ranks global inequality; HHI is the per-market
    scalar). EXACT integer arithmetic throughout: revenue in cents
    (floor(x·100+0.5) of 2-decimal money is the identical IEEE
    multiply+floor), squared and summed in DECIMAL(38,0) on Spark /
    HUGEINT on DuckDB — both exact — with ONE double division and e6
    floor at the end (correctly-rounded int→double casts are engine-
    identical). No float sum anywhere."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_type", "l_suppkey")
        .agg(F.sum("cents").alias("s"))
    )
    return (
        rev.groupBy("p_type")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.sum("s").alias("tot"),
            F.sum(F.col("s").cast("decimal(38,0)") * F.col("s")).alias("ss"),
        )
        .select(
            "p_type",
            "n_suppliers",
            F.col("tot").cast("string").alias("tot_cents"),
            F.floor(
                F.col("ss").cast("double")
                / (F.col("tot").cast("double") * F.col("tot").cast("double"))
                * 1000000
            ).alias("hhi_e6"),
        )
        .orderBy("p_type")
    )


@query(
    "q_ship_delay",
    oracle="""
    SELECT CAST(date_diff('day', CAST(o_orderdate AS DATE),
                          CAST(l_shipdate AS DATE)) // 7 AS INT) AS delay_wk,
           CAST(count(*) AS BIGINT)        AS n_lines,
           CAST(sum(l_quantity) AS BIGINT) AS qty,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                * 10000 // count(*) AS BIGINT) AS return_rate_e4
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY delay_wk
    ORDER BY delay_wk
    """,
)
def q_ship_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment-delay ladder: order-to-ship lag in whole weeks, with
    volume and the return rate per bucket — does slow fulfillment
    correlate with returns (the ops-quality twin of
    q_discount_ladder). One fact join keyed on orderkey + one small
    hash aggregate; day/week arithmetic is exact integer."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_quantity", "l_returnflag"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.expr(
                "CAST(datediff(CAST(l_shipdate AS DATE),"
                " CAST(o_orderdate AS DATE)) div 7 AS INT)"
            ).alias("delay_wk")
        )
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("l_quantity").cast("bigint").alias("qty"),
            F.expr(
                "sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)"
                " * 10000 div count(*)"
            ).alias("return_rate_e4"),
        )
        .orderBy("delay_wk")
    )


@query(
    "q_value_bands",
    oracle="""
    SELECT CAST(length(bin(CAST(floor(o_totalprice) AS BIGINT))) AS INT)
               AS band,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                AS DECIMAL(38,2)) AS VARCHAR) AS revenue
    FROM orders
    GROUP BY band
    ORDER BY band
    """,
)
def q_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-value magnitude bands (bit-length of the floored total —
    power-of-two buckets without floor(log2()) boundary hazards, the
    q_graph_degree idiom) with exact decimal revenue per band — the
    order-book shape profile. One hash aggregate; explicit floor()
    before the bigint cast because Spark truncates double→long while
    DuckDB rounds."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.length(F.bin(F.floor("o_totalprice").cast("bigint")))
            .cast("int")
            .alias("band")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .cast("string")
            .alias("revenue"),
        )
        .orderBy("band")
    )


@query(
    "q_zorder_incremental",
    oracle="""
    WITH base AS (
        SELECT o_custkey, o_orderdate, 0 AS is_delta
        FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
    ),
    delta AS (
        SELECT o_custkey, o_orderdate, 1 AS is_delta
        FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
    ),
    b AS (
        SELECT min(o_custkey) AS ck_lo, max(o_custkey) AS ck_hi,
               min(CAST(o_orderdate AS DATE)) AS d_lo,
               max(CAST(o_orderdate AS DATE)) AS d_hi
        FROM base
    ),
    u AS (SELECT * FROM base UNION ALL SELECT * FROM delta),
    g AS (
        SELECT is_delta,
            greatest(0, least(16383, CAST(floor(
                (CAST(o_custkey AS DOUBLE) - ck_lo)
                / (ck_hi - ck_lo + 1e-300) * 16384) AS BIGINT))) AS xb,
            greatest(0, least(16383, CAST(floor(
                (CAST(date_diff('day', d_lo, CAST(o_orderdate AS DATE)) AS DOUBLE) - 0)
                / (date_diff('day', d_lo, d_hi) - 0 + 1e-300) * 16384) AS BIGINT))) AS yb
        FROM u, b
    ),
    gz AS (
        SELECT is_delta,
               CAST(list_sum([
                   ((xb >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i))
                   + ((yb >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i + 1))
                   FOR i IN generate_series(0, 13)]) AS BIGINT) AS z
        FROM g
    ),
    f AS (
        SELECT z >> 22 AS file_id,
               sum(1 - is_delta) AS n_base,
               sum(is_delta)     AS n_delta
        FROM gz GROUP BY file_id
    )
    SELECT CAST(file_id AS INT)  AS file_id,
           CAST(n_base AS BIGINT)  AS n_base,
           CAST(n_delta AS BIGINT) AS n_delta,
           n_delta > 0             AS needs_rewrite
    FROM f
    ORDER BY file_id
    """,
)
def q_zorder_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot INCREMENTAL z-order maintenance (VERDICT r6 item
    6): a z-ordered table is published as snapshot v1 (orders before
    2000, chopped into 64 fixed z-range files on the custkey×day
    Morton grid), a late-arriving delta lands as snapshot v2, and the
    query answers the maintenance planner's question — which of v1's
    files does the delta's z-footprint force a rewrite of, and which
    stay immutable. THE GRID BOUNDS COME FROM THE BASE ONLY (v1's
    layout predates the delta; scale_to_bits clamps out-of-range delta
    days onto the grid edge — the documented append-stability
    property), so the whole computation is a pure function of orders
    that DuckDB reproduces bit-for-bit, while the Spark side routes it
    through REAL snapshot writes + time-travel reads
    (operators/snapshots.py): v1 supplies the base per-file counts, v2
    supplies the delta's, proving the two layers compose. The 2-row
    bounds leg is a broadcast cross (allowlisted); the scratch table
    is deleted after an eager materialization of the ≤64-row answer.

    At 100 TB this IS the OPTIMIZE-incremental planner: footprints are
    manifest-sized, untouched files never rewrite, and the rewrite set
    is proportional to the delta's z-spread, not the table size."""
    import shutil
    import tempfile

    from mapreduce_llm_spark.operators.snapshots import (
        read_snapshot,
        write_snapshot,
    )
    from mapreduce_llm_spark.operators.zorder import scale_to_bits, z_value

    BITS = 14
    SPLIT = "2000-01-01"
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    base = o.where(F.col("o_orderdate") < SPLIT)
    delta = o.where(F.col("o_orderdate") >= SPLIT)
    bounds = base.agg(
        F.min("o_custkey").alias("ck_lo"),
        F.max("o_custkey").alias("ck_hi"),
        F.min(F.col("o_orderdate").cast("date")).alias("d_lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("d_hi"),
    )

    def gridded(df: DataFrame, flag: int) -> DataFrame:
        xb = scale_to_bits(F.col("o_custkey"), F.col("ck_lo"), F.col("ck_hi"), BITS)
        yb = scale_to_bits(
            F.datediff(F.col("o_orderdate").cast("date"), F.col("d_lo")),
            F.lit(0),
            F.datediff(F.col("d_hi"), F.col("d_lo")),
            BITS,
        )
        return df.join(F.broadcast(bounds)).select(
            F.shiftright(z_value(xb, yb, BITS), 2 * BITS - 6)
            .cast("int")
            .alias("file_id"),
            F.lit(flag).alias("is_delta"),
        )

    base_g, delta_g = gridded(base, 0), gridded(delta, 1)
    table = tempfile.mkdtemp(prefix="mrs_zinc_tbl_")
    try:
        v1 = write_snapshot(base_g, table)
        v2 = write_snapshot(base_g.unionByName(delta_g), table)
        nb = (
            read_snapshot(spark, table, version=v1)
            .groupBy("file_id")
            .agg(F.count("*").alias("n_base"))
        )
        nd = (
            read_snapshot(spark, table, version=v2)
            .where(F.col("is_delta") == 1)
            .groupBy("file_id")
            .agg(F.count("*").alias("n_delta"))
        )
        out = (
            nb.join(nd, "file_id", "full_outer")
            .select(
                "file_id",
                F.coalesce("n_base", F.lit(0)).alias("n_base"),
                F.coalesce("n_delta", F.lit(0)).alias("n_delta"),
                (F.coalesce("n_delta", F.lit(0)) > 0).alias("needs_rewrite"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(table, ignore_errors=True)
    return out.orderBy("file_id")


@query(
    "q_embed_quantize",
    oracle="""
    WITH x AS (
        SELECT label, vec_id, CAST(u.v AS DOUBLE) AS v
        FROM embeddings, unnest(embedding) AS u(v)
    ),
    s AS (SELECT label, max(abs(v)) AS s FROM x GROUP BY label),
    q AS (
        SELECT x.label, vec_id, v, s,
               floor(v / s * 127 + 0.5) AS qv
        FROM x JOIN s USING (label)
    )
    SELECT label,
           CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs,
           CAST(floor(max(s) * 1e9) AS BIGINT)    AS scale_e9,
           CAST(floor(max(abs(v - qv * s / 127)) * 1e9) AS BIGINT)
               AS max_err_e9,
           CAST(sum(CASE WHEN qv = 127 OR qv = -127 THEN 1 ELSE 0 END)
                AS BIGINT)                        AS n_saturated,
           CAST(sum(CASE WHEN qv = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero
    FROM q
    GROUP BY label
    ORDER BY label
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 symmetric quantization QA per label: the per-label scale
    (max |x|), the WORST-CASE reconstruction error after
    quantize→dequantize, and saturation/zero counts — the go/no-go
    check before storing embeddings quantized. Error goes through an
    order-independent MAX (never a float sum), then one e9 floor; the
    quantizer is floor(x/s·127 + 0.5), i.e. round-half-up spelled as
    the identical IEEE multiply+floor on both engines. Explode is
    JVM-side; scale joins back keyed on label (10 rows,
    broadcast)."""
    em = load_table(spark, sf_dir, "embeddings")
    x = em.select(
        "label",
        "vec_id",
        F.explode(F.col("embedding").cast("array<double>")).alias("v"),
    )
    s = x.groupBy("label").agg(F.max(F.abs("v")).alias("s"))
    q = x.join(F.broadcast(s), "label").withColumn(
        "qv", F.floor(F.col("v") / F.col("s") * 127 + 0.5)
    )
    return (
        q.groupBy("label")
        .agg(
            F.count_distinct("vec_id").alias("n_vecs"),
            F.floor(F.max("s") * 1e9).alias("scale_e9"),
            F.floor(
                F.max(F.abs(F.col("v") - F.col("qv") * F.col("s") / 127)) * 1e9
            ).alias("max_err_e9"),
            F.sum(
                F.when((F.col("qv") == 127) | (F.col("qv") == -127), 1).otherwise(0)
            ).alias("n_saturated"),
            F.sum(F.when(F.col("qv") == 0, 1).otherwise(0)).alias("n_zero"),
        )
        .orderBy("label")
    )


@query(
    "q_embed_sparsity",
    oracle="""
    WITH x AS (
        SELECT label, CAST(u.v AS DOUBLE) AS v
        FROM embeddings, unnest(embedding) AS u(v)
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_dims,
           CAST(sum(CASE WHEN abs(v) < 0.05 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_small,
           CAST(sum(CASE WHEN abs(v) < 0.05 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS small_share_e4
    FROM x
    GROUP BY label
    ORDER BY label
    """,
)
def q_embed_sparsity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding sparsity per label: the share of near-zero components
    (|x| < 0.05) — decides whether a sparse ANN index or pruned dot
    product pays off for this column. Pure counting after one JVM
    explode; the threshold compare runs on exactly-widened
    float→double values, identical on both engines."""
    em = load_table(spark, sf_dir, "embeddings")
    x = em.select(
        "label", F.explode(F.col("embedding").cast("array<double>")).alias("v")
    )
    return (
        x.groupBy("label")
        .agg(
            F.count("*").alias("n_dims"),
            F.sum(F.when(F.abs("v") < 0.05, 1).otherwise(0)).alias("n_small"),
        )
        .select(
            "label",
            "n_dims",
            "n_small",
            F.expr("n_small * 10000 div n_dims").alias("small_share_e4"),
        )
        .orderBy("label")
    )
