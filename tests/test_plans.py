"""Physical-plan assertions — the 100-TB design claims as tests.

Each operator's docstring promises a plan property (filter pushdown,
column pruning, broadcast dims, map-side partial aggregation, top-k
without a global sort, shuffle-free unions). These tests pin those
properties so a refactor that silently degrades the plan fails here,
not on a cluster.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_llm_spark import registry
from tests.conftest import SF_DIR, last_executed_plan

registry.load_all()


def plan_of(spark, name: str, mode: str = "simple") -> str:
    df = registry.QUERIES[name](spark, SF_DIR)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_scan_project_prunes_columns(spark):
    plan = plan_of(spark, "q_scan_project")
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "l_orderkey" in scan and "l_partkey" in scan and "l_quantity" in scan
    assert "l_extendedprice" not in scan and "l_shipdate" not in scan


def test_filter_pred_pushes_down(spark):
    plan = plan_of(spark, "q_filter_pred", mode="formatted")
    assert "PushedFilters: [" in plan
    pushed = plan[plan.index("PushedFilters: [") :].split("]")[0]
    for frag in ("GreaterThanOrEqual(l_discount", "In(l_returnflag", "IsNotNull"):
        assert frag in pushed, f"{frag} not pushed: {pushed}"


def test_star_join_broadcasts_dims(spark):
    plan = plan_of(spark, "q_join_multi")
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_broadcast_join_no_shuffle_on_probe(spark):
    plan = plan_of(spark, "q_join_broadcast")
    assert "BroadcastHashJoin" in plan
    # the only Exchange allowed is the broadcast itself + the final agg
    assert "SortMergeJoin" not in plan


def test_agg_basic_partial_aggregation(spark):
    """Map-side combine: a partial HashAggregate must run before the
    exchange so only |groups|×|partitions| rows shuffle."""
    plan = plan_of(spark, "q_agg_basic")
    assert "partial_sum" in plan or "partial_avg" in plan
    first_agg = plan.index("HashAggregate")
    assert "HashAggregate" in plan[first_agg + 10 :], "need partial+final pair"


def test_topk_uses_take_ordered_not_global_sort(spark):
    plan = plan_of(spark, "q_topk")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_union_all_is_narrow(spark):
    plan = plan_of(spark, "q_union_all")
    assert "Exchange" not in plan, "UNION ALL must not shuffle"


def test_window_single_shuffle_per_key(spark):
    """q_win_rank partitions by o_custkey once; no second exchange for
    the rank filter."""
    plan = plan_of(spark, "q_win_rank")
    assert plan.count("Exchange hashpartitioning") == 1


def test_semi_anti_joins_stay_joins(spark):
    for name in ("q_join_semi", "q_join_anti"):
        plan = plan_of(spark, name)
        assert "Semi" in plan or "Anti" in plan
        assert "CartesianProduct" not in plan


def test_theta_join_is_not_cartesian(spark):
    """The equi conjunct must carry the join; the band predicate is a
    residual filter, never a cross product."""
    plan = plan_of(spark, "q_join_theta")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def _final_plan_tree(description: str) -> str:
    """The operator tree of a formatted plan description, final AQE
    plan only (the initial plan repeats every node)."""
    tree = description.split("\n\n")[0]
    return tree.split("+- == Initial Plan ==")[0]


def test_minhash_pipeline_no_python_udf(spark):
    """The MinHash+LSH dedup is pure JVM built-ins — no Python worker
    in the plan (the scalability claim of operators/dedup.py). The
    operator eagerly checkpoints its pair set, so the plan it ran is
    read back from the status store."""
    from mapreduce_llm_spark.operators.dedup import minhash_near_dup_pairs
    from mapreduce_llm_spark.queries.llm_pipeline import _neardup_corpus

    minhash_near_dup_pairs(
        _neardup_corpus(spark, SF_DIR), "text", "doc_id",
        threshold=0.5, num_hashes=32, bands=8,
    )
    plan = last_executed_plan(spark)
    assert "InMemoryRelation" in plan, "not the operator's checkpoint job"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "mapinpandas" not in plan.lower()


def test_sim_search_no_shuffle_before_topk(spark):
    plan = plan_of(spark, "q_sim_search")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_ngram_dedup_is_inverted_index_join(spark):
    """The exact-Jaccard verify is an inverted-index equi-join (explode
    shingles on both sides, count per pair), not a blocked cross with
    per-pair set ops — the SCALING.md claim. Generate = explode; the
    intersection count is a partial+final HashAggregate pair. Read
    from the executed plan (see test_minhash_pipeline_no_python_udf)."""
    from mapreduce_llm_spark.operators.dedup import ngram_jaccard_pairs
    from mapreduce_llm_spark.queries.llm_pipeline import _neardup_corpus

    ngram_jaccard_pairs(
        _neardup_corpus(spark, SF_DIR), "text", "doc_id",
        ["lang", "source"], threshold=0.5,
    )
    plan = _final_plan_tree(last_executed_plan(spark))
    assert plan.count("Generate") >= 2
    assert "HashAggregate" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_dedup_queries_release_their_caches(spark):
    """The registered fuzzy/ngram dedup queries must not leak cached
    DataFrames into the session's cache manager (VERDICT r3 item 3):
    the operators eagerly materialize and unpersist internally."""
    # the session is shared across the suite and other operators cache
    # legitimately (e.g. the IVF index); start from a clean slate so
    # the assertion measures THESE queries' behavior (clearing is safe:
    # Spark caching is transparent to correctness)
    spark.catalog.clearCache()
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    for name in ("q_dedup_fuzzy", "q_dedup_ngram"):
        df = registry.QUERIES[name](spark, SF_DIR)
        df.count()
        assert cache_mgr.isEmpty(), f"{name} left a cached plan behind"


def test_sim_rerank_both_stages_takeordered(spark):
    """Both rerank stages are TakeOrdered (per-partition heap + k-merge,
    no global sort) and the whole plan stays JVM-side — the coarse
    stage's cost claim (reads a 16-dim slice, no shuffle)."""
    plan = plan_of(spark, "q_sim_rerank")
    assert plan.count("TakeOrderedAndProject") == 2
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_salted_join_keys_include_salt(spark):
    """The salt must be part of the join key — that's the entire
    mechanism (a hot l_orderkey spreads over n_salts partitions when
    the join shuffles; at test SF Catalyst may broadcast instead, which
    is fine — the keys are what we pin)."""
    plan = plan_of(spark, "q_join_salted")
    join_lines = [l for l in plan.splitlines() if "Join" in l and "l_orderkey" in l]
    assert join_lines and all("__mrs_salt" in l for l in join_lines), join_lines


def test_salted_join_rejects_right_outer():
    from mapreduce_llm_spark.operators.skew import salted_join

    with pytest.raises(ValueError, match="duplicate unmatched right rows"):
        salted_join(None, None, on=["k"], how="full_outer")


def test_global_ranking_avoids_single_partition_window(spark):
    """q_sort_multi / q_win_ntile compute a global order via two-phase
    range ranking — the plan must NOT funnel rows through a
    SinglePartition exchange (the unpartitioned-window plan Spark
    warns about). Since the round-13 branch-consistency fix the range
    shuffle executes INSIDE the operator's materialization job, so the
    consumer plan reads the checkpointed (range-partitioned) frame as
    an ExistingRDD scan instead of showing RangePartitioning
    inline."""
    for name in ("q_sort_multi", "q_win_ntile"):
        plan = plan_of(spark, name)
        assert "existingrdd" in plan.lower(), name
        # round-14: the local rank is mono-id arithmetic over the
        # checkpointed blocks — NO row_number window (and so no second
        # full-data exchange + sort) may exist anywhere in the plan
        rn_windows = [
            l for l in plan.splitlines() if "row_number()" in l and "Window" in l
        ]
        assert not rn_windows, (name, rn_windows)
        assert "monotonically_increasing_id" in plan, name
        # SinglePartition exchanges may only carry the per-partition
        # COUNTS (one row per partition), never the data itself
        lines = plan.splitlines()
        for i, l in enumerate(lines):
            if "Exchange SinglePartition" in l:
                assert "HashAggregate" in lines[i + 1], (name, lines[i : i + 2])


def test_ranking_materializes_one_partitioning_for_both_branches(spark):
    """Round-13 correctness finding: global_row_number's counts branch
    and data branch were kept on one physical partitioning only by
    exchange reuse — per-branch column pruning gives the two range
    shuffles different ReadSchema, reuse fails, and AQE coalesces them
    to DIFFERENT partition counts, so the inner join on
    spark_partition_id() silently drops rows (150k → ~70k at sf0.1
    behind a wide projection over an upstream join, nondeterministic).
    The fix materializes the pid-stamped frame once (eager serialized
    localCheckpoint): the plan must read the checkpoint (ExistingRDD),
    and the failing shape must preserve every row."""
    from pyspark.sql import functions as F

    from mapreduce_llm_spark.io import load_table
    from mapreduce_llm_spark.operators.ranking import global_row_number
    from tests.conftest import SF_DIR

    o = load_table(spark, SF_DIR, "orders")
    c = load_table(spark, SF_DIR, "customer")
    # the bug's trigger shape: a WIDE projection behind a join feeding
    # the ranking operator (pruning then differs per branch)
    x = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "c_mktsegment",
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias("v"),
        "o_orderkey",
    )
    n = x.count()
    ranked = global_row_number(x, [F.col("v"), F.col("o_orderkey")], alias="r")
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, "ranking no longer reads a materialized frame"
    got = ranked.groupBy("c_mktsegment").count().agg(F.sum("count")).first()[0]
    assert got == n, f"ranking dropped rows: {got} != {n}"
    mx = ranked.agg(F.max("r"), F.count_distinct("r")).first()
    assert mx[0] == n and mx[1] == n, "ranks are not a permutation of 1..N"


def test_r6_global_rankings_are_range_partitioned(spark):
    """The round-6 lift/concentration queries rank or prefix-sum a
    customer/part dimension that grows with the corpus — each must use
    the two-phase range construction (global_row_number /
    global_prefix_sum), never a single-partition window over the data;
    SinglePartition exchanges may carry only 1-row/per-partition
    aggregate legs."""
    for name in ("q_decile_lift", "q_lorenz_curve", "q_abc_classification"):
        plan = plan_of(spark, name)
        assert "rangepartitioning" in plan.lower(), name
        windows = [
            l
            for l in plan.splitlines()
            if "Window" in l and ("row_number()" in l or "sum(" in l)
        ]
        assert windows and all("__mrs_pid" in l for l in windows), (name, windows)
        lines = plan.splitlines()
        for i, l in enumerate(lines):
            if "Exchange SinglePartition" in l:
                assert "HashAggregate" in lines[i + 1], (name, lines[i : i + 2])


def test_shuffle_hash_hint_respected(spark):
    """The SHUFFLE_HASH hint must produce a ShuffledHashJoin (no sort
    of either side) unless AQE broadcast-demotes it at tiny SF — both
    acceptable; what is NOT acceptable is a SortMergeJoin."""
    plan = plan_of(spark, "q_join_shufflehash")
    assert "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_salted_join_key_only_frame_uses_partition_salt(spark):
    """A key-only left frame has no row entropy; the salt must fall
    back to the input partition id (still spreads hot keys) instead of
    hashing the key (a silent no-op)."""
    from mapreduce_llm_spark.io import load_table
    from mapreduce_llm_spark.operators.skew import salted_join

    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey")
    o = load_table(spark, SF_DIR, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    j = salted_join(li, o, on=["l_orderkey"])
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SPARK_PARTITION_ID" in plan
    assert j.count() == li.join(o, "l_orderkey").count()


def test_ngrams_topk_no_join_no_global_sort(spark):
    """Bigrams come from a per-row higher-order transform, NOT a
    positional self-join (which would shuffle the exploded corpus
    twice); the top-20 is TakeOrderedAndProject (per-partition heaps),
    never a global sort."""
    plan = plan_of(spark, "q_text_ngrams")
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan  # map-side combine before the shuffle
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "ReadSchema: struct<text:string>" in scan  # only col needed


def test_pii_redact_stays_jvm_single_agg_shuffle(spark):
    """Regex detect+redact are codegen'd Catalyst expressions — no
    Python crossing, no join; the only data shuffle is the tiny
    per-source aggregate (plus the final presentation sort)."""
    plan = plan_of(spark, "q_pii_redact")
    assert "Join" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan


def test_clip_outliers_broadcasts_bounds_and_partials_percentile(spark):
    """The 1-row p1/p99 frame reaches the fact scan via broadcast (no
    shuffle of lineitem to meet it), and the exact percentile itself is
    computed with map-side partial sketches — only per-partition state
    crosses the SinglePartition exchange, never the data."""
    plan = plan_of(spark, "q_clip_outliers")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_percentile" in plan


def test_decontaminate_broadcasts_eval_ngrams(spark):
    """The eval-set bigrams must reach the training side via broadcast
    hash join — the train corpus (the 100-TB side) never shuffles to
    meet the benchmark n-grams."""
    plan = plan_of(spark, "q_decontaminate")
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert "SortMergeJoin" not in plan


def test_q18_aggregates_before_joining(spark):
    """Q18 shape: the lineitem aggregate + HAVING runs BEFORE any join
    (only survivors join onward), and the top-100 is TakeOrdered, not a
    global sort."""
    plan = plan_of(spark, "q_tpch_q18_shape")
    assert "TakeOrderedAndProject" in plan
    assert "partial_sum" in plan
    # the HAVING filter sits directly on the aggregate, upstream of joins
    assert plan.index("sum_qty") < plan.index("Join")
    assert "SortMergeJoin" not in plan


def test_embed_centroids_no_explode_before_shuffle(spark):
    """Centroids aggregate per-dimension avgs (64 partial aggs per
    task) — the corpus must NOT be posexploded before the shuffle;
    the Generate node sits above the aggregation (plan prints
    top-down), operating on |labels| rows only."""
    plan = plan_of(spark, "q_embed_centroids")
    assert "partial_avg" in plan
    assert plan.count("Generate") == 1
    assert plan.index("Generate") < plan.index("partial_avg")


def test_q19_factors_disjunction_to_both_scans(spark):
    """The OR-of-conjunctions predicate must be factored into side-
    local disjunctions pushed to BOTH scans (quantity bounds to
    lineitem, brand/size to part) — only the cross-side residual stays
    at the join. This is the optimization Q19 exists to test."""
    plan = plan_of(spark, "q_tpch_q19_shape")
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    li_scan = next(l for l in scans if "lineitem" in l)
    p_scan = next(l for l in scans if "part.parquet" in l)
    assert "l_quantity" in li_scan and "Or(" in li_scan
    assert "p_brand" in p_scan and "Or(" in p_scan


def test_r7_reorder_rate_aggregates_pairs_before_dim_join(spark):
    """q_reorder_rate's scale claim: the (cust, part) pair aggregate
    collapses the fact join FIRST; only the aggregated pair frame
    joins the part dimension. In the top-down plan print the pair
    count-distinct must sit above (i.e. print before) the part scan,
    and the dimension join must be a hash join, never a nested
    loop."""
    plan = plan_of(spark, "q_reorder_rate")
    assert plan.index("count(distinct l_orderkey") < plan.index("part.parquet")
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan


def test_r7_user_overlap_distinct_before_self_join(spark):
    """q_user_overlap's scale claim: BOTH self-join inputs are the
    deduplicated (event_type, user) frame — pair expansion is bounded
    by types-per-user, never |events|² — and the join carries the
    user_id equi-anchor (the type inequality is a residual filter,
    not a join strategy)."""
    import re

    plan = plan_of(spark, "q_user_overlap")
    distinct_aggs = re.findall(
        r"HashAggregate\(keys=\[event_type#\d+, user_id#\d+L?\], functions=\[\]",
        plan,
    )
    assert len(distinct_aggs) >= 2, plan
    assert re.search(r"Join \[user_id#\d+L?\], \[user_id#\d+L?\]", plan)
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan


def test_r7_shingle_dup_rate_is_inverted_index_join(spark):
    """q_shingle_dup_rate's scale claim: doc-spread counts come from an
    inverted-index equi-join on the shingle string (the q_dedup_ngram
    shape) — no document pair join exists anywhere in the plan."""
    import re

    plan = plan_of(spark, "q_shingle_dup_rate")
    assert re.search(r"Join \[sh#\d+\], \[sh#\d+\]", plan)
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan
    # the 5-shingle explode is guarded: short docs contribute an empty
    # array, not a descending sequence
    assert "size(ws" in plan and "ELSE [] END" in plan


def test_r7_customer_migration_rank_is_range_partitioned(spark):
    """q_customer_migration's per-year ranking must go through
    operators/ranking.partitioned_row_number (range partitioning +
    per-(partition, year) local windows + broadcast offsets) — never a
    plain Window.partitionBy(yr), which would funnel each year's whole
    customer base through one task."""
    plan = plan_of(spark, "q_customer_migration")
    assert "__mrs_pid" in plan
    assert "existingrdd" in plan.lower(), (
        "ranking no longer reads a materialized range-partitioned frame"
    )
    # round-14: the per-(partition, year) local rank is mono-id
    # arithmetic over the checkpointed blocks — NO row_number window
    # (and so no second full-data exchange + sort) may exist
    rank_lines = [l for l in plan.splitlines() if "row_number() windowspec" in l]
    assert not rank_lines, rank_lines
    assert "monotonically_increasing_id" in plan


def test_bench_pinned_subset_is_frozen():
    """bench.py's PINNED_V1 is the growth-invariant round-over-round
    comparison basis (VERDICT r5 finding #1: suite growth inflated the
    full-suite number +17% with zero plan changes). The set must stay
    byte-identical — a change means the cross-round record silently
    forks; introduce PINNED_V2 alongside instead."""
    import hashlib

    import bench
    from mapreduce_llm_spark import registry

    registry.load_all()
    digest = hashlib.md5("\n".join(bench.PINNED_V1).encode()).hexdigest()
    assert digest == "dfc8f75267e4648cd27661fa75f2d367", (
        f"PINNED_V1 changed (md5 {digest}) — never edit it; add PINNED_V2"
    )
    # the pinned set leads the headline in its frozen order, and no name
    # repeats (bench keys its times by name, so a repeat would collapse)
    assert bench.HEADLINE[: len(bench.PINNED_V1)] == bench.PINNED_V1
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    assert set(bench.HEADLINE) <= set(registry.QUERIES)


def test_driver_window_spends_no_slot_on_verified_queries():
    """The driver hash-checks only the first registry.WINDOW entries of
    queries(). Against the CORRECTNESS records on disk: no slot goes to
    a verified query while WINDOW or more unverified ones exist, and no
    oracle-backed unverified query sits outside the window while a
    rows-only one is inside."""
    registry.load_all()
    oracle_new, rows_new, _ = registry.priority_groups()
    unverified = set(oracle_new) | set(rows_new)
    window = set(list(registry.QUERIES)[: registry.WINDOW])
    if len(unverified) >= registry.WINDOW:
        assert window <= unverified, sorted(window - unverified)
    else:
        assert unverified <= window, sorted(unverified - window)
    if window & set(rows_new):
        assert set(oracle_new) <= window, sorted(set(oracle_new) - window)


def test_registered_names_are_prefixed_and_unique():
    """Every registered query is named q_*, and registering a taken
    name raises instead of silently replacing the first query."""
    registry.load_all()
    assert all(n.startswith("q_") for n in registry.QUERIES)
    name = next(iter(registry.QUERIES))
    with pytest.raises(ValueError, match="duplicate query name"):
        registry.query(name)(registry.QUERIES[name])


def test_priority_groups_on_synthetic_records(monkeypatch):
    """priority_groups orders never-verified oracle-backed queries
    first, then never-verified rows-only ones, then the rest, each in
    registration order. An oracle-backed query needs a hash-green
    record; a rows-only one needs any record."""
    names = [f"q_{i:03d}" for i in range(120)]
    oracle = set(names[::2])
    monkeypatch.setattr(registry, "QUERIES", dict.fromkeys(names))
    monkeypatch.setattr(registry, "ORACLE", dict.fromkeys(oracle, "SELECT 1"))

    def order(records):
        return [n for group in registry.priority_groups(records) for n in group]

    def backed(subset):
        return [n for n in subset if n in oracle]

    def rows_only(subset):
        return [n for n in subset if n not in oracle]

    green, red = {"hash_match": True}, {"hash_match": False}

    # no records at all: registration order within each declared strength
    assert order({}) == backed(names) + rows_only(names)

    # 60 unverified (>= WINDOW): the window holds only unverified
    # queries, oracle-backed first; a red record does not verify an
    # oracle-backed query
    new = names[10:70]
    records = {n: [green] for n in names if n not in new}
    records.update({n: [red] for n in backed(new)[:5]})
    got = order(records)
    assert got[:60] == backed(new) + rows_only(new)
    assert got[60:] == [n for n in names if n not in new]

    # fewer than WINDOW unverified: all of them lead, the spare slots
    # re-confirm verified queries in registration order
    new = [names[3], names[8], names[99], names[100]]
    records = {n: [green] for n in names if n not in new}
    assert order(records) == (
        [names[8], names[100], names[3], names[99]]
        + [n for n in names if n not in new]
    )

    # rows-only / oracle mix: any record verifies a rows-only query,
    # only a hash-green one verifies an oracle-backed query
    records = {n: [red] for n in names}
    assert order(records) == backed(names) + rows_only(names)
    assert registry.priority_groups(records)[1] == []


def test_range_join_is_equi_join_on_band_key(spark):
    """q_join_range's point-in-interval predicate must execute as a
    hash join on the derived band_id key (banding rewrite), with the
    [lo, hi) check as a residual — never a nested-loop range join."""
    plan = plan_of(spark, "q_join_range")
    assert "BroadcastNestedLoopJoin" not in plan
    join_line = next(l for l in plan.splitlines() if "HashJoin" in l)
    assert "band_id" in join_line, join_line
    assert "band_lo" in join_line and "band_hi" in join_line, (
        "interval residual missing from the join condition"
    )


def test_band_interval_join_keeps_equi_anchor(spark):
    """q_join_band_interval's ±5-min self-join must anchor on the
    user_id equi-key so the band predicate is a within-key residual,
    not a cross product."""
    plan = plan_of(spark, "q_join_band_interval")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    join_line = next(l for l in plan.splitlines() if "HashJoin" in l or "SortMergeJoin" in l)
    assert "user_id" in join_line, join_line


def test_q4_exists_lowers_to_semi_join(spark):
    """TPC-H Q4's EXISTS must decorrelate to a left-semi join with the
    late-shipment band as the join residual."""
    plan = plan_of(spark, "q_tpch_q4_shape")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q21_exists_pair_lowers_to_semi_plus_anti(spark):
    """TPC-H Q21's EXISTS/NOT EXISTS pair must lower to one left-semi
    and one left-anti join on l_orderkey — three coordinated scans of
    lineitem, no per-row subquery."""
    plan = plan_of(spark, "q_tpch_q21_shape")
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_q17_correlated_avg_decorrelates(spark):
    """TPC-H Q17's correlated per-part average must run as an
    aggregate joined back on l_partkey (decorrelation), not a per-row
    subquery: expect a partial_avg and no nested-loop join."""
    plan = plan_of(spark, "q_tpch_q17_shape")
    assert "partial_avg" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_price_band_groups_on_broadcast_side_key(spark):
    """q_part_price_band computes the band on the dimension before the
    broadcast join, so the fact side never shuffles to derive its
    grouping key — the only fact exchange is the final aggregation."""
    plan = plan_of(spark, "q_part_price_band")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q21_onepass_scans_lineitem_once(spark):
    """The one-pass Q21 rewrite must read lineitem exactly once (the
    EXISTS formulation reads it three times — that triple fact scan is
    what the rewrite removes at 100 TB)."""
    one = plan_of(spark, "q_tpch_q21_onepass")
    three = plan_of(spark, "q_tpch_q21_shape")
    assert sum("lineitem.parquet" in l for l in one.splitlines() if "Scan parquet" in l or "FileScan" in l) == 1
    assert sum("lineitem.parquet" in l for l in three.splitlines() if "Scan parquet" in l or "FileScan" in l) == 3


def test_q11_reuses_stock_exchange_at_runtime(spark):
    """Q11's stock CTE feeds both the threshold scalar and the output
    branch. The static plan duplicates the branch; what matters is
    that AQE reuses the aggregation exchange at RUNTIME so the base
    aggregate executes once — assert on the executed plan, not the
    static one."""
    df = registry.QUERIES["q_tpch_q11_shape"](spark, SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed


def test_runtime_bloom_filter_injects_on_selective_fact_join(spark):
    """Spark's runtime Bloom-filter join optimization (enabled in
    session defaults) semi-filters the big probe side with a bloom
    built from the selective build side — at 100 TB it prunes most of
    the fact scan's shuffle before the join. The injection is gated on
    a 10 GB application-side scan threshold that local fixtures can't
    meet, so the test scales the threshold to the local data (the
    100 TB proportions) and pins that the optimizer injects
    might_contain + bloom_filter_agg into the plan."""
    from pyspark.sql import functions as F

    from mapreduce_llm_spark.io import load_table
    from tests.conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem")
    o = load_table(spark, SF_DIR, "orders").filter(F.col("o_totalprice") > 480000)
    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    try:
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("l_returnflag").count()
        plan = plan_of_df(spark, j)
        assert "might_contain" in plan, "bloom filter not injected"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )


def plan_of_df(spark, df, mode: str = "simple") -> str:
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


# ---- round-4 queries: scale claims pinned ---------------------------------


def test_ohlc_is_single_shuffle_with_partial_minby(spark):
    """q_ts_ohlc's open/close ride the SAME aggregation as high/low —
    partial min_by/max_by before one hash shuffle, no window pass."""
    plan = plan_of(spark, "q_ts_ohlc")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_min_by" in plan and "partial_max_by" in plan
    assert "Window" not in plan


def test_cohort_retention_has_no_self_join(spark):
    """The per-user first timestamp is a window min — one shuffle on
    user_id — not a grouped-min self-join (which would shuffle the
    event rows twice and join them back)."""
    plan = plan_of(spark, "q_cohort_retention")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 2  # window + agg
    assert "partial_count(distinct" in plan  # map-side distinct combine


def test_basket_pairs_is_join_free_pair_expansion(spark):
    """Pair counting collects each order's item set in ONE shuffle and
    expands C(k,2) pairs with array transforms — no self-join at all —
    then takes top-20 via TakeOrdered (no global sort)."""
    plan = plan_of(spark, "q_basket_pairs")
    assert "Join" not in plan
    assert "Generate explode" in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange hashpartitioning") == 2  # collect + count


def test_mad_broadcasts_group_medians(spark):
    """q_agg_mad's second pass joins the tiny per-group median table
    back by broadcast — the fact rows never shuffle for the join."""
    plan = plan_of(spark, "q_agg_mad")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_asof_fwd_single_shuffle_no_join(spark):
    """Forward as-of = union + forward-window min: one shuffle on the
    key, no candidate join (same scalable shape as q_join_asof)."""
    plan = plan_of(spark, "q_join_asof_fwd")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_unpivot_is_expand_no_extra_shuffle(spark):
    """Unpivot lowers to Expand — a zero-shuffle row fan-out; the only
    exchange in the plan is the upstream aggregation's."""
    plan = plan_of(spark, "q_unpivot_metrics")
    assert "Expand" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_runs_islands_single_exchange(spark):
    """q_runs_islands' change detector, island numbering, and final
    per-island aggregation all key on user_id — Catalyst must plan ONE
    hash exchange for the whole query (windows and groupBy reuse the
    same partitioning)."""
    plan = plan_of(spark, "q_runs_islands")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_ewma_is_pure_window_no_join(spark):
    """Truncated EWMA is a finite sum of lag() terms: one shuffle on
    user_id, no self-join, no Python crossing."""
    plan = plan_of(spark, "q_ewma")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_weighted_sample_is_take_ordered(spark):
    """A-ES weighted sampling's global top-100 must execute as
    TakeOrderedAndProject (per-partition heaps + k-way merge), never a
    global Sort+Exchange."""
    plan = plan_of(spark, "q_weighted_sample")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_time_weighted_avg_reuses_window_partitioning(spark):
    """The lead() window and the per-user aggregation share the
    user_id partitioning — one exchange total."""
    plan = plan_of(spark, "q_time_weighted_avg")
    assert plan.count("Exchange hashpartitioning") == 1


def test_embed_dim_stats_has_partial_aggregate(spark):
    """Per-dimension stats must partial-aggregate before the exchange
    (map-side combine): N×width exploded rows reduce to
    partitions×width before any data moves."""
    plan = plan_of(spark, "q_embed_dim_stats", mode="formatted")
    assert "Generate" in plan  # posexplode
    assert "HashAggregate" in plan
    assert "partial_" in plan, "no map-side partial aggregation in plan"


def test_fuzzy_join_blocks_never_compares_all_pairs(spark):
    """q_fuzzy_join must generate candidates through the pigeonhole
    equi-join on (side, block-key) — a hash join, never a nested-loop
    over all pairs. The DuckDB oracle is the naive quadratic ground
    truth, so the hash gate proves the blocking lossless."""
    plan = plan_of(spark, "q_fuzzy_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    blocking_lines = [
        l
        for l in plan.splitlines()
        if "HashJoin" in l and "side" in l and "blk" in l
    ]
    assert blocking_lines, (
        "no pigeonhole (side, blk) equi-join in the plan — candidate "
        "generation must go through the blocking join"
    )
    # distinct-name collapse (round-7 scale fix): levenshtein must be
    # verified on the deduped name-pair side, never re-run per key pair
    # after the expansion joins
    assert plan.count("levenshtein") <= 2, plan.count("levenshtein")


def test_dist_drift_full_data_pass_is_single_grouped_count(spark):
    """q_dist_drift's only full-corpus work is the word explode + one
    grouped count; the zero-fill grid and the vocab/total sides are
    broadcast (tiny), so no full-data side ever sort-merge-joins."""
    plan = plan_of(spark, "q_dist_drift")
    assert "SortMergeJoin" not in plan
    assert "Generate explode" in plan


def test_rollup_incremental_merges_two_partials(spark):
    """The incremental rollup must aggregate base and delta separately
    (two partial rollups) and merge — never one flat aggregation over
    the union of raw rows. Plan signature: a Union of two aggregated
    legs feeding the final merge aggregate."""
    plan = plan_of(spark, "q_rollup_incremental")
    assert "Union" in plan
    union_pos = plan.index("Union")
    assert "HashAggregate" in plan[union_pos:], "legs below the Union must aggregate"
    assert plan.count("HashAggregate") >= 4  # partial+final per leg at minimum


def test_graph_triangles_all_joins_are_hash_equi(spark):
    """Triangle counting is hash equi-joins over a ONCE-materialized
    edge list — no nested-loop pair enumeration in the heavy path (the
    only BNLJ nodes are the 1-row stat-leg crosses), and the five edge
    consumers read the localCheckpoint (ExistingRDD), not five
    recomputes of the build join."""
    plan = plan_of(spark, "q_graph_triangles")
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan, "edge list must be materialized once"
    heavy_joins = [
        l for l in plan.splitlines()
        if ("SortMergeJoin" in l or "ShuffledHashJoin" in l or "BroadcastHashJoin" in l)
    ]
    assert len(heavy_joins) >= 2  # wedge join + closure join


def test_interval_concurrency_prefix_sum_is_distributed(spark):
    """The sweep-line running total must use the two-phase distributed
    prefix sum — never an unpartitioned sum() OVER (ORDER BY t) that
    funnels all deltas through one task. Since the round-14 extension
    of the round-13 materialization barrier to global_prefix_sum, the
    range shuffle executes INSIDE the operator's materialization job,
    so the consumer plan reads the checkpointed (range-partitioned)
    frame as an ExistingRDD scan instead of showing RangePartitioning
    inline (the test_global_ranking_avoids_single_partition_window
    idiom)."""
    plan = plan_of(spark, "q_interval_concurrency")
    assert "existingrdd" in plan.lower(), (
        "prefix sum no longer reads a materialized range-partitioned frame"
    )
    sum_windows = [
        l for l in plan.splitlines()
        if "Window" in l and "sum(net" in l and "unboundedpreceding" in l.lower()
    ]
    assert sum_windows and all("__mrs_pid" in l for l in sum_windows), sum_windows
    # SinglePartition exchanges may only carry aggregate legs (the
    # 1-row count / per-partition totals), never the event data
    lines = plan.splitlines()
    for i, l in enumerate(lines):
        if "Exchange SinglePartition" in l:
            assert "HashAggregate" in lines[i + 1], lines[i : i + 2]


def test_win_median_and_distinct_single_exchange(spark):
    """The rolling-median and rolling-distinct windows key on user_id
    with bounded ROWS frames: one hash exchange each, no join, no
    Python crossing — the frame materialization (collect_list →
    array ops) is pure JVM."""
    for name in ("q_win_median", "q_win_distinct"):
        plan = plan_of(spark, name)
        assert "Join" not in plan, name
        assert plan.count("Exchange hashpartitioning") == 1, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_skyline_is_grouped_sweep_plus_broadcast(spark):
    """q_skyline must be the O(n) rewrite: a grouped min per size class
    and a broadcast hash join back — never a pairwise dominance
    compare (no sort-merge self-join, no nested loop)."""
    plan = plan_of(spark, "q_skyline")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_graph_bfs_levels_materialize_once(spark):
    """Each BFS level is materialized as it is computed (the level-k
    frontier feeds BOTH the next level's join and the final union —
    without materialization the level-3 chain would recompute levels
    1-2). Since round 14 the levels are persisted+counted rather than
    localCheckpointed, so Catalyst sees TRUE sizes and picks the
    frontier broadcasts from statistics instead of the forced
    F.broadcast hints (the round-9 OOM class — frontier is SF-scaling).
    The returned plan must read the four cached levels through a pure
    union: above the first cached relation there is no join and no
    recompute (the joins visible further down are the cached levels'
    STORED build plans, executed once at persist time)."""
    plan = plan_of(spark, "q_graph_bfs")
    head = plan.split("InMemoryRelation")[0]
    assert "Union" in head and "Join" not in head
    assert plan.count("InMemoryTableScan") >= 4
    # every level is broadcast-joined by STATISTICS, never by hint:
    # the query source carries no F.broadcast, and the stored level
    # plans must still have picked broadcast joins at this SF
    assert "BroadcastHashJoin" in plan


def test_shuffle_shards_uses_distributed_ranking(spark):
    """The training shuffle's global permutation must run through the
    two-phase range ranking (operators/ranking.py): range partitioning
    on the hash, with every row_number window partitioned by the
    range-partition id — never row_number() OVER (ORDER BY h) on one
    task."""
    plan = plan_of(spark, "q_shuffle_shards")
    assert "existingrdd" in plan.lower(), (
        "ranking no longer reads a materialized range-partitioned frame"
    )
    # round-14: local rank = mono-id arithmetic over the checkpointed
    # range-sorted blocks; no row_number window (no second exchange)
    rn_windows = [
        l for l in plan.splitlines() if "Window" in l and "row_number" in l
    ]
    assert not rn_windows, rn_windows
    assert "monotonically_increasing_id" in plan


def test_bm25_is_take_ordered_with_prefiltered_terms(spark):
    """BM25's final ranking is TakeOrdered (per-partition top-20 +
    k-merge, no global sort), and the probe-term IN-filter sits below
    the (doc,word) aggregation exchange so ~all explode output dies
    before the shuffle."""
    plan = plan_of(spark, "q_text_bm25")
    assert "TakeOrdered" in plan
    lines = plan.splitlines()
    filter_ix = min(
        i for i, l in enumerate(lines) if "Filter" in l and "word" in l and " IN " in l
    )
    agg_ix = min(
        i
        for i, l in enumerate(lines)
        if "Exchange hashpartitioning" in l and "word" in l
    )
    # explain prints top-down: the filter acting below the exchange
    # appears AFTER it in the text
    assert filter_ix > agg_ix, (filter_ix, agg_ix)


def test_running_distinct_is_two_window_rewrite(spark):
    """q_win_running_distinct's point is the O(1)-state rewrite: two
    hash exchanges (first-occurrence flag keyed on (user_id,
    event_type), running sum on user_id), no join, and NO collect_list
    — a regression to the oracle's list-materializing formulation
    would still hash-match while dying at scale."""
    plan = plan_of(spark, "q_win_running_distinct")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert "collect_list" not in plan


# ---- round-5 batch 3: storage-layout scale claims -------------------------


def test_bucket_join_no_exchange_no_sort(spark):
    """q_bucket_join's whole point: with both sides written
    bucketBy(8, orderkey).sortBy(orderkey) at one file per bucket, the
    fact-to-fact sort-merge join must run with ZERO Exchange and ZERO
    Sort — the layout, not the shuffle service, pays for the join.
    Pinned on the pre-aggregation join so the final 3-row agg's
    exchange doesn't mask a regression underneath."""
    from mapreduce_llm_spark.queries.analytics_r5c import bucket_join_plan_df

    df = bucket_join_plan_df(spark, SF_DIR)
    plan = plan_of_df(spark, df)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan
    assert "Sort [" not in plan, plan
    assert plan.count("Bucketed: true") == 2, plan


def test_partition_prune_scan(spark):
    """q_partition_prune's scan must prune at the directory level:
    the event_type equality sits in PartitionFilters (not a post-scan
    Filter over all partitions' rows), and the partition column is
    absent from ReadSchema — it lives in the paths, not the files."""
    from mapreduce_llm_spark.queries.analytics_r5c import partition_prune_plan_df

    df = partition_prune_plan_df(spark, SF_DIR)
    plan = plan_of_df(spark, df, mode="formatted")
    pf = plan[plan.index("PartitionFilters: [") :].split("]")[0]
    assert "event_type" in pf and "purchase" in pf, pf
    rs = plan[plan.index("ReadSchema: ") :].splitlines()[0]
    assert "event_type" not in rs, rs


def test_rfm_is_threshold_buckets_not_global_ntile(spark):
    """q_rfm must bucket by broadcast quintile thresholds, never an
    unpartitioned ntile window (which would drag every customer row
    into one task): no Window in the plan, and every join is a 1-row
    broadcast leg — three of them, because the metrics subtree (which
    itself crosses the 1-row max-date leg) is evaluated both under
    the thresholds aggregate and in the main scoring leg."""
    plan = plan_of(spark, "q_rfm")
    assert "Window" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 3


def test_vocab_coverage_topk_is_take_ordered(spark):
    """q_vocab_coverage's vocabulary is a global top-k: TakeOrdered
    (per-partition heads + k-merge), never a single-partition rank
    window; the vocab side then broadcasts back onto the token
    stream."""
    plan = plan_of(spark, "q_vocab_coverage")
    assert "TakeOrdered" in plan
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_funnel_is_sequential_key_joins(spark):
    """q_window_funnel stays linear: three grouped mins chained by
    user_id equi-joins — no correlated-subquery nested loops over the
    event history. The only BNLJs are the 1-row stage-count legs."""
    plan = plan_of(spark, "q_window_funnel")
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" not in line:
            assert "NestedLoop" not in line, line
    assert "CartesianProduct" not in plan


def test_forecast_is_dim_sized_join_no_window(spark):
    """q_forecast_naive lags by calendar self-join on the aggregated
    daily table, not lag(7) row positions: no Window, and the join
    runs over post-aggregation row counts."""
    plan = plan_of(spark, "q_forecast_naive")
    assert "Window" not in plan


# ---- round-7b queries: scale claims pinned --------------------------------


def test_pca_power_gram_is_join_free_partial_agg(spark):
    """q_pca_power's Gram matrix must come from chained generators
    (posexplode × 2) feeding a partially-aggregated groupBy — never a
    row-level self-join on vec_id (that's the oracle's crutch, not the
    distributed plan). Map-side partials collapse each task to ≤ 4096
    cells, so shuffle volume is independent of corpus size; the only
    joins are the broadcast v1/diag legs on the 64×64 C."""
    plan = plan_of(spark, "q_pca_power")
    assert plan.count("Generate") >= 2, "chained posexplodes missing"
    assert "partial_" in plan, "no map-side partial aggregation"
    assert "SortMergeJoin" not in plan, "Gram must not self-join rows"
    for line in plan.splitlines():
        if "Join" in line and "Broadcast" not in line:
            raise AssertionError(f"non-broadcast join in plan: {line}")


def test_markov_loglik_model_is_broadcast(spark):
    """q_markov_loglik's transition-probability model (≤ |types|² rows)
    must broadcast onto the full transition stream — the stream is
    never shuffled a second time for the model join."""
    plan = plan_of(spark, "q_markov_loglik")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_survival_km_windows_are_post_aggregation(spark):
    """q_survival_km's only full-data pass is the per-customer lead
    window (keyed on o_custkey); the global risk-table windows run
    strictly AFTER the groupBy collapses durations to distinct day
    values. Pin: every global (no partition spec) Window sits above a
    HashAggregate in the plan text order."""
    plan = plan_of(spark, "q_survival_km")
    lines = plan.splitlines()
    keyed = [
        i
        for i, l in enumerate(lines)
        if "Window" in l and "o_custkey" in l
    ]
    assert keyed, "per-customer lead window missing"
    global_wins = [
        i
        for i, l in enumerate(lines)
        if "Window" in l and "o_custkey" not in l
    ]
    assert global_wins, "risk-table windows missing"
    # global windows only see post-aggregation rows: in explain order
    # (top = output, bottom = scan) every global Window must have the
    # day-level HashAggregate somewhere BELOW it in its subtree
    for i in global_wins:
        below = "\n".join(lines[i:])
        assert "HashAggregate" in below, (
            "global window not fed by an aggregate"
        )


def test_fair_allocation_windows_are_keyed(spark):
    """q_fair_allocation's prefix-sum/rank/count windows must all be
    keyed by nation — the waterfill is per-group; a global window here
    would serialize every supplier through one task."""
    plan = plan_of(spark, "q_fair_allocation")
    for line in plan.splitlines():
        if "Window" in line and "WindowExec" not in line:
            assert "s_nationkey" in line, f"unkeyed window: {line.strip()[:120]}"


def test_best_split_windows_are_post_aggregation(spark):
    """q_best_split's cumulative/total windows are global by design but
    may only ever see the ≤ |distinct thresholds| aggregated cells —
    never fact rows. Pin: every Window sits above a HashAggregate."""
    plan = plan_of(spark, "q_best_split")
    lines = plan.splitlines()
    wins = [i for i, l in enumerate(lines) if "Window" in l]
    assert wins, "cumulative windows missing"
    for i in wins:
        assert "HashAggregate" in "\n".join(lines[i:]), (
            "global window not fed by the threshold aggregate"
        )


def test_cdc_apply_log_is_generated_in_task_no_join(spark):
    """q_cdc_apply's change log is array-generated in-task (one
    Generate, no extra scan) and the whole compaction is join-free:
    one keyed window shuffle on the CDC key, then the aggregate."""
    plan = plan_of(spark, "q_cdc_apply")
    assert "Generate" in plan, "in-task log generation missing"
    assert "Join" not in plan, "CDC compaction must not join"
    assert plan.count("FileScan") == 1, "log generation re-scanned the table"


def test_negative_sample_generates_candidates_in_task(spark):
    """q_negative_sample's 8 candidate draws per customer explode
    in-task from a literal sequence (Generate), and rejected positives
    leave via a keyed LeftAnti join — never a filter over an all-pairs
    product."""
    plan = plan_of(spark, "q_negative_sample")
    assert "Generate" in plan, "candidate explode missing"
    assert "LeftAnti" in plan, "positive rejection must be an anti-join"


def test_merkle_tree_scans_fact_table_once(spark):
    """q_merkle_tree's three levels must all read the materialized
    ≤ |nations × segments|-row leaf frame — the union must NOT re-scan
    the fact table per level (Spark planned 3 customer scans before the
    leaf localCheckpoint)."""
    plan = plan_of(spark, "q_merkle_tree")
    assert "FileScan" not in plan, "a union branch re-scanned parquet"
    assert plan.count("Scan ExistingRDD") >= 2, "levels not reading the leaf"


def test_recency_topk_is_take_ordered(spark):
    """q_recency_topk's global top-10 must be TakeOrdered (per-partition
    heads merged on the driver), never a single-partition global sort of
    the per-part aggregate."""
    plan = plan_of(spark, "q_recency_topk")
    assert "TakeOrderedAndProject" in plan


def test_doc_knn_joins_are_all_keyed(spark):
    """q_doc_knn candidate generation is blocked on the shingle key with
    a df-cap — every join in the plan must be a keyed equi-join on the
    shingle / doc keys; no join may ever pair arbitrary documents."""
    plan = plan_of(spark, "q_doc_knn")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for line in plan.splitlines():
        if "Join" in line:
            assert any(k in line for k in ("sh#", "qd#", "nb#", "doc_id#")), (
                f"join not keyed on shingle/doc: {line.strip()[:120]}"
            )


def test_kcore_trace_on_known_graph(spark):
    """Behavioral pin for operators/graph.kcore_peel_trace: on K5 plus
    a pendant 3-chain, a k=3 peel removes the chain in two rounds and
    the 5-clique survives as the stable 3-core (the eager per-round
    checkpoints make the final plan structure-free, so the scale shape
    is pinned by construction review + this semantic trace)."""
    from mapreduce_llm_spark.operators.graph import kcore_peel_trace

    clique = [(u, v) for u in range(5) for v in range(u + 1, 5)]
    chain = [(4, 5), (5, 6), (6, 7)]
    e = spark.createDataFrame(clique + chain, "u long, v long")
    rows = kcore_peel_trace(e, k=3, iters=4).collect()
    got = [(r["iter"], r["n_nodes"], r["n_edges"]) for r in rows]
    assert got == [(0, 8, 13), (1, 5, 10), (2, 5, 10), (3, 5, 10)], got


def test_r8_asof_tolerance_is_single_join_union_tag(spark):
    """q_asof_tolerance's point-in-time join must execute as the
    union-tag running max (ONE keyed window over the unioned stream)
    plus ONE equi-join carrying asof_ts to recover the click id —
    never a range-candidate join (which would fan out per purchase)
    and never more than that one join."""
    plan = plan_of(spark, "q_asof_tolerance")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    join_lines = [
        l for l in plan.splitlines()
        if "Join" in l and "BroadcastExchange" not in l
    ]
    assert len(join_lines) == 1, join_lines
    assert "asof_ts" in join_lines[0], join_lines[0]


def test_r8_kmeans_step_broadcasts_the_seed_leg(spark):
    """q_kmeans_step's md5-seeded centroids are a 4-row leg — the
    distance join must broadcast it (assignment stays one pass over
    the corpus), and nothing in the plan may cartesian."""
    plan = plan_of(spark, "q_kmeans_step")
    assert "CartesianProduct" not in plan
    seed_join = [
        l for l in plan.splitlines()
        if "Join" in l and "seed_vec" in l
    ]
    assert seed_join and all("BroadcastHashJoin" in l for l in seed_join), (
        seed_join or plan
    )


def test_r8_minhash_eval_candidates_are_banded(spark):
    """q_minhash_eval's candidate generation must join on the
    (band, bkey) signature key — banded LSH, never an all-pairs
    product; the exact-Jaccard verification legs then key on the
    candidate doc pair."""
    plan = plan_of(spark, "q_minhash_eval")
    assert "CartesianProduct" not in plan
    band_join = [
        l for l in plan.splitlines()
        if ("HashJoin" in l or "SortMergeJoin" in l)
        and "band" in l and "bkey" in l
    ]
    assert band_join, plan


def test_every_rows_only_query_has_an_audit_note():
    """VERDICT r8 item 5: each rows-only query carries a one-line
    'terminally oracle-less because X' audit note (tools/gen_inventory.
    ROWS_ONLY_TERMINAL, rendered into INVENTORY.md). A new rows-only
    query without a note — or a note left behind after a graduation —
    fails here, not just at manual regeneration time."""
    from mapreduce_llm_spark import registry
    from tools.gen_inventory import ROWS_ONLY_TERMINAL

    registry.load_all()
    rows_only = {n for n in registry.QUERIES if n not in registry.ORACLE}
    assert rows_only == set(ROWS_ONLY_TERMINAL)
    for name, reason in ROWS_ONLY_TERMINAL.items():
        assert len(reason.strip()) >= 20, name
