"""Blanket plan lint over EVERY registered query.

The targeted tests in test_plans.py pin specific operators' plans; this
sweep catches regressions anywhere in the surface: a cartesian product
sneaking into a join rewrite, a Python crossing appearing in a
JVM-only pipeline, an accidental global window. Queries that cross
into Python or use a nested-loop join BY DESIGN are allowlisted with
the reason, so any new offender is a test failure with intent required.
"""

from __future__ import annotations

import pytest

from mapreduce_llm_spark import registry
from tests.conftest import SMOKE_SF_DIR

registry.load_all()

# Python-crossing by design: these ARE the pandas-UDF operators.
PYTHON_OK = {
    "q_chunk_assign",  # greedy token packer, applyInPandas (reference op 4)
    "q_llm_map",  # LLM map, applyInPandas (reference op 6)
    "q_dedup_simhash",  # simhash bit-mixing in numpy, mapInPandas
    "q_mm_features",  # multimodal decode/feature UDFs, mapInPandas
    "q_udf_scalar",  # the declared scalar pandas-UDF surface
    "q_udaf_grouped",  # the declared grouped-agg pandas-UDF surface
    "q_cost_estimate",  # token counting via the tokenizer pandas UDF
    "q_text_stats",  # tiktoken-or-fallback token counts per doc
    "q_udtf_native",  # the declared native Python UDTF surface
    "q_pipeline_curate",  # composed curation flow includes the chunker
    "q_mm_frames",  # multimodal resize/frame UDFs, mapInPandas
    "q_mm_audio",  # audio waveform synthesis/features, mapInPandas
    "q_pack_sequences",  # greedy sequence packer, applyInPandas per shard
    "q_embed_assign",  # BLAS centroid scorer, mapInPandas + broadcast model
    "q_dedup_embed",  # BLAS block-pair scorer, applyInPandas per block pair
    "q_tokenize_bpe",  # exact BPE engine, Arrow-batched pandas UDF
    "q_mm_ingest",  # binaryFile ingest + codec decode, mapInPandas
    "q_heavy_hitters",  # Misra-Gries bounded-memory fold, mapInPandas
}

# Nested-loop / cross joins by design:
NLJ_OK = {
    "q_cost_estimate",  # cross join against the 4-row model-cost table
    "q_evt_sliding",  # may expand windows via a tiny literal offsets array
    "q_win_ntile",  # broadcast single-row scalar total (lazy count) cross join
    "q_text_tfidf",  # broadcast single-row corpus-size scalar cross join
    "q_agg_histogram",  # broadcast single-row min/max bounds cross join
    "q_clip_outliers",  # broadcast single-row percentile-bounds cross join
    "q_mix_weights",  # broadcast single-row corpus-totals cross join
    "q_text_collocations",  # broadcast single-row n_uni/n_big scalar cross joins
    "q_ts_gapfill",  # broadcast single-row min/max month bounds cross join
    "q_graph_pagerank",  # broadcast single-row dangling-mass scalar cross join
    "q_dist_drift",  # broadcast crosses of tiny aggregates: 1-row vocab total,
    #                  and the (sources × top-50 vocab) zero-fill grid
    "q_graph_triangles",  # broadcast crosses of three 1-row stat legs
    "q_interval_concurrency",  # broadcast cross of the 1-row n_points leg
    "q_chi_square",  # broadcast cross of the 1-row grand-total/r/c leg
    "q_text_bm25",  # broadcast single-row N/avgdl corpus-scalar cross join
    "q_shuffle_shards",  # broadcast single-row scalar total (lazy count) cross
    "q_sim_recall",  # broadcast cross of the two 1-row recall legs
    "q_pair_lift",  # broadcast single-row order-count scalar cross join
    "q_pareto_front",  # broadcast single-row total-quantity scalar cross join
    "q_rfm",  # broadcast 1-row max-date and quintile-thresholds legs
    "q_label_balance",  # broadcast 1-row totals (N, K) cross join
    "q_mutual_info",  # broadcast 1-row grand-total leg over the 35-cell joint
    "q_window_funnel",  # broadcast 1-row funnel-stage-count legs
    "q_zorder_skipping",  # broadcast legs: 1-row grid bounds, 3-row probe
    #                       rectangles against 64-row file footprints
    "q_heavy_hitters",  # broadcast 1-row decrement-total leg
    "q_decile_lift",  # broadcast 1-row grand-total leg onto 10 deciles
    "q_abc_classification",  # broadcast 1-row revenue-total leg
    "q_lorenz_curve",  # broadcast 1-row (total, n) leg onto 20 bins
    "q_return_affinity",  # broadcast 1-row corpus return-rate leg
    "q_backlog_aging",  # broadcast 1-row as-of max-date leg
    "q_transition_time",  # broadcast 1-row transition-total leg
    "q_order_size_profile",  # broadcast 1-row order-count leg
    "q_zorder_incremental",  # broadcast 1-row grid-bounds leg
    "q_survival_km",  # broadcast 1-row max-date and total-duration legs
    "q_negative_sample",  # broadcast 1-row max-partkey leg
    "q_recency_topk",  # broadcast 1-row max-shipdate leg
    # round-8 flip batch (pre-flighted in round 7's staged plan lint;
    # every entry is a broadcast scalar/grid leg, never a data×data NLJ)
    "q_bigram_perplexity",  # broadcast 1-row vocab-size/total legs
    "q_bm25_search",  # broadcast 1-row N/avgdl corpus-scalar leg
    "q_retrieval_eval",  # broadcast 1-row N/avgdl corpus-scalar leg
    "q_cuped_adjust",  # broadcast 1-row pooled-theta leg
    "q_erasure_cascade",  # broadcast 1-row totals leg
    "q_topk_overlap",  # broadcast 3-row k-grid cross
    "q_kanonymity",  # broadcast 3-row k-grid cross
    "q_histogram_error",  # broadcast 1-row min/max/n bounds leg
    "q_source_overlap",  # theta-join zero-fill grid over the tiny
    #                      per-source totals (|sources|² rows) — the
    #                      q_dist_drift grid class; missed by the
    #                      round-7 pre-flight checklist, caught by this
    #                      lint on registration
    # round-9 flip batch (pre-flighted in round 8's staged plan lint,
    # tests/test_r9_staged_plans.py at the time; every entry is a
    # broadcast scalar/grid leg, never a data×data NLJ)
    "q_ab_power",  # broadcast 3-row MDE grid × 1-row moments leg
    "q_assoc_rules",  # broadcast 1-row basket-count leg
    "q_bloom_sizing",  # broadcast 1-row NDV leg × 3-row bits grid
    "q_churn_label",  # broadcast 1-row horizon-cutoff leg
    "q_cosine_threshold_curve",  # broadcast 5-row threshold grid
    "q_fk_coverage",  # broadcast 1-row parent-coverage legs per relation
    "q_pr_curve",  # broadcast 6-row threshold grid
    "q_profile_drift",  # broadcast 1-row half-profile leg
    "q_retention_sweep",  # per-table 1-row horizon leg × 3-row age grid
    "q_simpson_reversal",  # broadcast 1-row pooled-moments leg
    "q_sla_attainment",  # broadcast 3-row SLA grid
    "q_text_burstiness",  # broadcast 1-row corpus-doc-count leg
    "q_watermark_yield",  # broadcast 5-row delay grid
    "q_woe_iv",  # broadcast 1-row good/bad totals leg
    # round-10 flip batch (pre-flighted in the staged plan lint,
    # tests/test_r10_staged_props.py::STAGED_NLJ_OK at the time; every
    # entry is a broadcast scalar/grid leg, never a data×data NLJ)
    "q_order_status_flow",  # broadcast 1-row horizon leg
    "q_power_user_share",  # broadcast 1-row totals leg × 3-row pct grid
    "q_markov_attribution",  # crosses of 1-row overall-conversion legs
    "q_lm_generalization_gap",  # broadcast 1-row train-vocab leg
    "q_vocab_coverage_curve",  # broadcast 1-row totals leg × 3-row k grid
    "q_last_digit_uniformity",  # broadcast 1-row chi-square totals leg
    "q_leakage_scan",  # broadcast 1-row horizon-cutoff leg
    "q_slow_movers",  # broadcast 1-row corpus-horizon (max shipdate) leg
    # round-11 flip batch (pre-flighted in the staged plan lint,
    # tests/test_r11_staged_props.py::STAGED_NLJ_OK at the time; every
    # entry is a broadcast scalar/grid leg, never a data×data NLJ)
    "q_data_budget",  # broadcast 1-row corpus-token-total leg
    "q_class_weights",  # broadcast 1-row (total, k, max_n) leg
    "q_dow_stability",  # broadcast 7-row corpus dow-mix + 1-row total legs
    "q_split_balance",  # broadcast 1-row split-totals leg
    "q_balance_activity",  # broadcast 1-row customer-count leg (+ the
    #                        ranking operator's internal offset leg)
    "q_ingest_mix_drift",  # broadcast 1-row id-midpoint leg
    # round-12 flip batch (pre-flighted in the staged plan lint,
    # tests/test_r12_staged_props.py::STAGED_NLJ_OK at the time; every
    # entry is a broadcast scalar/grid leg, never a data×data NLJ)
    "q_type_cooccurrence",  # broadcast 1-row distinct-user-total leg
    "q_mood_median",  # broadcast 1-row grand-median leg
    "q_benford_second",  # broadcast 1-row digit-total leg + 10-row grid
    # round 13: q_sortkey_advisor's nine pair-NDVs became independent
    # pre-aggregated 1-row counts glued as broadcast scalar crosses
    # (the Expand-form scale fix, ROUND13_NOTES) — every leg is a
    # 1-row aggregate by construction
    "q_sortkey_advisor",  # 9 broadcast 1-row pair-NDV legs + count leg
    # round-14 batch: every entry is a broadcast scalar/grid leg
    "q_kendall_tau",  # calendar-bounded month×month inequality grid + 1-row count leg
    "q_ljung_box",  # broadcast 5-row lag grid + 1-row denominator leg
    "q_session_threshold_sweep",  # broadcast 1-row (n_users, n_events) leg
    "q_brand_size_coverage",  # broadcast 1-row global distinct-size leg
    "q_dup_size_hist",  # broadcast 1-row corpus-doc-total leg
    "q_dormant_suppliers",  # broadcast 1-row horizon-cutoff leg
    # round-15 batch: every entry is a broadcast scalar leg
    "q_key_density",  # broadcast 1-row keyspace-bounds leg
    "q_heavy_order_parts",  # broadcast 1-row mean-threshold leg
    "q_embed_cosine_to_mean",  # broadcast 1-row global-mean-vector leg
    "q_doc_opener_lift",  # broadcast 1-row corpus-totals leg
    "q_size_value_dependence",  # broadcast 1-row grand-total leg
    "q_control_limits",  # broadcast 1-row I-MR totals leg
    "q_rfm_grid",  # broadcast 1-row corpus-horizon (max date) leg
}

PY_MARKERS = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_plan_lint(spark, name):
    df = registry.QUERIES[name](spark, SMOKE_SF_DIR)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    plan = df._jdf.queryExecution().explainString(jmode)

    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    if name not in NLJ_OK:
        assert "BroadcastNestedLoopJoin" not in plan, f"{name}: nested-loop join"
    if name not in PYTHON_OK:
        for marker in PY_MARKERS:
            assert marker not in plan, f"{name}: unexpected Python crossing ({marker})"


def test_allowlists_name_registered_queries():
    stale = (NLJ_OK | PYTHON_OK) - set(registry.QUERIES)
    assert not stale, f"allowlisted but not registered: {sorted(stale)}"


def test_no_broadcast_hint_on_sf_scaling_tables():
    """Round-9 verdict finding #1: ``F.broadcast`` is not advisory —
    Spark attempts the build regardless of runtime size, so a hint on a
    part/customer/supplier projection that is harmless at sf0.1 becomes
    a forced multi-GB broadcast at the 100-TB design point (the class
    that OOM'd kcore_peel_trace at sf10, operators/graph.py:190).
    Policy: hints only on fixed-cardinality legs (nation/region, 1-row
    aggregates, literal grids); SF-scaling legs are AQE-decided. The
    AST lint walks every module under mapreduce_llm_spark/ so the class
    cannot re-enter; bounded-by-semantics exceptions are reviewed into
    tools/broadcast_lint.ALLOWED_BOUNDED with the row-bound argument."""
    import os

    from tools.broadcast_lint import lint_tree

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "mapreduce_llm_spark",
    )
    violations = lint_tree(root)
    assert violations == [], (
        "F.broadcast hint on an SF-scaling table leg (demote to "
        f"AQE-decided or justify in ALLOWED_BOUNDED): {violations}"
    )


def test_broadcast_lint_traces_parameter_passed_hints():
    """Round-11 verdict item 5: the parameter-passed blind spot is
    closed by call-site tracing — a library operator that broadcasts a
    caller-supplied DataFrame is flagged at every call site that feeds
    it an SF-scaling leg, including through a wrapper (transitive
    sensitivity), while bounded callers pass."""
    from tools.broadcast_lint import lint_sources

    operator_mod = '''
from pyspark.sql import functions as F

def enrich(events, dim):
    return events.join(F.broadcast(dim.select("k", "v")), "k")

def wrapped(events, reference):
    return enrich(events, dim=reference)
'''
    caller_mod = '''
from mapreduce_llm_spark.io import load_table
from ops import enrich, wrapped

def q_bad(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    return enrich(ev, cust)

def q_bad_transitive(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    li = load_table(spark, sf_dir, "lineitem").filter("l_quantity > 0")
    return wrapped(ev, li)

def q_ok(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    nat = load_table(spark, sf_dir, "nation")
    return enrich(ev, nat)
'''
    violations = lint_sources(
        [(operator_mod, "ops.py"), (caller_mod, "caller.py")]
    )
    descs = [d for _p, _l, d in violations]
    assert any(
        "q_bad: F.broadcast(cust) [via enrich(dim=...)]" in d for d in descs
    ), descs
    # the wrapper passes its own parameter through: sensitivity must
    # propagate so the OUTER call site is the one flagged
    assert any(
        "q_bad_transitive" in d and "[via wrapped(reference=...)]" in d
        for d in descs
    ), descs
    assert not any("q_ok" in d for d in descs), descs
    # the stream-side events leg is never broadcast — only dim is
    assert all("(dim=...)" in d or "(reference=...)" in d for d in descs), descs


def test_broadcast_lint_definition_site_waiver_bounds_all_callers():
    """An ALLOWED_BOUNDED waiver on the operator's own broadcast
    argument (the ranking operators' one-row-per-partition offsets
    leg) suppresses sensitivity entirely — callers feeding scaling
    inputs are not flagged, because the build side is bounded by
    construction."""
    from tools.broadcast_lint import lint_sources

    mod = '''
from pyspark.sql import functions as F
from mapreduce_llm_spark.io import load_table

def global_row_number(df, order_cols):
    parts = df.repartitionByRange("k")
    offsets = parts.groupBy("pid").count()
    return parts.join(F.broadcast(offsets), "pid")

def q_ranked(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return global_row_number(li, ["k"])
'''
    assert lint_sources([(mod, "m.py")]) == []
