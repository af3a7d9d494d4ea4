"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints to stdout, and writes no file:
  1. the full record, one JSON line with every headline query's time
     and the generated classes Spark compiled in each measured pass and
     per query in the last one:
     {"metric": "headline_suite_seconds_full", "value": N, "queries": {...},
      "codegen_compiles_per_pass": [...], "codegen_compiles_per_query": {...}, ...}
  2. 4096 blank lines;
  3. the compact gate record, one JSON line over PINNED_V1 only:
     {"metric":"headline_suite_seconds","value":N,"queries":{...},...}
Redirect stdout to keep a run; tools/bench_compare.load_bench reads
that file as it stands.

Each query executes its full plan via the noop sink (no driver-side
collect, so the timing measures the engine, not result transfer).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mapreduce_llm_spark import registry
from mapreduce_llm_spark.session import codegen_compiles, get_spark


# PINNED_V1: the round-1 headline suite, FROZEN. Measured FIRST in the
# session (fresh JVM, fixed warm-up, fixed query count before it), so
# its round-over-round numbers are invariant to headline growth — the
# round-5 record drifted +17% with zero plan changes purely because 81
# queries shared one JVM session with 63 the round before (VERDICT r5
# finding #1). Never append here; a new pinned set would be PINNED_V2
# with both emitted during the transition round.
PINNED_V1 = [
    "q_agg_basic",
    "q_scan_project",
    "q_filter_pred",
    "q_join_inner",
    "q_join_multi",
    "q_join_salted",
    "q_tpch_q3_shape",
    "q_tpch_q5_shape",
    "q_win_rank",
    "q_topk",
    "q_sort_multi",
    "q_evt_sessionize",
    "q_evt_retention",
    "q_union_all",
    "q_fn_string",
    "q_fn_array",
    "q_dedup_exact",
    "q_sim_search",
    "q_udtf_flatmap",
    "q_text_stats",
    "q_merge_upsert",
    "q_dedup_fuzzy",
    "q_dedup_ngram",
    "q_sim_rerank",
    "q_text_ngrams",
    "q_pack_sequences",
    "q_embed_assign",
    "q_tpch_q18_shape",
    "q_dedup_embed",
    "q_text_collocations",
]

# Headline suite: PINNED_V1 (one representative per operator family —
# scan, agg, star join, window, top-k, sessionization, set op,
# functions, dedup, similarity, text pipeline — plus the scale-path
# rewrites: salted join, distributed global ranking, merge, retention),
# then the representatives added after it, in the order they joined.
HEADLINE = PINNED_V1 + [
    # round 3: full-TPC-H composition + banded-join + training-window paths
    "q_tpch_q1_shape",
    "q_tpch_q8_shape",
    "q_tpch_q17_shape",
    "q_tpch_q21_shape",
    "q_tpch_q21_onepass",
    "q_tpch_q2_shape",
    "q_join_band_interval",
    "q_doc_windows",
    "q_scd2_lookup",
    "q_ts_gapfill",
    "q_fn_variant",
    "q_agg_decimal_exact",
    # round 4: reshaping + behavioral analytics + robust stats
    "q_pivot_status",
    "q_ts_ohlc",
    "q_cohort_retention",
    "q_basket_pairs",
    "q_agg_mad",
    "q_join_asof_fwd",
    # round 4b: sequence analytics + blocked fuzzy join + drift
    "q_runs_islands",
    "q_ewma",
    "q_markov_transitions",
    "q_fuzzy_join",
    "q_dist_drift",
    "q_weighted_sample",
    "q_rollup_incremental",
    "q_hierarchy_depth",
    "q_interval_concurrency",
    # round 4c: profiling + frontier + graph distance
    "q_chi_square",
    "q_skyline",
    "q_win_median",
    "q_graph_bfs",
    # round 4c: corpus prep
    "q_text_bm25",
    "q_shuffle_shards",
    # round 5: accuracy-gated sketches, association lift, sweep-line
    # Pareto, bidirectional as-of, time-valued frames, exact BPE
    "q_sketch_bounds",
    "q_pair_lift",
    "q_pareto_front",
    "q_nearest_event",
    "q_win_range_frame",
    "q_gini",
    "q_rolling_active",
    "q_dedup_latest",
    "q_tokenize_bpe",
    # round 5 batch 3: ML-prep + behavioural analytics (the two
    # storage-layout queries q_bucket_join / q_partition_prune write
    # tables as part of their contract and stay out of the headline
    # timing, which measures query engines, not parquet writers; the
    # q_stream_* queries likewise — they time micro-batch replay of a
    # re-published source, not a query plan)
    "q_rfm",
    "q_attribution",
    "q_window_funnel",
    "q_vocab_coverage",
    "q_forecast_naive",
    "q_minmax_scale",
    # round 5 late: z-order skipping model (pure relational compute —
    # the footprint/probe aggregation, no writes), fingerprint-collapsed
    # reconciliation, and the per-user sequence-regex shape
    "q_zorder_skipping",
    "q_table_diff",
    "q_seq_pattern",
    # round 6: MATCH_RECOGNIZE surface, in-session funnel, lift /
    # concentration rankings (range-partitioned global rank paths),
    # robust MAD anomalies, char-entropy corpus health, and the
    # Misra-Gries bounded-memory fold (added AFTER the pinned-subset
    # gate landed — suite growth no longer pollutes the
    # round-over-round comparison)
    "q_match_recognize",
    "q_sessionize_funnel",
    "q_decile_lift",
    "q_abc_classification",
    "q_anomaly_mad",
    "q_char_entropy",
    "q_heavy_hitters",
    # round 7: overlap-mode MATCH_RECOGNIZE, partitioned-ranking exact
    # medians and tercile migration, contribution-expansion rolling
    # distinct, integer-exact concentration, and the r7b batch's
    # exact-replay PCA power iteration, lifecycle curves (LTV /
    # Kaplan-Meier), model-broadcast sequence scoring, and pair->cluster
    # dedup closure (q_zorder_incremental and the q_stream_* entries
    # stay out per the storage-write / stream-replay rule above)
    "q_match_overlap",
    "q_brand_price_median",
    "q_customer_migration",
    "q_rolling_distinct",
    "q_supplier_hhi",
    "q_pca_power",
    "q_cohort_ltv",
    "q_survival_km",
    "q_markov_loglik",
    "q_dedup_clusters",
    # r7c batch representatives: the inverted-index shingle k-NN (the
    # heaviest candidate-generation path of the batch), the bounded
    # k-core peel (iterative degree-agg + broadcast semi-joins), the
    # CDC log compaction (keyed-window latest-wins), and the
    # deterministic negative sampler (in-task candidate explode +
    # anti-join)
    "q_doc_knn",
    "q_graph_kcore",
    "q_cdc_apply",
    "q_negative_sample",
    # round 8 batch representatives: the md5-replay MinHash eval (the
    # batch's heaviest candidate-generation path), BM25 retrieval,
    # pairwise JSD drift, two-hop graph reach, one exact Lloyd step +
    # PQ codebook audit (vector quantization), inverted-index
    # containment, equi-depth-vs-equi-width histogram scoring
    # (range-partitioned global ranks), per-lang quantile ranks, and
    # the point-in-time as-of tolerance join (the q_stream_* entries
    # stay out per the stream-replay rule above)
    "q_minhash_eval",
    "q_bm25_search",
    "q_jsd_sources",
    "q_graph_twohop",
    "q_kmeans_step",
    "q_embed_pq",
    "q_shingle_containment",
    "q_histogram_error",
    "q_quantile_normalize",
    "q_asof_tolerance",
    # round 9 batch representatives: the sorted-neighborhood dedup
    # blocking (the batch's heaviest candidate-generation path), RRF
    # rank fusion over two global-row-number legs, the term-burstiness
    # and RAKE keyphrase text folds (the batch's content-bound cost),
    # the 8-step absorbing-Markov chain, position-based attribution
    # (rank-1 keyed windows), per-label embedding outliers (integer
    # n²-scaled distances), exact gap percentiles and treatment-effect
    # deciles (partitioned ranking), and the session entry/exit matrix
    # (the q_stream_* rule keeps streaming replays out of wall-clock)
    "q_dedup_sortneighbor",
    "q_rank_fusion",
    "q_text_burstiness",
    "q_keyphrase_rake",
    "q_absorption_prob",
    "q_attribution_position",
    "q_embed_outlier",
    "q_gap_percentiles",
    "q_quantile_treatment",
    "q_entry_exit_matrix",
]


def host_state() -> dict:
    """Self-reported host conditions, embedded in every emitted bench
    record (VERDICT r12 item 5): the driver's round-12 pinned artifact
    read 1.37× with UNIFORM inflation across all 30 queries including
    a bare parquet scan — host contention at driver-bench time, which
    took builder-side forensic A/B brackets to adjudicate. With the
    md5-2M single-thread CPU anchor (quiet-host basis ~0.30 s,
    ROUND12_NOTES) and /proc/loadavg riding in the artifact itself, a
    noisy bracket is self-diagnosing: anchor >> 0.30 s or loadavg >> 0
    at measurement time means the host, not the plans."""
    from tools.host_anchor import cpu_anchor

    with open("/proc/loadavg") as fh:
        loadavg = [float(x) for x in fh.read().split()[:3]]
    return {"cpu_anchor_md5_2m_s": cpu_anchor(), "loadavg": loadavg}


def build_records(
    times: dict,
    pinned_times: dict,
    *,
    sf: float,
    passes: int,
    host: dict,
    master: str,
    default_parallelism: int,
    compiles_per_pass: list[int],
    compiles_per_query: dict[str, int],
    pinned_compiles: int,
) -> tuple[dict, dict]:
    """Assemble the two emitted bench records from measured inputs —
    the big full-map record and the compact growth-invariant gate
    record that any last-N-chars stdout capture keeps. Factored out of
    main() so the record SHAPE is testable without running the suite:
    both records must carry the self-reported host bracket and the
    session's master and default parallelism (the cores the run
    actually used), the gate record must stay pinned-set-based (suite
    growth cannot move it), and the two must agree on the totals.

    Codegen compiles are misses of Spark's generated-code cache: a warm
    pass should add few. The full record carries the count of each
    measured pass and the per-query counts of the last pass; both
    carry ``pinned_codegen_compiles``, the pinned set's compiles over
    its measured passes."""
    total = round(sum(times.values()), 3)
    pinned_total = round(sum(pinned_times.values()), 3)
    common = {
        "unit": "sec",
        "sf": sf,
        "n_queries": len(times),
        "mean_query_seconds": round(total / len(times), 3),
        "passes": passes,
        "agg": "median",
        "pinned_set": "v1",
        "pinned_seconds": pinned_total,
        "pinned_codegen_compiles": pinned_compiles,
        "host": host,
        "master": master,
        "defaultParallelism": default_parallelism,
    }
    full_record = {
        "metric": "headline_suite_seconds_full",
        "value": total,
        "queries": times,
        "pinned_queries": pinned_times,
        "codegen_compiles_per_pass": compiles_per_pass,
        "codegen_compiles_per_query": compiles_per_query,
        **common,
    }
    # growth-invariant gate record: measured first in the session over
    # the frozen PINNED_V1 set — THE number to compare round-over-round
    # (the full-suite value moves with suite size; this one cannot)
    gate_record = {
        "metric": "headline_suite_seconds",
        "value": total,
        "queries": pinned_times,
        **common,
    }
    return full_record, gate_record


def compare(
    prev: dict, pinned_times: dict, times: dict, *, max_ratio: float
) -> tuple[bool, list[str]]:
    """Gate this run against a previous record: (ok, report lines).

    The pinned_v1 gate is the load-bearing one. It uses the previous
    record's ``pinned_queries`` when it has them, else its ``queries``
    (a gate record, whose queries are the pinned set). A full-suite
    line follows only when the previous record is a full record (it
    carries ``pinned_queries``); against a gate record it would repeat
    the pinned pairs. That line cannot fail the run, because suite
    growth moves it independently of any plan change."""
    from tools.bench_compare import gate

    prev_pinned = prev.get("pinned_queries") or prev["queries"]
    ok, msg = gate(
        {"queries": prev_pinned}, {"queries": pinned_times}, max_ratio=max_ratio
    )
    lines = [("PASS " if ok else "FAIL ") + "pinned_v1 " + msg]
    if "pinned_queries" in prev:
        ok_full, msg_full = gate(prev, {"queries": times}, max_ratio=max_ratio)
        lines.append(("PASS " if ok_full else "INFO ") + "full-suite " + msg_full)
    return ok, lines


def run_query(qfn, spark, sf_dir: str) -> float:
    t0 = time.perf_counter()
    df = qfn(spark, sf_dir)
    df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def main() -> None:
    # --compare PREV.json [--max-ratio 1.15]: after benching, gate the
    # run against a committed previous record on the common query
    # subset (tools/bench_compare.gate) and exit 1 on regression — the
    # CI hook that keeps a slowdown bigger than noise from landing
    # silently. Accepted regressions are documented per-query in
    # tools/bench_compare.ACCEPTED_REGRESSIONS, never by raising the
    # threshold.
    compare_path = None
    max_ratio = 1.15
    args = sys.argv[1:]
    if "--compare" in args:
        compare_path = args[args.index("--compare") + 1]
    if "--max-ratio" in args:
        max_ratio = float(args[args.index("--max-ratio") + 1])

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    # anchor BEFORE the Spark session exists: the measurement must see
    # the host as the suite is about to find it, with no JVM threads
    # of our own competing for the anchor's single core
    host_start = host_state()
    registry.load_all()
    spark = get_spark(app_name="mapreduce_llm_spark-bench")

    # median of 3 measured passes: single-pass numbers carried
    # ±0.1-0.15 s of suite-order noise round-over-round (measured in
    # ROUND4_NOTES), which is the size of a real regression on most
    # queries; the median cancels it in both directions
    passes = 3

    def bench_set(names: list[str]) -> tuple[dict[str, float], list[int], dict[str, int]]:
        """(median seconds per query, codegen compiles per measured
        pass, compiles per query in the last pass)."""
        # warm-up pass first: compile and cache the generated code,
        # load parquet footers, warm the Python workers — then measure
        # steady state (what a long-running cluster job actually sees)
        for name in names:
            run_query(registry.QUERIES[name], spark, sf_dir)
        samples: dict[str, list[float]] = {name: [] for name in names}
        per_pass: list[int] = []
        for _ in range(passes):
            # VERDICT r14 item 6: persisted frames inside queries (BFS
            # levels, zorder grid, CC labels) register in the
            # CacheManager by canonicalized logical plan, so a later
            # pass's identical plan could silently read an earlier
            # pass's blocks — medians must measure what cold tasks
            # cost. Clear between passes (localCheckpoints are not in
            # the CacheManager and never cross runs).
            spark.catalog.clearCache()
            per_query: dict[str, int] = {}
            for name in names:
                before = codegen_compiles(spark)
                samples[name].append(
                    run_query(registry.QUERIES[name], spark, sf_dir)
                )
                per_query[name] = codegen_compiles(spark) - before
            per_pass.append(sum(per_query.values()))
        medians = {
            name: round(sorted(ts)[len(ts) // 2], 3)
            for name, ts in samples.items()
        }
        return medians, per_pass, per_query

    # Phase 1 — the FROZEN pinned subset, always the session's first
    # work: its numbers are comparable round-over-round regardless of
    # how much the headline suite grows behind it.
    pinned_times, pinned_passes, pinned_last = bench_set(PINNED_V1)
    # Phase 2 — the rest of the headline suite; the full record is the
    # union (pinned queries keep their phase-1, fixed-position times).
    # Pass k of the full map is pass k of each phase.
    rest_times, rest_passes, rest_last = bench_set(
        [n for n in HEADLINE if n not in set(PINNED_V1)]
    )
    times = {name: (pinned_times | rest_times)[name] for name in HEADLINE}
    last_pass_compiles = pinned_last | rest_last

    # re-anchor after the suite: a quiet start + inflated end (or vice
    # versa) localizes WHEN the contention hit within the run
    host = {"start": host_start, "end": host_state()}
    full_record, gate_record = build_records(
        times,
        pinned_times,
        sf=sf,
        passes=passes,
        host=host,
        master=spark.sparkContext.master,
        default_parallelism=spark.sparkContext.defaultParallelism,
        compiles_per_pass=[a + b for a, b in zip(pinned_passes, rest_passes)],
        compiles_per_query={name: last_pass_compiles[name] for name in HEADLINE},
        pinned_compiles=sum(pinned_passes),
    )
    # Full record FIRST: the complete per-query map, for humans and
    # for cross-round full-subset comparison when the whole stdout is
    # kept (tools/bench_compare.load_bench also reconstructs pairs
    # from a truncated copy of this line).
    # (the suite GROWS each round — compare mean_query_seconds across
    # rounds, not value, and compare on the common subset via
    # tools/bench_compare.py)
    print(json.dumps(full_record))
    # Pad the gap between the big full-map line and the compact gate
    # line with blank lines, sized past the driver's last-N-chars
    # stdout capture: without it the capture starts mid-way through
    # the full line and the archived tail leads with a confusing
    # truncated fragment (VERDICT r7 finding #3). With the padding,
    # any last-2-4 KB capture contains only whole lines (blank lines
    # + the standalone-parseable gate record).
    sys.stdout.write("\n" * 4096)
    # Compact gate record LAST: the driver keeps only the last ~2 KB
    # of stdout, and both BENCH_r05 and BENCH_r06 lost the head of the
    # single big line to that capture ("parsed": null — VERDICT r6
    # item 3). This line is ~0.8 KB (pinned map only, no spaces), so
    # it survives any last-N capture intact and parses standalone;
    # its "queries" map IS the growth-invariant PINNED_V1 gate basis.
    print(json.dumps(gate_record, separators=(",", ":")))

    if compare_path is not None:
        from tools.bench_compare import load_bench

        ok, lines = compare(
            load_bench(compare_path), pinned_times, times, max_ratio=max_ratio
        )
        for line in lines:
            print(line, file=sys.stderr)
        if not ok:
            sys.exit(1)


if __name__ == "__main__":
    main()
