"""Semantic invariants for the round-14 query batch (queries/analytics_r14.py)
— algebraic laws of the claimed algorithms that the DuckDB hash gate
cannot express (it proves Spark ≡ oracle, not that both implement the
CLAIMED semantics). Evaluated on real testdata at SF_DIR. Plan lint is
the blanket sweep in tests/test_plan_lint.py.
"""

from __future__ import annotations

from mapreduce_llm_spark import registry
from mapreduce_llm_spark.io import load_table
from tests.conftest import SF_DIR

registry.load_all()


def _run(spark, name):
    return [r.asDict() for r in registry.QUERIES[name](spark, SF_DIR).collect()]


# ---------------------------------------------------------------------------
# Tranche 1 — nonparametric statistics.
# ---------------------------------------------------------------------------


def test_kendall_tau_laws(spark):
    rows = _run(spark, "q_kendall_tau")
    assert len(rows) == 1
    r = rows[0]
    n = r["n_months"]
    assert r["n_pairs"] == n * (n - 1) // 2
    assert r["n_concordant"] + r["n_discordant"] <= r["n_pairs"]
    assert -1.0 <= r["tau_b"] <= 1.0


def test_kruskal_wallis_laws(spark):
    rows = _run(spark, "q_kruskal_wallis")
    assert rows
    o = load_table(spark, SF_DIR, "orders")
    n = o.count()
    assert sum(r["n_orders"] for r in rows) == n
    # all h_stat values are the same global statistic, and nonnegative
    hs = {r["h_stat"] for r in rows}
    assert len(hs) == 1
    assert hs.pop() >= 0.0
    # rank sums partition 1..N: Σ mean_rank·n ≈ N(N+1)/2, where each
    # group's floored e2 mean loses < 0.01 rank per member row
    total_rank = sum(r["mean_rank_e2"] * r["n_orders"] for r in rows)
    exact = n * (n + 1) // 2 * 100
    assert 0 <= exact - total_rank <= n


def test_levene_bf_laws(spark):
    rows = _run(spark, "q_levene_bf")
    assert rows
    for r in rows:
        assert r["mean_absdev_e2"] >= 0
        assert r["median_cents"] > 0
    fs = {r["f_stat"] for r in rows}
    assert len(fs) == 1
    assert fs.pop() >= 0.0


def test_wilcoxon_signed_laws(spark):
    rows = _run(spark, "q_wilcoxon_signed")
    assert rows
    for r in rows:
        n = r["n_parts"]
        # W+ is a subset-sum of ranks 1..n
        assert 0 <= r["w_plus"] <= n * (n + 1) // 2
        # z sign agrees with W+ vs its null mean n(n+1)/4
        if r["w_plus"] * 4 > n * (n + 1):
            assert r["z_score"] >= 0
        elif r["w_plus"] * 4 < n * (n + 1):
            assert r["z_score"] <= 0


def test_ljung_box_laws(spark):
    rows = _run(spark, "q_ljung_box")
    assert sorted(r["lag"] for r in rows) == [1, 2, 3, 4, 5]
    qs = [r["q_stat"] for r in sorted(rows, key=lambda r: r["lag"])]
    # Q accumulates nonnegative terms
    assert all(b >= a - 1e-9 for a, b in zip(qs, qs[1:]))
    for r in rows:
        assert -1.0 <= r["r_k"] <= 1.0
        assert r["n_terms"] >= 1


# ---------------------------------------------------------------------------
# Tranche 2 — corpus morphology.
# ---------------------------------------------------------------------------


def test_affix_profile_laws(spark):
    rows = _run(spark, "q_affix_profile")
    assert rows
    by_lang: dict[str, list[dict]] = {}
    for r in rows:
        assert len(r["suffix"]) == 3
        assert 0 < r["share_bp"] <= 10000
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, lrs in by_lang.items():
        assert len(lrs) <= 10
        counts = [r["n_words"] for r in lrs]
        assert counts == sorted(counts, reverse=True)


def test_bigram_asymmetry_laws(spark):
    rows = _run(spark, "q_bigram_asymmetry")
    assert 1 <= len(rows) <= 20
    totals = [r["n_fwd"] + r["n_rev"] for r in rows]
    assert totals == sorted(totals, reverse=True)
    for r in rows:
        assert len(r["pair"]) == 2
        assert r["pair"][0] < r["pair"][1]
        assert 0 <= r["asym_bp"] <= 10000


def test_initial_letter_bias_laws(spark):
    rows = _run(spark, "q_initial_letter_bias")
    assert rows
    by_lang: dict[str, int] = {}
    for r in rows:
        assert len(r["letter"]) == 1
        assert 0 < r["lang_bp"] <= 10000
        by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + r["lang_bp"]
    # per-lang shares sum to ~1 (floor losses)
    for lang, tot in by_lang.items():
        assert 10000 - 30 <= tot <= 10000


def test_rare_word_load_laws(spark):
    rows = _run(spark, "q_rare_word_load")
    assert rows
    docs = load_table(spark, SF_DIR, "documents")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    for r in rows:
        assert 0 <= r["pooled_rare_bp"] <= 10000
        assert 0 <= r["n_heavy_docs"] <= r["n_docs"]


def test_doclen_ranksize_laws(spark):
    rows = _run(spark, "q_doclen_ranksize")
    assert rows
    for r in rows:
        # rank-size of a sorted-desc series is non-increasing: slope <= 0
        assert r["ranksize_slope"] <= 0.0
        assert r["n_docs"] >= 1
        assert r["max_chars"] >= 1


# ---------------------------------------------------------------------------
# Tranche 3 — event-stream behavior.
# ---------------------------------------------------------------------------


def test_session_threshold_sweep_laws(spark):
    rows = _run(spark, "q_session_threshold_sweep")
    assert sorted(r["threshold_s"] for r in rows) == [600, 1800, 3600]
    rows.sort(key=lambda r: r["threshold_s"])
    # a looser threshold can only merge sessions
    sess = [r["n_sessions"] for r in rows]
    assert sess == sorted(sess, reverse=True)
    depths = [r["events_per_session_e2"] for r in rows]
    assert depths == sorted(depths)
    ev = load_table(spark, SF_DIR, "events")
    n_users = ev.select("user_id").distinct().count()
    for r in rows:
        assert r["n_sessions"] >= n_users


def test_type_value_percentiles_laws(spark):
    rows = _run(spark, "q_type_value_percentiles")
    assert rows
    ev = load_table(spark, SF_DIR, "events")
    assert sum(r["n_events"] for r in rows) == ev.count()
    for r in rows:
        assert r["p25_e4"] <= r["p50_e4"] <= r["p75_e4"]


def test_dow_value_premium_laws(spark):
    rows = _run(spark, "q_dow_value_premium")
    assert sorted(r["dow"] for r in rows) == list(range(1, 8))
    o = load_table(spark, SF_DIR, "orders")
    assert sum(r["n_orders"] for r in rows) == o.count()
    # premia bracket zero: some day above the mean, some below
    premia = [r["premium_bp"] for r in rows]
    assert min(premia) <= 0 <= max(premia) + 1


def test_user_modal_share_laws(spark):
    rows = _run(spark, "q_user_modal_share")
    assert rows
    ev = load_table(spark, SF_DIR, "events")
    n_users = ev.select("user_id").distinct().count()
    assert sum(r["n_users"] for r in rows) == n_users
    for r in rows:
        assert 0 <= r["band"] <= 9
        # the modal type of a k-type mix holds at least 1/k of events
        assert r["pooled_modal_bp"] >= 10000 // 5


def test_gap_weekend_mix_laws(spark):
    rows = _run(spark, "q_gap_weekend_mix")
    assert rows
    ev = load_table(spark, SF_DIR, "events")
    n_users = ev.select("user_id").distinct().count()
    # gaps = events - users (one per user is last)
    assert sum(r["n_gaps"] for r in rows) == ev.count() - n_users
    for r in rows:
        assert 1 <= r["dow"] <= 7
        assert r["mean_gap_s_e2"] >= 0
        assert 0 <= r["crosses_day_bp"] <= 10000


# ---------------------------------------------------------------------------
# Tranche 4 — catalog & pricing.
# ---------------------------------------------------------------------------


def test_partname_cooccur_laws(spark):
    rows = _run(spark, "q_partname_cooccur")
    assert 1 <= len(rows) <= 20
    counts = [r["n_parts"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        assert r["lift_e4"] >= 0


def test_brand_realized_ratio_laws(spark):
    rows = _run(spark, "q_brand_realized_ratio")
    assert rows
    li = load_table(spark, SF_DIR, "lineitem")
    assert sum(r["n_lines"] for r in rows) == li.count()
    for r in rows:
        # in THIS corpus extendedprice is an independent draw, not
        # qty·retailprice — realized sits near 2× list across brands
        # (measured ~2.09 at sf0.01), which is exactly the markup the
        # audit exposes; bound generously but meaningfully
        assert 10000 <= r["realized_ratio_e4"] <= 40000
        assert r["realized_total_cents"] > 0


def test_brand_size_coverage_laws(spark):
    rows = _run(spark, "q_brand_size_coverage")
    assert rows
    p = load_table(spark, SF_DIR, "part")
    assert sum(r["n_parts"] for r in rows) == p.count()
    g = p.select("p_size").distinct().count()
    for r in rows:
        assert 1 <= r["n_sizes"] <= g
        assert r["size_min"] <= r["size_max"]
        assert 0 < r["coverage_bp"] <= 10000
        assert r["coverage_bp"] == r["n_sizes"] * 10000 // g


def test_price_band_return_laws(spark):
    rows = _run(spark, "q_price_band_return")
    assert rows
    li = load_table(spark, SF_DIR, "lineitem")
    assert sum(r["n_lines"] for r in rows) == li.count()
    for r in rows:
        assert 0 <= r["price_band"] <= 9
        assert 0 <= r["return_bp"] <= 10000
        assert 0 <= r["value_return_bp"] <= 10000


def test_quantity_return_link_laws(spark):
    rows = _run(spark, "q_quantity_return_link")
    assert sorted(r["qty_band"] for r in rows) == [0, 1, 2, 3, 4]
    li = load_table(spark, SF_DIR, "lineitem")
    assert sum(r["n_lines"] for r in rows) == li.count()
    for r in rows:
        assert 0 <= r["return_bp"] <= 10000


# ---------------------------------------------------------------------------
# Tranche 5 — integrity audits.
# ---------------------------------------------------------------------------


def test_name_key_consistency_laws(spark):
    rows = {r["relation"]: r for r in _run(spark, "q_name_key_consistency")}
    assert set(rows) == {"customer", "supplier"}
    c = load_table(spark, SF_DIR, "customer")
    s = load_table(spark, SF_DIR, "supplier")
    assert rows["customer"]["n_rows"] == c.count()
    assert rows["supplier"]["n_rows"] == s.count()
    for r in rows.values():
        assert 0 <= r["n_match"] <= r["n_rows"]
        assert r["match_bp"] == r["n_match"] * 10000 // r["n_rows"]


def test_acctbal_percentiles_laws(spark):
    rows = _run(spark, "q_acctbal_percentiles")
    assert rows
    c = load_table(spark, SF_DIR, "customer")
    assert sum(r["n_customers"] for r in rows) == c.count()
    for r in rows:
        assert r["p10_cents"] <= r["p50_cents"] <= r["p90_cents"]


def test_region_acct_net_laws(spark):
    rows = _run(spark, "q_region_acct_net")
    assert rows
    c = load_table(spark, SF_DIR, "customer")
    s = load_table(spark, SF_DIR, "supplier")
    assert sum(r["n_cust"] for r in rows) == c.count()
    assert sum(r["n_supp"] for r in rows) == s.count()
    for r in rows:
        assert r["net_cents"] == r["cust_cents"] - r["supp_cents"]


def test_date_sanity_laws(spark):
    rows = _run(spark, "q_date_sanity")
    assert len(rows) == 1
    r = rows[0]
    li = load_table(spark, SF_DIR, "lineitem")
    assert r["n_lines"] == li.count()
    assert r["min_lead_days"] <= r["max_lead_days"]
    assert 0 <= r["violation_bp"] <= 10000
    if r["n_ship_before_order"] > 0:
        assert r["min_lead_days"] < 0


def test_embed_coverage_laws(spark):
    rows = _run(spark, "q_embed_coverage")
    assert len(rows) == 1
    r = rows[0]
    docs = load_table(spark, SF_DIR, "documents")
    emb = load_table(spark, SF_DIR, "embeddings")
    assert r["n_docs"] == docs.count()
    assert r["n_vecs"] == emb.count()
    assert r["n_matched"] + r["n_doc_only"] == r["n_docs"]
    assert r["n_matched"] + r["n_vec_only"] == r["n_vecs"]


# ---------------------------------------------------------------------------
# Tranche 6 — time-series shape.
# ---------------------------------------------------------------------------


def test_slope_break_laws(spark):
    rows = _run(spark, "q_slope_break")
    assert rows
    for r in rows:
        assert r["n_months"] >= 4
        assert (
            r["slope_delta_cents"]
            == r["slope_second_cents"] - r["slope_first_cents"]
        )


def test_peak_month_laws(spark):
    rows = _run(spark, "q_peak_month")
    assert rows
    for r in rows:
        assert 1 <= r["peak_month"] <= 12
        assert 1 <= r["n_months"] <= 12
        # the peak holds at least a uniform share
        assert r["peak_share_bp"] >= 10000 // r["n_months"]
        assert r["year_cents"] > 0


def test_rolling_corr_laws(spark):
    rows = _run(spark, "q_rolling_corr")
    assert rows
    for r in rows:
        if r["corr6"] is not None:
            assert -1.0 <= r["corr6"] <= 1.0


def test_momentum_flips_laws(spark):
    rows = _run(spark, "q_momentum_flips")
    assert rows
    for r in rows:
        assert r["n_up"] + r["n_down"] == r["n_changes"]
        assert 0 <= r["n_flips"] <= max(0, r["n_changes"] - 1)


def test_per_day_rate_laws(spark):
    rows = _run(spark, "q_per_day_rate")
    assert rows
    o = load_table(spark, SF_DIR, "orders")
    assert sum(r["n_orders"] for r in rows) == o.count()
    # rank shifts are a permutation delta: they sum to zero
    assert sum(r["rank_shift"] for r in rows) == 0
    for r in rows:
        assert 28 <= r["days_in_month"] <= 31
        assert r["rate_e2"] == r["n_orders"] * 100 // r["days_in_month"]


# ---------------------------------------------------------------------------
# Tranche 7 — LLM data-prep planning.
# ---------------------------------------------------------------------------


def test_packing_bound_laws(spark):
    rows = _run(spark, "q_packing_bound")
    assert sorted(r["budget"] for r in rows) == [64, 128, 256]
    for r in rows:
        # the naive count can never beat the bin-packing lower bound
        assert r["naive_chunks"] >= r["lower_bound"] >= 1
        assert r["slack_bp"] >= 0
        # and never exceeds one chunk per doc above it
        assert r["naive_chunks"] <= r["lower_bound"] + r["n_docs"]


def test_source_card_laws(spark):
    rows = _run(spark, "q_source_card")
    assert rows
    docs = load_table(spark, SF_DIR, "documents")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    assert 10000 - len(rows) <= sum(r["token_share_bp"] for r in rows) <= 10000
    for r in rows:
        assert 1 <= r["n_langs"] <= 5


def test_curriculum_schedule_laws(spark):
    rows = _run(spark, "q_curriculum_schedule")
    assert rows
    rows.sort(key=lambda r: r["band"])
    cums = [r["cum_token_bp"] for r in rows]
    assert cums == sorted(cums)
    assert cums[-1] == 10000
    for r in rows:
        assert 0 <= r["band"] <= 9
        assert 0 < r["pooled_ttr_bp"] <= 10000


def test_dup_size_hist_laws(spark):
    rows = _run(spark, "q_dup_size_hist")
    assert rows
    docs = load_table(spark, SF_DIR, "documents")
    assert sum(r["n_docs_in"] for r in rows) == docs.count()
    for r in rows:
        assert r["n_docs_in"] == r["cluster_size"] * r["n_clusters"]


def test_lexical_rank_score_laws(spark):
    rows = _run(spark, "q_lexical_rank_score")
    assert rows
    for r in rows:
        # mean rank is at least 1 (rank of the head word)
        assert r["mean_rank_e2"] >= 100
        assert 0 <= r["head100_bp"] <= 10000


# ---------------------------------------------------------------------------
# Tranche 8 — embedding geometry.
# ---------------------------------------------------------------------------


def test_embed_dim_corr_laws(spark):
    rows = _run(spark, "q_embed_dim_corr")
    assert len(rows) == 16 * 15 // 2
    for r in rows:
        assert 1 <= r["dim_a"] < r["dim_b"] <= 16
        assert -1.0 <= r["corr_ab"] <= 1.0


def test_embed_dim_anova_laws(spark):
    rows = _run(spark, "q_embed_dim_anova")
    emb = load_table(spark, SF_DIR, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    assert len(rows) == dim
    n = emb.count()
    for r in rows:
        assert r["n_tot"] == n
        assert r["f_stat"] is None or r["f_stat"] >= 0.0


def test_embed_component_hist_laws(spark):
    rows = _run(spark, "q_embed_component_hist")
    assert rows
    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.count()
    dim = len(emb.select("embedding").first()[0])
    assert sum(r["n_components"] for r in rows) == n * dim
    for r in rows:
        assert -10 <= r["bin"] <= 9


def test_embed_topk_mass_laws(spark):
    rows = _run(spark, "q_embed_topk_mass")
    assert rows
    emb = load_table(spark, SF_DIR, "embeddings")
    assert sum(r["n_vecs"] for r in rows) == emb.count()
    for r in rows:
        # 4 of 64 components carry at least 4/64 of the L1 mass
        assert r["min_top4_e4"] >= 10000 * 4 // 64
        assert r["min_top4_e4"] <= r["mean_top4_e4"] <= r["max_top4_e4"]
        assert r["max_top4_e4"] <= 10000


def test_embed_shells_laws(spark):
    rows = _run(spark, "q_embed_shells")
    assert rows
    emb = load_table(spark, SF_DIR, "embeddings")
    assert sum(r["n_vecs"] for r in rows) == emb.count()
    for r in rows:
        assert 0 <= r["shell"] <= 9
        if r["shell"] < 9:
            assert (
                r["shell"] * 2500
                <= r["mean_norm2_e4"]
                < (r["shell"] + 1) * 2500
            )


# ---------------------------------------------------------------------------
# Tranche 9 — retail behavioral dynamics.
# ---------------------------------------------------------------------------


def test_priority_escalation_laws(spark):
    rows = _run(spark, "q_priority_escalation")
    assert rows
    o = load_table(spark, SF_DIR, "orders")
    n_cust_with_orders = o.select("o_custkey").distinct().count()
    assert sum(r["n_pairs"] for r in rows) == o.count() - n_cust_with_orders
    for r in rows:
        assert r["n_escalations"] + r["n_deescalations"] <= r["n_pairs"]
        assert 0 <= r["escalation_bp"] <= 10000


def test_return_drift_laws(spark):
    rows = _run(spark, "q_return_drift")
    assert rows
    for r in rows:
        assert r["drift_bp"] == r["return_bp_second"] - r["return_bp_first"]
        assert 0 <= r["return_bp_first"] <= 10000
        assert 0 <= r["return_bp_second"] <= 10000


def test_order_value_gini_laws(spark):
    rows = _run(spark, "q_order_value_gini")
    assert rows
    for r in rows:
        assert 2 <= r["n_lines"] <= 13
        # Gini of n values is bounded by (n-1)/n
        bound = 10000 * (r["n_lines"] - 1) // r["n_lines"]
        assert 0 <= r["mean_gini_e4"] <= r["max_gini_e4"] <= bound


def test_dormant_suppliers_laws(spark):
    rows = _run(spark, "q_dormant_suppliers")
    assert rows
    li = load_table(spark, SF_DIR, "lineitem")
    n_active = li.select("l_suppkey").distinct().count()
    assert sum(r["n_suppliers"] for r in rows) == n_active
    for r in rows:
        assert 0 <= r["n_dormant"] <= r["n_suppliers"]
        assert 0 <= r["dormant_value_bp"] <= 10000


def test_customer_age_curve_laws(spark):
    rows = _run(spark, "q_customer_age_curve")
    assert rows
    o = load_table(spark, SF_DIR, "orders")
    assert sum(r["n_orders"] for r in rows) == o.count()
    rows.sort(key=lambda r: r["age_band"])
    assert rows[0]["age_band"] == 0
    # band 0 holds every customer's first order
    n_cust = o.select("o_custkey").distinct().count()
    assert rows[0]["n_orders"] >= n_cust


# ---------------------------------------------------------------------------
# Tranche 10 — window close.
# ---------------------------------------------------------------------------


def test_type_hour_concentration_laws(spark):
    rows = _run(spark, "q_type_hour_concentration")
    assert rows
    ev = load_table(spark, SF_DIR, "events")
    assert sum(r["n_events"] for r in rows) == ev.count()
    for r in rows:
        assert 0 <= r["peak_hour"] <= 23
        assert 1 <= r["n_active_hours"] <= 24
        assert r["peak_share_bp"] >= 10000 // r["n_active_hours"]


def test_value_band_markov_laws(spark):
    rows = _run(spark, "q_value_band_markov")
    assert rows
    by_from: dict[int, int] = {}
    for r in rows:
        assert 0 <= r["from_band"] <= 4
        assert 0 <= r["to_band"] <= 4
        by_from[r["from_band"]] = by_from.get(r["from_band"], 0) + r[
            "row_share_bp"
        ]
    for fb, tot in by_from.items():
        assert 10000 - 25 <= tot <= 10000


def test_win_nth_value_laws(spark):
    rows = _run(spark, "q_win_nth_value")
    assert rows
    o = load_table(spark, SF_DIR, "orders")
    repeat = (
        o.groupBy("o_custkey").count().where("count >= 2").count()
    )
    assert sum(r["n_repeat_customers"] for r in rows) == repeat
    for r in rows:
        assert (
            r["trend_cents"]
            == r["mean_latest_cents"] - r["mean_prior_cents"]
        )


def test_supplier_brand_affinity_laws(spark):
    rows = _run(spark, "q_supplier_brand_affinity")
    assert rows
    li = load_table(spark, SF_DIR, "lineitem")
    n_supp = li.select("l_suppkey").distinct().count()
    assert sum(r["n_suppliers"] for r in rows) == n_supp
    for r in rows:
        assert 0 <= r["band"] <= 9
        assert r["mean_brands_e2"] >= 100
        assert 0 < r["pooled_modal_bp"] <= 10000


def test_nation_assortment_reach_laws(spark):
    rows = _run(spark, "q_nation_assortment_reach")
    assert rows
    li = load_table(spark, SF_DIR, "lineitem")
    assert sum(r["n_lines"] for r in rows) == li.count()
    for r in rows:
        assert r["n_parts"] <= r["n_lines"]
        assert r["n_suppliers"] <= r["n_lines"]
        assert r["cents_per_part"] > 0
