"""Semantic invariants for the round-15 query batch (queries/analytics_r15.py)
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
# Laws for tranche 1 — order-flow / queueing.
# ---------------------------------------------------------------------------


def test_little_law_laws(spark):
    rows = _run(spark, "q_little_law")
    assert rows
    months = [r["month"] for r in rows]
    assert months == sorted(months) and len(set(months)) == len(months)
    for r in rows:
        assert r["arrivals"] >= 1
        # every order is open at least one day: W >= 1.0
        assert r["w_mean_days_e4"] >= 10000
        assert r["l_avg_open_e4"] >= 0
        assert r["littles_ratio_e4"] >= 0
    # total arrivals = orders that have lineitems
    o = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey").distinct()
    n = o.join(li, o.o_orderkey == li.l_orderkey).count()
    assert sum(r["arrivals"] for r in rows) == n


def test_first_ship_latency_laws(spark):
    rows = _run(spark, "q_first_ship_latency")
    assert len(rows) == 5
    for r in rows:
        assert r["n_orders"] > 0
        assert r["min_latency_days"] <= r["median_latency_days"]
        assert r["median_latency_days"] <= r["p90_latency_days"]


def test_ship_rate_balance_laws(spark):
    rows = _run(spark, "q_ship_rate_balance")
    assert rows
    months = [r["month"] for r in rows]
    assert months == sorted(months)
    # flow conservation: both legs count the SAME lineitem set, so the
    # final backlog is exactly zero and the curve is the exact prefix
    # sum of the monthly imbalances. (The curve CAN dip negative —
    # the testdata contains ship-before-order anomaly rows, the
    # q_date_sanity class, whose ship month precedes the order month.)
    assert rows[-1]["cum_backlog_lines"] == 0
    run = 0
    for r in rows:
        run += r["lines_ordered"] - r["lines_shipped"]
        assert r["cum_backlog_lines"] == run
    assert sum(r["lines_ordered"] for r in rows) == sum(
        r["lines_shipped"] for r in rows
    )


def test_wip_value_days_laws(spark):
    rows = _run(spark, "q_wip_value_days")
    assert len(rows) == 5
    total_share = sum(r["wip_share_e4"] for r in rows)
    # five floors: at most 4 e4-units lost
    assert 10000 - 4 <= total_share <= 10000
    for r in rows:
        # every order open >= 1 day => capital-weighted days >= 1.0
        assert r["value_weighted_days_e4"] >= 10000


def test_key_density_laws(spark):
    rows = _run(spark, "q_key_density")
    assert rows
    o_n = load_table(spark, SF_DIR, "orders").count()
    assert sum(r["n_keys"] for r in rows) == o_n
    assert sum(r["share_e4"] for r in rows) <= 10000
    buckets = [r["bucket"] for r in rows]
    assert buckets == sorted(buckets)
    assert all(0 <= b <= 15 for b in buckets)
    # equal-width slices are disjoint key ranges in bucket order
    for a, b in zip(rows, rows[1:]):
        assert a["hi_key"] < b["lo_key"]


# ---------------------------------------------------------------------------
# Laws for tranche 2 — calendar structure.
# ---------------------------------------------------------------------------


def test_month_length_effect_laws(spark):
    rows = _run(spark, "q_month_length_effect")
    assert rows
    lengths = [r["month_days"] for r in rows]
    assert all(x in (28, 29, 30, 31) for x in lengths)
    assert lengths == sorted(lengths)
    o_n = load_table(spark, SF_DIR, "orders").count()
    assert sum(r["n_orders"] for r in rows) == o_n
    for r in rows:
        # rate * months * days reconstructs the count up to floor loss
        recon = r["orders_per_day_e4"] * r["n_months"] * r["month_days"]
        assert recon <= r["n_orders"] * 10000
        assert recon > (r["orders_per_day_e4"] + 1) * r["n_months"] * r[
            "month_days"
        ] - r["n_months"] * r["month_days"] * 2


def test_dow_profile_align_laws(spark):
    rows = _run(spark, "q_dow_profile_align")
    assert len(rows) == 7
    assert [r["dow"] for r in rows] == list(range(1, 8))
    assert sum(r["orders_share_e4"] for r in rows) <= 10000
    assert sum(r["events_share_e4"] for r in rows) <= 10000
    for r in rows:
        assert (
            r["gap_e4"] == abs(r["orders_share_e4"] - r["events_share_e4"])
        )


def test_quarter_shape_laws(spark):
    rows = _run(spark, "q_quarter_shape")
    assert len(rows) == 3
    assert [r["month_in_quarter"] for r in rows] == [1, 2, 3]
    assert 10000 - 2 <= sum(r["count_share_e4"] for r in rows) <= 10000
    assert 10000 - 2 <= sum(r["value_share_e4"] for r in rows) <= 10000
    o_n = load_table(spark, SF_DIR, "orders").count()
    assert sum(r["n_orders"] for r in rows) == o_n


def test_seasonal_profile_align_laws(spark):
    rows = _run(spark, "q_seasonal_profile_align")
    assert rows
    weeks = [r["week"] for r in rows]
    assert weeks == sorted(weeks)
    assert all(1 <= w <= 53 for w in weeks)
    o_n = load_table(spark, SF_DIR, "orders").count()
    e_n = load_table(spark, SF_DIR, "events").count()
    assert sum(r["n_orders"] for r in rows) == o_n
    assert sum(r["n_events"] for r in rows) == e_n
    # orders span 7 years: every ISO week must be inhabited on the
    # orders side; the events feed covers only a few weeks, so most
    # rows are 0-share on the events side (the explicit coverage gap)
    assert all(r["n_orders"] > 0 for r in rows)
    assert sum(1 for r in rows if r["n_events"] == 0) > len(rows) // 2


def test_year_boundary_dip_laws(spark):
    rows = _run(spark, "q_year_boundary_dip")
    assert rows
    years = [r["boundary_year"] for r in rows]
    assert years == sorted(years) and len(set(years)) == len(years)
    for r in rows:
        assert r["dec_tail_orders"] >= 0 and r["jan_head_orders"] >= 0
        if r["jan_head_orders"] > 0:
            assert r["dec_over_jan_e4"] is not None
        else:
            assert r["dec_over_jan_e4"] is None


# ---------------------------------------------------------------------------
# Laws for tranche 3 — customer ordering dynamics.
# ---------------------------------------------------------------------------


def test_record_highs_laws(spark):
    rows = _run(spark, "q_record_highs")
    assert len(rows) == 5
    for r in rows:
        # first order is always a record: mean >= 1.0
        assert r["mean_records_e4"] >= 10000
        assert 0 <= r["ending_on_record_e4"] <= 10000


def test_weekday_loyalty_laws(spark):
    rows = _run(spark, "q_weekday_loyalty")
    assert rows
    bands = [r["loyalty_band"] for r in rows]
    assert all(0 <= b <= 3 for b in bands) and bands == sorted(bands)
    assert sum(r["share_e4"] for r in rows) <= 10000
    # population = customers with >= 3 orders
    o = load_table(spark, SF_DIR, "orders")
    n3 = (
        o.groupBy("o_custkey").count().filter("count >= 3").count()
    )
    assert sum(r["n_customers"] for r in rows) == n3


def test_order_tempo_laws(spark):
    rows = _run(spark, "q_order_tempo")
    assert len(rows) == 5
    for r in rows:
        assert r["n_repeat_customers"] > 0
        assert 0 < r["median_tempo_e4"] <= r["p90_tempo_e4"]
        # a repeat customer has >= 2 orders over >= 1 month:
        # tempo can't exceed orders-per-month when months >= 1
        # and can't be zero
        assert r["median_tempo_e4"] >= 1


def test_value_cv_by_tenure_laws(spark):
    rows = _run(spark, "q_value_cv_by_tenure")
    assert rows
    seen = set()
    for r in rows:
        key = (r["c_mktsegment"], r["tenure_band"])
        assert key not in seen
        seen.add(key)
        assert r["tenure_band"] in (0, 1, 2)
        assert r["n_customers"] > 0
        # cv^2 >= 0 by Cauchy-Schwarz (n*s2 >= s1^2)
        assert r["mean_cv2_e4"] >= 0


def test_gap_acceleration_laws(spark):
    rows = _run(spark, "q_gap_acceleration")
    assert len(rows) == 5
    for r in rows:
        assert r["n_customers"] > 0
        total = r["accelerating_e4"] + r["decelerating_e4"] + r["stable_e4"]
        assert 10000 - 2 <= total <= 10000


# ---------------------------------------------------------------------------
# Laws for tranche 4 — catalog & pricing structure.
# ---------------------------------------------------------------------------


def test_supplier_peak_coherence_laws(spark):
    rows = _run(spark, "q_supplier_peak_coherence")
    assert rows
    s_n = load_table(spark, SF_DIR, "supplier").count()
    # every supplier with >= 1 shipped line contributes exactly once
    assert sum(r["n_suppliers"] for r in rows) <= s_n
    for r in rows:
        assert 1 <= r["modal_peak_month"] <= 12
        # the modal month holds at least 1/12 of suppliers
        assert r["coherence_e4"] * 12 >= 10000 - 12
        assert r["coherence_e4"] <= 10000


def test_local_supply_premium_laws(spark):
    rows = _run(spark, "q_local_supply_premium")
    assert len(rows) == 5
    li_n = load_table(spark, SF_DIR, "lineitem").count()
    assert sum(r["n_lines"] for r in rows) == li_n
    for r in rows:
        assert 0 <= r["local_share_e4"] <= 10000
        if r["local_unit_cents"] is not None and r["remote_unit_cents"]:
            assert r["local_premium_e4"] is not None


def test_size_ladder_gaps_laws(spark):
    rows = _run(spark, "q_size_ladder_gaps")
    assert rows
    for r in rows:
        assert r["min_size"] <= r["max_size"]
        if r["n_sizes"] > 1:
            # max gap bounds: at least the ceiling of the mean gap,
            # at most the full span
            assert r["max_gap"] * 10000 >= r["mean_gap_e4"]
            assert r["max_gap"] <= r["max_size"] - r["min_size"]
        else:
            assert r["mean_gap_e4"] is None


def test_brand_grade_entropy_laws(spark):
    import math

    rows = _run(spark, "q_brand_grade_entropy")
    assert rows
    p_n = load_table(spark, SF_DIR, "part").count()
    assert sum(r["n_parts"] for r in rows) == p_n
    for r in rows:
        assert 1 <= r["n_grades"] <= 6
        # entropy bounded by log2(n_grades); modal share inversely
        # bounds it from below via the min-entropy relation
        assert -1e-9 <= r["entropy_bits"] <= math.log2(r["n_grades"]) + 1e-9
        assert r["modal_share_e4"] * r["n_grades"] >= 10000 - r["n_grades"]


def test_heavy_order_parts_laws(spark):
    rows = _run(spark, "q_heavy_order_parts")
    assert rows
    li_n = load_table(spark, SF_DIR, "lineitem").count()
    assert sum(r["n_lines"] for r in rows) == li_n
    lifts = [r["lift_e4"] for r in rows if r["lift_e4"] is not None]
    assert lifts, "threshold produced zero big orders"
    # lifts scatter around 10000 (the all-brand rate)
    assert min(lifts) <= 10000 <= max(lifts) or all(
        abs(x - 10000) < 2000 for x in lifts
    )


# ---------------------------------------------------------------------------
# Laws for tranche 5 — event-stream microstructure.
# ---------------------------------------------------------------------------


def test_minute_uniformity_laws(spark):
    rows = _run(spark, "q_minute_uniformity")
    assert rows
    ev_n = load_table(spark, SF_DIR, "events").count()
    assert sum(r["n"] for r in rows) == ev_n
    for r in rows:
        assert 1 <= r["n_cells"] <= 60
        assert r["chi2_e4"] >= 0


def test_coactivity_rate_laws(spark):
    rows = _run(spark, "q_coactivity_rate")
    assert rows
    ev_n = load_table(spark, SF_DIR, "events").count()
    assert sum(r["n_events"] for r in rows) == ev_n
    for r in rows:
        assert 0 <= r["n_coactive"] <= r["n_events"]
        assert 0 <= r["coactive_e4"] <= 10000


def test_user_burst_share_laws(spark):
    rows = _run(spark, "q_user_burst_share")
    assert rows
    for r in rows:
        assert r["volume_band"] in (0, 1, 2, 3)
        assert r["n_users"] > 0
        # peak hour holds at least 1/total of events; at most all
        assert 0 < r["mean_burst_e4"] <= 10000
        assert 0 <= r["single_hour_users_e4"] <= 10000
    # heavier users cannot be MORE single-hour-concentrated on
    # average than 2-4-event users at band granularity... only check
    # monotone n_users presence, not shape (data-dependent)


def test_session_starter_types_laws(spark):
    rows = _run(spark, "q_session_starter_types")
    assert rows
    assert sum(r["starter_share_e4"] for r in rows) <= 10000
    assert sum(r["overall_share_e4"] for r in rows) <= 10000
    for r in rows:
        assert 1 <= r["n_starts"] <= r["n_events"]
    # session count conservation: total starts == session count from
    # a direct 30-min-gap sessionization
    ev = load_table(spark, SF_DIR, "events")
    from pyspark.sql import Window as W
    from pyspark.sql import functions as SF

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tus = SF.unix_micros(SF.col("ts").cast("timestamp"))
    starts = ev.select(
        SF.when(
            SF.lag(tus).over(w).isNull()
            | ((tus - SF.lag(tus).over(w)) > 1800 * 1000000),
            1,
        )
        .otherwise(0)
        .alias("s")
    ).agg(SF.sum("s")).collect()[0][0]
    assert sum(r["n_starts"] for r in rows) == starts


def test_hourly_handoff_laws(spark):
    rows = _run(spark, "q_hourly_handoff")
    assert rows
    for r in rows:
        assert r["n_pairs"] > 0
        if r["lag1_corr"] is not None:
            assert -1.0 <= r["lag1_corr"] <= 1.0


# ---------------------------------------------------------------------------
# Laws for tranche 6 — embedding geometry.
# ---------------------------------------------------------------------------


def test_embed_hoyer_laws(spark):
    rows = _run(spark, "q_embed_hoyer")
    assert len(rows) == 10
    e_n = load_table(spark, SF_DIR, "embeddings").count()
    assert sum(r["n_vecs"] for r in rows) == e_n
    for r in rows:
        assert -1e-9 <= r["mean_hoyer"] <= 1.0 + 1e-9
        assert 0 <= r["sparse_share_e4"] <= 10000


def test_embed_norm_chars_link_laws(spark):
    rows = _run(spark, "q_embed_norm_chars_link")
    assert rows
    d_n = load_table(spark, SF_DIR, "documents").count()
    # the id join is total (staged q_embed_coverage proves it)
    assert sum(r["n_docs"] for r in rows) == d_n
    for r in rows:
        if r["norm_chars_corr"] is not None:
            assert -1.0 <= r["norm_chars_corr"] <= 1.0


def test_embed_quadrant_mix_laws(spark):
    rows = _run(spark, "q_embed_quadrant_mix")
    assert len(rows) == 10
    for r in rows:
        # P(++) <= min(P(+.), P(.+)) -- Frechet bound, up to floor
        assert r["pp_share_e4"] <= min(r["d1_pos_e4"], r["d2_pos_e4"]) + 1
        assert 0 <= r["dependence_gap_e4"] <= 10000


def test_embed_cosine_to_mean_laws(spark):
    rows = _run(spark, "q_embed_cosine_to_mean")
    assert len(rows) == 10
    e_n = load_table(spark, SF_DIR, "embeddings").count()
    assert sum(r["n_vecs"] for r in rows) == e_n
    for r in rows:
        assert -1.0 - 1e-9 <= r["mean_cos"] <= 1.0 + 1e-9
        assert 0 <= r["negative_share_e4"] <= 10000


def test_embed_linf_flatness_laws(spark):
    rows = _run(spark, "q_embed_linf_flatness")
    assert len(rows) == 10
    for r in rows:
        # 1/d <= flatness <= 1: linf <= l1 <= d*linf
        assert 10000 // 64 <= r["mean_flatness_e4"] <= 10000
        assert 0 <= r["flat_share_e4"] <= 10000


# ---------------------------------------------------------------------------
# Laws for tranche 7 — corpus structure.
# ---------------------------------------------------------------------------


def test_source_spread_spectrum_laws(spark):
    rows = _run(spark, "q_source_spread_spectrum")
    assert rows
    spreads = [r["spread"] for r in rows]
    assert spreads == sorted(spreads)
    assert all(1 <= s <= 20 for s in spreads)
    assert sum(r["mass_share_e4"] for r in rows) <= 10000
    for r in rows:
        # a word in k sources occurs at least k times
        assert r["token_mass"] >= r["n_words"] * r["spread"]


def test_word_recurrence_gap_laws(spark):
    rows = _run(spark, "q_word_recurrence_gap")
    assert rows
    for r in rows:
        assert r["n_repeated_words"] > 0
        # consecutive occurrences are at least 1 token apart
        assert r["mean_gap_e4"] >= 10000
        assert 1 <= r["docs_with_repeat"]


def test_doc_opener_lift_laws(spark):
    rows = _run(spark, "q_doc_opener_lift")
    assert 1 <= len(rows) <= 10
    starts = [r["n_starts"] for r in rows]
    assert starts == sorted(starts, reverse=True)
    for r in rows:
        # a word can't open more docs than it has tokens
        assert r["n_starts"] <= r["n_tokens"]
        assert r["lift_e4"] >= 0


def test_hapax_position_laws(spark):
    rows = _run(spark, "q_hapax_position")
    assert rows
    for r in rows:
        assert 0 <= r["hapax_mean_relpos_e4"] <= 10000
        assert 0 <= r["all_mean_relpos_e4"] <= 10000
        # word-soup generator: no positional structure — both means
        # hover near center (loose band, this is a realism probe)
        assert 2000 <= r["all_mean_relpos_e4"] <= 8000


def test_ttr_by_position_laws(spark):
    rows = _run(spark, "q_ttr_by_position")
    assert rows
    seen = set()
    for r in rows:
        key = (r["lang"], r["third"])
        assert key not in seen
        seen.add(key)
        assert r["third"] in (0, 1, 2)
        assert 0 < r["ttr_e4"] <= 10000
    langs = {r["lang"] for r in rows}
    assert all(
        {(la, t) in seen for t in (0, 1, 2)} == {True} for la in langs
    )


# ---------------------------------------------------------------------------
# Laws for tranche 8 — integrity & joint dependence.
# ---------------------------------------------------------------------------


def test_linestatus_cutover_laws(spark):
    rows = _run(spark, "q_linestatus_cutover")
    assert len(rows) >= 2
    li_n = load_table(spark, SF_DIR, "lineitem").count()
    assert sum(r["n_lines"] for r in rows) == li_n
    overlaps = {r["overlap_days"] for r in rows}
    assert len(overlaps) == 1  # global quantity, repeated per row
    for r in rows:
        assert r["min_ship"] <= r["max_ship"]
        assert r["overlap_days"] >= 0


def test_key_time_order_laws(spark):
    rows = _run(spark, "q_key_time_order")
    assert len(rows) == 1
    r = rows[0]
    o_n = load_table(spark, SF_DIR, "orders").count()
    # each 1024-key bucket drops exactly one pair (its first row)
    assert 0 < r["n_pairs"] < o_n
    assert 0 <= r["n_inversions"] <= r["n_pairs"]
    assert r["inversion_e4"] == r["n_inversions"] * 10000 // r["n_pairs"]


def test_priority_persistence_laws(spark):
    rows = _run(spark, "q_priority_persistence")
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r["persistence_e4"] <= 10000
        # chance rate for 5 roughly-uniform priorities sits near 2000
        assert 1500 <= r["chance_e4"] <= 3000


def test_size_value_dependence_laws(spark):
    rows = _run(spark, "q_size_value_dependence")
    assert rows
    o_li = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey").distinct()
    n_orders = o_li.join(li, o_li.o_orderkey == li.l_orderkey).count()
    assert sum(r["n"] for r in rows) == n_orders
    for r in rows:
        assert 1 <= r["size_band"] <= 7
        assert 0 <= r["value_band"] <= 3
        assert r["lift_e4"] >= 0


def test_burst_cooldown_laws(spark):
    rows = _run(spark, "q_burst_cooldown")
    assert rows
    for r in rows:
        assert r["volume_band"] in (0, 1, 2)
        assert r["n_users"] > 0
        assert r["cooldown_e4"] >= 0
        assert 0 <= r["hard_stop_e4"] <= 10000


# ---------------------------------------------------------------------------
# Laws for tranche 9 — SPC & seasonality on the daily order series.
# ---------------------------------------------------------------------------


def test_control_limits_laws(spark):
    rows = _run(spark, "q_control_limits")
    assert len(rows) >= 2
    n_days = (
        load_table(spark, SF_DIR, "orders")
        .select("o_orderdate")
        .distinct()
        .count()
    )
    assert sum(r["n_days"] for r in rows) == n_days
    for r in rows:
        assert r["n_out_hi"] + r["n_out_lo"] <= r["n_days"]
        assert (
            r["out_bp"]
            == (r["n_out_hi"] + r["n_out_lo"]) * 10000 // r["n_days"]
        )


def test_count_acf_laws(spark):
    rows = _run(spark, "q_count_acf")
    assert [r["lag_k"] for r in rows] == list(range(1, 8))
    n_days = (
        load_table(spark, SF_DIR, "orders")
        .select("o_orderdate")
        .distinct()
        .count()
    )
    for r in rows:
        assert r["n_pairs"] == n_days - r["lag_k"]
        assert abs(r["acf"]) <= 1.0


def test_period_scan_laws(spark):
    rows = _run(spark, "q_period_scan")
    assert [r["p"] for r in rows] == list(range(2, 11))
    assert all(r["spread_e4"] >= 0 for r in rows)


def test_revenue_bridge_laws(spark):
    rows = _run(spark, "q_revenue_bridge")
    assert len(rows) >= 2
    months = {r["m"] for r in rows}
    assert len(months) == len(rows)
    for r in rows:
        # the bridge closes exactly: Δrevenue = volume + price effects
        assert r["ds_cents"] == r["vol_cents"] + r["price_cents"]
        assert r["n_orders"] > 0


def test_missing_days_laws(spark):
    rows = _run(spark, "q_missing_days")
    assert len(rows) >= 2
    n_days = (
        load_table(spark, SF_DIR, "orders")
        .select("o_orderdate")
        .distinct()
        .count()
    )
    assert sum(r["days_present"] for r in rows) == n_days
    for r in rows:
        assert 1 <= r["days_present"] <= 366
        assert 0 <= r["longest_gap"] <= r["missing_days"] or (
            r["missing_days"] == 0 and r["longest_gap"] == 0
        )


# ---------------------------------------------------------------------------
# Laws for tranche 10 — customer-base composition.
# ---------------------------------------------------------------------------


def test_rfm_grid_laws(spark):
    rows = _run(spark, "q_rfm_grid")
    assert 2 <= len(rows) <= 27
    n_cust = (
        load_table(spark, SF_DIR, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r["n_customers"] for r in rows) == n_cust
    for r in rows:
        assert r["r_band"] in (0, 1, 2)
        assert r["f_band"] in (0, 1, 2)
        assert r["m_band"] in (0, 1, 2)
        assert r["n_customers"] > 0 and r["mon_cents"] > 0
    # thresholds must be non-degenerate: every axis inhabits >= 2 bands
    for axis in ("r_band", "f_band", "m_band"):
        assert len({r[axis] for r in rows}) >= 2


def test_whale_turnover_laws(spark):
    rows = _run(spark, "q_whale_turnover")
    assert len(rows) >= 2
    yrs = [r["yr"] for r in rows]
    assert yrs == sorted(yrs)
    for r in rows:
        assert 0 <= r["n_inter"] <= min(r["n_top_prev"], r["n_top_cur"])
        union = r["n_top_prev"] + r["n_top_cur"] - r["n_inter"]
        assert r["jaccard_e4"] == r["n_inter"] * 10000 // union
        assert 0 <= r["jaccard_e4"] <= 10000


def test_league_mobility_laws(spark):
    rows = _run(spark, "q_league_mobility")
    assert len(rows) >= 2
    for r in rows:
        assert 2 <= r["n_common"] <= 25
        # ranks are within 1..25 either year, so displacement <= 24/pair
        assert 0 <= r["footrule"] <= r["n_common"] * 24
        assert (
            r["mobility_e4"]
            == r["footrule"] * 10000 // (r["n_common"] ** 2 // 2)
        )


def test_second_order_latency_laws(spark):
    rows = _run(spark, "q_second_order_latency")
    assert len(rows) >= 2
    n_cust = (
        load_table(spark, SF_DIR, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r["n_cohort"] for r in rows) == n_cust
    for r in rows:
        assert 0 <= r["n_repeat"] <= r["n_cohort"]
        assert r["repeat_e4"] == r["n_repeat"] * 10000 // r["n_cohort"]
        if r["n_repeat"] > 0:
            assert r["median_latency_days"] >= 0
        else:
            assert r["median_latency_days"] is None


def test_spend_kurtosis_laws(spark):
    rows = _run(spark, "q_spend_kurtosis")
    assert len(rows) == 1
    r = rows[0]
    n_cust = (
        load_table(spark, SF_DIR, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert r["n_customers"] == n_cust
    assert r["mean_dollars"] > 0
    # kurtosis of any real distribution >= 1e4 (Pearson bound: m4 >= m2^2)
    assert r["kurt_e4"] >= 10000
    assert abs(r["skew_r4"]) < 100.0
