"""Rotation-debt linter (round-4 verdict item #8).

The driver's correctness gate only checks the first 50 registry entries
each round, so window rotation is what keeps every query's independent
oracle evidence fresh. This test makes the staleness policy executable:
at window-assembly time, no registered query's newest driver-green round
may be MORE THAN ``MAX_STALENESS`` rounds old — where queries inside the
current window count as refreshed THIS round (that is what putting them
in the window means), and queries outside it keep their newest committed
row.

Evidence source: the committed ``CORRECTNESS_r{N}.json`` files at the
repo root (the driver's own artifacts — not self-reported sweeps). A row
counts as green when the driver recorded no error and the row counts
matched; hash_match additionally holds for exact-oracled entries and is
absent/False by design for the documented rows-only (sketch/approximate)
entries, which the weaker rows-only check still covers.

NOTE on the red window between rounds: when the driver drops a fresh
``CORRECTNESS_r{N}.json`` at round close, ``current_round`` advances and
this test goes red until ``_DRIVER_ORDER`` is reassembled for the new
round — that red is the forcing function working as designed (it prints
the exact queries the next window must contain), not a regression. The
fix is always to rotate the window, never to loosen ``MAX_STALENESS``.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

from active_query_optimizer_spark.operators import QUERIES
from active_query_optimizer_spark.operators.registry import ORACLES

REPO = Path(__file__).resolve().parent.parent

#: a query older than this many rounds (and not in the current window)
#: is rotation debt the next verdict will flag
MAX_STALENESS = 3

#: observed driver behavior: rows are recorded for the first N registry
#: entries in registration order
DRIVER_WINDOW = 50

#: Round-7 burned a rotation cycle (zero commits), leaving 82 stale
#: queries against a 50-slot window — debt that takes three windows to
#: clear (at round-9 assembly the 48 r05-green entries age past the bound
#: too: 32+48=80 offenders vs 50 slots; fully green only at round 10).
#: These are the COMMITTED leftovers for the interim rounds — the linter
#: accepts exactly this set at that round's assembly and nothing else, so
#: the plan is executable and self-expiring (empty from round 10 on).
#: PLANNED_LEFTOVERS[8] == the r04 part of the committed round-9 window
#: (operators/__init__.py block 2); PLANNED_LEFTOVERS[9]'s allowance is the
#: committed round-10 block (block 3). Keys are the round being ASSEMBLED.
PLANNED_LEFTOVERS = {
    8: {
        "events_unpivot_daily", "graph_triangle_count", "groupby_having",
        "grouping_sets_agg", "intersect_except_keys",
        "latest_order_per_customer", "min_projection_job_style",
        "pred_between", "pred_epoch_int", "pred_eq_neq", "pred_in",
        "pred_like", "pred_not_like", "pred_null_checks", "pred_range_ops",
        "pred_ts_literal", "scalar_subquery_small_qty",
        "stats_column_cardinalities_approx", "stats_null_profile",
        "stats_price_deciles", "tpch_q10_returned_items",
        "tpch_q12_shipmode_priority", "tpch_q13_customer_distribution",
        "tpch_q14_promo_share", "tpch_q15_top_supplier",
        "tpch_q18_large_orders", "tpch_q19_disjunctive_revenue",
        "tpch_q21_waiting_supplier", "tpch_q22_lapsed_high_balance",
        "tpch_q7_nation_volume", "upsert_snapshot_apply",
        "window_rolling_7day_avg",
    },
    9: {
        "pareto_front_orders", "pricing_summary", "props_extract_sum",
        "quality_length_percent_rank", "sample_balanced_per_lang",
        "sample_stratified_proportional", "sample_temperature_mixture",
        "scd2_history_build", "setsim_join_prefix", "sevenway_join_count",
        "stats_corr_qty_discount", "stats_length_percentiles_approx",
        "stats_median_disc_per_group", "stats_reservoir_sample_profile",
        "stats_revenue_gini", "text_chunk_overlap",
        "text_edit_distance_pairs", "text_quality_scores", "text_token_stats",
        "text_vocab_stats", "tpch_q11_important_parts",
        "tpch_q16_supplier_variety", "tpch_q20_promo_volume_suppliers",
        "tpch_q2_min_cost_supplier", "tpch_q4_priority_exists",
        "tpch_q6_forecast_revenue", "tpch_q8_market_share",
        "tpch_q9_product_profit", "window_dense_rank_ties",
        "zorder_layout_profile",
    },
    # round 14 never rotated: at round-15 assembly 30 r10-green (age 5)
    # and 50 r11-green (age 4) entries were overdue against 50 slots; the
    # window takes the 30 r10 entries and the first 20 r11 entries, these
    # 30 r11 entries are the committed leftovers (operators/__init__.py)
    15: {
        "anti_join_not_exists", "cohort_retention_weekly",
        "cross_source_overlap", "decontam_ngram_overlap",
        "dedup_fingerprint_survivors", "embedding_dim_stats",
        "embedding_gram_upper", "embedding_norm_histogram",
        "embedding_outlier_flags", "embedding_pca_project",
        "embedding_quantize_int8", "event_funnel_steps",
        "events_anomaly_days", "events_pivot_daily",
        "events_resample_hourly_gapfill", "hash_join_count",
        "knn_label_vote", "merge_join_count", "multimodal_feature_extract",
        "multimodal_frame_sample", "multimodal_resize_grid",
        "nested_loop_theta_count", "pii_flag_docs", "pred_or",
        "projection_join", "quality_repetition_rules", "rollup_agg",
        "scan_filter_count", "self_join_count", "semi_join_exists",
    },
}


def _correctness_rounds() -> dict[int, dict]:
    out = {}
    for p in REPO.glob("CORRECTNESS_r*.json"):
        m = re.match(r"CORRECTNESS_r(\d+)\.json", p.name)
        if m:
            out[int(m.group(1))] = json.loads(p.read_text())
    return out


def _is_green(name: str, row: dict) -> bool:
    if name in ORACLES and ORACLES[name] is not None:
        # exact-oracled entry: full hash parity required
        return (not row.get("err") and bool(row.get("rows_match"))
                and bool(row.get("hash_match")))
    # rows-only-by-design entry: the driver records err="no_oracle" with
    # the Spark row count — green means the query RAN and produced rows
    # the driver could count (the stronger pinning lives in tests/)
    return (row.get("err") in (None, "no_oracle")
            and row.get("spark_rows") is not None)


def test_no_rotation_debt_beyond_staleness_bound():
    rounds = _correctness_rounds()
    assert rounds, "no committed CORRECTNESS_r*.json artifacts found"
    current_round = max(rounds) + 1  # the round now being assembled

    newest_green: dict[str, int] = {}
    for rnd, rows in rounds.items():
        for name, row in rows.items():
            if name in QUERIES and _is_green(name, row):
                newest_green[name] = max(newest_green.get(name, 0), rnd)

    window = set(list(QUERIES)[:DRIVER_WINDOW])
    offenders = {}
    for name in QUERIES:
        if name in window:
            continue  # refreshed this round by construction
        age = current_round - newest_green.get(name, current_round - 10**6)
        if age > MAX_STALENESS:
            offenders[name] = (f"newest green row: "
                               f"r{newest_green.get(name, 0) or 'NEVER'} "
                               f"(age {age} > {MAX_STALENESS})")
    allowed = PLANNED_LEFTOVERS.get(current_round, set())
    unplanned = {n: why for n, why in offenders.items() if n not in allowed}
    assert not unplanned, (
        f"rotation debt — move these into the first {DRIVER_WINDOW} "
        f"_DRIVER_ORDER slots: {json.dumps(unplanned, indent=2)}")
    # the committed plan must be honored exactly: a planned leftover that
    # is NOT actually stale means the window drifted from the plan
    missing_from_plan = allowed - set(offenders)
    assert not missing_from_plan, (
        f"window drifted from the committed round-{current_round} plan: "
        f"these planned leftovers are not offenders (already refreshed or "
        f"moved into the window early — update PLANNED_LEFTOVERS): "
        f"{sorted(missing_from_plan)}")


def test_driver_order_is_exhaustive_and_duplicate_free():
    from active_query_optimizer_spark.operators import _DRIVER_ORDER

    assert len(_DRIVER_ORDER) == len(set(_DRIVER_ORDER)), "duplicate entries"
    assert set(_DRIVER_ORDER) == set(QUERIES), (
        "drift between _DRIVER_ORDER and the registry: "
        f"missing={sorted(set(QUERIES) - set(_DRIVER_ORDER))} "
        f"extra={sorted(set(_DRIVER_ORDER) - set(QUERIES))}")
