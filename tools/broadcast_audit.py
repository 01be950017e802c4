"""Broadcast-site audit (VERDICT r9 ask #1 — the class rule).

Every ``F.broadcast(...)`` in the engine forces a broadcast join
regardless of AQE's size checks, so a forced broadcast of a table
whose size GROWS WITH THE DATA (vocabulary tables, per-document size
tables, SF-scaling TPC-H dims like full ``part``/``supplier``/
``customer`` projections) is a guaranteed driver/executor OOM at
100 TB. The r8/r9 rounds each found surviving instances of this class
(pmi unigram tables, then unigram_lm/stupid_backoff/kneser_ney, then
the bm25/rake/DSIR/shingle-sizes/TPC-H sweep) — this audit makes the
class unable to reappear silently.

Mechanism: extract every ``F.broadcast(`` site keyed by
``(file, enclosing function)`` and require each key to appear in
``ALLOWED`` with a one-line justification of WHY the broadcast side
is bounded (fixed-size dim, scalar aggregate, support-floored table,
``k``/grid-bounded model table, or caller-asserted flag). A site in a
function not listed here fails the audit: the author must classify
the new broadcast explicitly. Removing a broadcast never fails.

Run: python tools/broadcast_audit.py        (exit 1 on violations)
Test: tests/test_broadcast_audit.py runs it in-process.
"""

from __future__ import annotations

import glob
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "dpe_energy_performance_analysis_etl_spark")

# (relative file, enclosing function) -> why the broadcast side is
# bounded. "scalar" = 0-dim aggregate (1 row); "domain" = bounded by
# a fixed value domain (nation=25, region=5, event types, brands,
# digits, month grain...); "model" = k/centroid/LUT/fold table bounded
# by a constructor constant; "flag" = caller-asserted via an explicit
# broadcast_* parameter; "floored" = support/min_count-floored Zipf
# tail (the pmi pattern); "partitions" = one row per shuffle
# partition (offs tables).
ALLOWED: dict[tuple[str, str], str] = {
    # --- dedup / similarity ---
    ("dedup/semantic.py", "assign_clusters"): "model: k centroids",
    ("operators/bloomjoin.py", "bloom_prefilter"): "scalar: packed bloom bitmap row",
    ("similarity/ann.py", "brute_force_topk"): "bounded: query set (documented small-scale baseline)",
    ("similarity/ann.py", "lsh_topk"): "bounded: query-side signatures",
    ("similarity/ann.py", "hard_negative_topk"): "bounded: query set",
    ("similarity/ivf.py", "train_ivf_centroids"): "model: k centroids",
    ("similarity/ivf.py", "ivf_topk"): "model: centroids + query-probe assignments (queries x nprobe)",
    ("similarity/ivf.py", "seeded_ivf_topk"): "model: centroids + query-probe assignments",
    ("similarity/ivfpq.py", "ivfpq_topk"): "model: coarse centroids / per-query LUTs",
    ("similarity/pq.py", "pq_encode"): "model: m x 2^b subspace centroids",
    ("similarity/pq.py", "pq_query_luts"): "model: subspace centroids",
    ("similarity/pq.py", "adc_topk"): "bounded: per-query LUTs",
    ("similarity/pq.py", "train_pq_centroids"): "model: subspace centroids",
    ("similarity/pq.py", "exact_refine"): "bounded: query vectors",
    ("similarity/sq.py", "sq8_topk"): "bounded: query set",
    # --- operators ---
    ("operators/aggregate.py", "winsorize"): "domain: per-group bounds + scalar agg",
    ("operators/aggregate.py", "target_encode_loo"): "domain: one row per CATEGORY value (categorical-feature contract)",
    ("operators/aggregate.py", "rfm_segments"): "scalar: row count",
    ("operators/graph.py", "_renorm"): "scalar: max row",
    ("operators/graph.py", "community_modularity"): "scalar: edge-mass row",
    ("operators/graph.py", "diameter_two_sweep"): "scalar: sweep-2 eccentricity row",
    ("operators/heavyhitters.py", "mg_compress"): "scalar: k-th counter threshold",
    ("operators/ml.py", "_lloyd_fit"): "model: k centroids",
    ("operators/ml.py", "decision_stump_binned"): "scalar/model: bin bounds + totals",
    ("operators/ml.py", "principal_direction_power"): "model: d-dim sums/Gram/iterate vectors",
    ("operators/ml.py", "ips_policy_value"): "domain: context/action tables (policy contract)",
    ("operators/ml.py", "kmeans_validity_indices"): "model: k centroids + scalar totals",
    ("operators/quality.py", "benford_digit_report"): "domain: group x 9 digits",
    ("operators/quality.py", "t_closeness_audit"): "domain: sensitive-value distribution",
    ("operators/quantiles.py", "histogram_buckets"): "scalar: min/max agg",
    ("operators/quantiles.py", "histogram_quantiles"): "scalar: total count",
    ("operators/quantiles.py", "idiv"): "partitions: per-partition offsets",
    ("operators/quantiles.py", "global_rank_column"): "partitions: per-partition offsets",
    ("operators/quantiles.py", "global_rank_and_prefix"): "partitions: per-partition offsets",
    ("operators/relational.py", "pareto_front_2d"): "partitions: per-partition prefix-max offsets",
    ("operators/relational.py", "abc_classification"): "scalar: grand-total row",
    ("operators/layout.py", "zorder_key"): "scalar: tier-count row",
    ("operators/quantiles.py", "grouped_kth_smallest"): "partitions/domain: offsets + per-group k",
    ("operators/quantiles.py", "grouped_kths_smallest"): "partitions/domain: offsets + per-(group, k-name) table",
    ("operators/quantiles.py", "quantile_normalize"): "partitions: offsets",
    ("operators/quantiles.py", "grouped_running_totals"): "partitions: offsets",
    ("operators/quantiles.py", "grouped_weighted_median"): "domain: per-group totals",
    ("operators/quantiles.py", "cumulative_gains"): "partitions: offsets",
    ("operators/quantiles.py", "_trimmed_mean_histprune"): "domain: per-group stats/bounds/offsets",
    ("operators/quantiles.py", "grouped_trimmed_mean"): "partitions/domain: offsets + totals",
    ("operators/relational.py", "equi_join"): "flag: broadcast_right caller assertion",
    ("operators/sketch.py", "cms_lookup"): "model: w x d sketch cells",
    ("operators/sketch.py", "ams_f2"): "scalar: median row",
    ("operators/sketch.py", "kmv_pairwise_setops"): "domain: per-group k-th thresholds / <=|groups| estimates",
    ("operators/spatial.py", "crossing"): "domain: polygon set (bounded geometry input)",
    ("operators/spatial.py", "morans_i_grid"): "scalar: totals/variance rows",
    ("operators/stats.py", "contingency_cells"): "domain: row/col marginal tables",
    ("operators/stats.py", "mad_outlier_report"): "domain: per-group median/MAD",
    ("operators/stats.py", "cramers_v_quantized"): "scalar: grand total",
    ("operators/stats.py", "cohens_kappa_exact"): "scalar: chance-agreement row",
    ("operators/stats.py", "kaplan_meier"): "scalar: encoding row",
    ("operators/stats.py", "ransac_line_fit"): "model: candidate midpoint pairs / best model row",
    ("operators/stats.py", "ks_two_sample"): "domain: per-group totals",
    ("operators/stats.py", "anderson_darling_two_sample"): "domain: per-group totals",
    ("operators/stats.py", "grouped_l_moments"): "partitions: offsets",
    ("operators/stats.py", "life_table_actuarial"): "scalar: encoding row",
    ("operators/temporal.py", "event_transitions"): "domain: per-event-type totals",
    ("operators/temporal.py", "next_event_hitrate"): "domain: event-type model",
    ("operators/temporal.py", "event_trigrams"): "domain: event-type^2 contexts",
    ("operators/temporal.py", "gsp_frequent_sequences"): "floored: support-floored frequent items/pairs",
    ("operators/temporal.py", "holt_winters_fitted"): "scalar: folded state row",
    ("operators/temporal.py", "seasonal_decompose"): "domain: per-phase medians (period-bounded)",
    ("operators/temporal.py", "seasonal_outliers"): "scalar: center/MAD rows",
    # --- streaming (dimension-enrichment API: dim is small by contract) ---
    ("streaming/incremental.py", "enrich_stream"): "flag/domain: dimension table contract",
    # --- text ---
    ("text/analysis.py", "distinctive_terms_by_source"): "domain: per-source totals + scalars",
    ("text/curation.py", "ngram_decontaminate"): "bounded: benchmark/eval side (small by definition)",
    ("text/curation.py", "source_overlap_matrix"): "domain: per-source gram counts",
    ("text/curation.py", "greedy_max_coverage"): "bounded: <=k picked ids",
    ("text/importance.py", "importance_score"): "scalar: grand totals",
    ("text/importance.py", "dsir_log_ratio"): "scalar: corpus-size row",
    ("text/mixing.py", "temperature_rates"): "scalar: min-count row",
    ("text/mixing.py", "temperature_mixture_sample"): "domain: per-stratum keep rates",
    ("text/packing.py", "sequence_pack"): "domain: per-bucket prefixes",
    ("text/retrieval.py", "bm25_per_term"): "scalar: corpus stats row",
    ("text/retrieval.py", "unigram_lm_scores"): "scalar: grand total",
    ("text/retrieval.py", "stupid_backoff_scores"): "scalar: train-size row",
    ("text/retrieval.py", "kneser_ney_bigram_probs"): "scalar: type-total row",
    ("text/retrieval.py", "pmi_collocations"): "floored: min_count-floored pair table + scalar",
    ("text/urls.py", "filter_blocked_domains"): "bounded: blocklist input",
    # --- query registry (plans/queries.py) ---
    ("plans/queries.py", "join_inner_broadcast"): "domain: nation(25)/region(5)",
    ("plans/queries.py", "_q5_plan"): "domain: nation/region",
    ("plans/queries.py", "q7_nation_pair_revenue"): "domain: nation",
    ("plans/queries.py", "q10_returned_revenue"): "domain: nation",
    ("plans/queries.py", "q21_waiting_suppliers"): "domain: nation",
    ("plans/queries.py", "q20_part_suppliers"): "domain: nation",
    ("plans/queries.py", "q2_min_cost_supplier"): "domain: nation/region",
    ("plans/queries.py", "q8_market_share"): "domain: nation/region",
    ("plans/queries.py", "q9_product_type_profit"): "domain: nation",
    ("plans/queries.py", "q11_important_parts"): "domain/scalar: nation + threshold row",
    ("plans/queries.py", "q15_top_supplier"): "scalar: max-revenue row",
    ("plans/queries.py", "events_resample_gapfill_q"): "domain: event types",
    ("plans/queries.py", "decayed_heavy_users_q"): "scalar: max-ts row",
    ("plans/queries.py", "emd_price_drift_q"): "scalar: totals",
    ("plans/queries.py", "conformal_interval_orders_q"): "domain: per-group model/quantile rows",
    ("plans/queries.py", "smith_waterman_events_q"): "domain: event-type ids",
    ("plans/queries.py", "apriori_triples_brands_q"): "floored: support-floored pair table + scalar",
    ("plans/queries.py", "blocklist_phrase_match_docs_q"): "bounded: pattern list",
    ("plans/queries.py", "cms_join_size_estimate_q"): "scalar: exact-count row",
    ("plans/queries.py", "walk_forward_splits_orders_q"): "domain: fold spec",
    ("plans/queries.py", "k_anonymity_audit_customers_q"): "domain: k grid",
    ("plans/queries.py", "did_priority_revenue_q"): "scalar: period bounds",
    ("plans/queries.py", "ips_policy_value_events_q"): "scalar: period bounds",
    ("plans/queries.py", "ratio_to_parent_revenue_q"): "domain: nation/region",
    ("plans/queries.py", "zorder_locality_customers_q"): "scalar: min/max bounds",
    ("plans/queries.py", "good_turing_docs_q"): "domain: count-of-counts (distinct frequencies)",
    ("plans/queries.py", "quadratic_trend_nations_q"): "domain/scalar: nation + epoch row",
    ("plans/queries.py", "cuped_adjusted_lift_events_q"): "scalar: baseline/stat rows",
    ("plans/queries.py", "copeland_brand_duels_q"): "domain: brand grid + scalar k",
    ("plans/queries.py", "mcnemar_repeat_purchase_q"): "scalar: period bounds",
    ("plans/queries.py", "hl_pseudomedian_revenue_q"): "domain: month grain",
    ("plans/queries.py", "friedman_nation_priority_q"): "domain: nation",
    ("plans/queries.py", "matrix_profile_discord_revenue_q"): "domain: month grain",
    ("plans/queries.py", "peaks_monthly_revenue_q"): "domain: month grain",
    ("plans/queries.py", "ljung_box_revenue_q"): "scalar: totals",
    ("plans/queries.py", "rich_club_parts_q"): "domain: degree-threshold edge counts",
    ("plans/queries.py", "turning_points_revenue_q"): "scalar: count row",
    ("plans/queries.py", "grubbs_outlier_month_q"): "scalar: totals/variance",
    ("plans/queries.py", "neyman_allocation_nations_q"): "domain/scalar: nation + total",
    ("plans/queries.py", "semantic_decontaminate_embeddings_q"): "bounded: eval set (small by definition)",
    ("plans/queries.py", "partial_corr_rev_qty_disc_q"): "scalar: totals",
    ("plans/queries.py", "lead_lag_ccf_rev_qty_q"): "scalar: totals",
    ("plans/queries.py", "moods_median_status_q"): "scalar: grand median/total",
    ("plans/queries.py", "dp_geometric_counts_nations_q"): "domain: nation",
    ("plans/queries.py", "haar_energy_revenue_q"): "scalar: totals",
    # --- round-10 additions ---
    ("plans/queries.py", "durbin_watson_revenue_q"): "scalar: OLS coefficient row",
    ("plans/queries.py", "youden_j_threshold_q"): "scalar: P/N totals row",
    ("plans/queries.py", "variance_ratio_revenue_q"): "scalar: q-list/endpoint/variance rows",
    ("plans/queries.py", "page_trend_nations_q"): "domain: nation",
    ("plans/queries.py", "quade_test_nations_q"): "domain/scalar: nation + k/b row",
    ("plans/queries.py", "jm_query_likelihood_docs_q"): "scalar: corpus stats row",
    ("plans/queries.py", "chow_break_revenue_q"): "scalar: 3 coefficient rows",
    ("plans/queries.py", "hl_shift_monthly_q"): "domain: month-grain halves + scalar counts",
    ("plans/queries.py", "kpss_level_revenue_q"): "scalar/domain: sums + lag list + month grain",
    ("operators/spatial.py", "getis_ord_gi_grid"): "scalar: n/s/s2 totals row",
    ("plans/queries.py", "dominant_period_revenue_q"): "scalar: sums/lag-list/g0 rows",
    ("plans/queries.py", "engle_granger_rev_qty_q"): "scalar: coefficient row",
    ("plans/queries.py", "arc_elasticity_brands_q"): "scalar: epoch bounds row",
    ("plans/queries.py", "quantile_sketch_error_audit_q"): "scalar: one-row histogram estimate",
    ("plans/queries.py", "multiset_ops_quantity_q"): "scalar: epoch bounds row",
    ("plans/queries.py", "brier_decomposition_orders_q"): "scalar: bounds/totals rows",
    ("plans/queries.py", "pacf_lag2_revenue_q"): "scalar: sums/gamma rows",
    ("plans/queries.py", "median_polish_nation_priority_q"): "domain: nation",
    ("plans/queries.py", "var_es_monthly_revenue_q"): "scalar: m/k/tail rows",
    ("plans/queries.py", "p_chart_monthly_returns_q"): "scalar: pooled-rate row",
    ("operators/quality.py", "benford_second_digit_report"): "domain: group x 10 digits",
    ("plans/queries.py", "blomqvist_beta_rev_qty_q"): "scalar: median rows",
    ("plans/queries.py", "gk_lambda_status_priority_q"): "scalar: mode/total rows",
    ("plans/queries.py", "bowley_skewness_status_q"): "domain: per-group totals",
    ("plans/queries.py", "anova_f_revenue_nations_q"): "domain: nation",
    ("plans/queries.py", "brown_forsythe_status_q"): "domain: per-group totals/medians",
    # --- round-11 additions ---
    ("plans/queries.py", "somers_d_qty_returns_q"): "scalar: tie/total rows + domain: <=100-cell pair side",
    ("plans/queries.py", "cliffs_delta_returns_qty_q"): "scalar: group-total row",
    ("plans/queries.py", "gk_gamma_qty_priority_q"): "domain: <=250-cell pair side (50 qty x 5 priority)",
    # --- round-12 wave 1 ---
    ("plans/queries.py", "price_indices_yearly_q"): "scalar: (y0, y1) bounds row",
    ("plans/queries.py", "hoover_index_nations_q"): "scalar: totals + deviation rows",
    ("plans/queries.py", "share_of_parent_regions_q"): "domain: nation/region dims",
    ("plans/queries.py", "aging_buckets_open_orders_q"): "scalar: snapshot-date row",
    ("plans/queries.py", "demand_classes_brands_q"): "scalar: calendar-span row",
    ("plans/queries.py", "single_source_parts_q"): "scalar: traded-part-count row",
    # --- round-12 wave 2 ---
    ("plans/queries.py", "littles_law_sessions_q"): "scalar: peak-concurrency row",
    ("plans/queries.py", "clark_evans_grid_q"): "scalar: point-count row",
    ("plans/queries.py", "ari_label_buckets_embeddings_q"): "scalar: marginal pair-count rows",
    ("plans/queries.py", "lorenz_asymmetry_customers_q"): "scalar: (n, T) totals row",
    ("plans/queries.py", "customer_migration_matrix_q"): "scalar/model: (y0, y1) bounds + 2-row tertile thresholds",
    ("plans/queries.py", "kendalls_w_nation_priority_q"): "domain/scalar: nation dim + judge-count row",
    ("plans/queries.py", "tv_distance_nation_halves_q"): "scalar: totals row",
    ("plans/queries.py", "chisq_homogeneity_priority_halves_q"): "scalar: totals row",
    ("plans/queries.py", "cr4_brand_concentration_q"): "scalar: total row",
    ("plans/queries.py", "dice_overlap_source_vocab_q"): "domain: per-source size table (bounded source domain)",
    ("plans/queries.py", "western_electric_revenue_q"): "scalar: (n, S, Q) stats row",
    ("plans/queries.py", "c_chart_monthly_returns_q"): "scalar: (n, S) stats row",
    ("plans/queries.py", "precision_at_k_value_q"): "scalar: base-rate row",
    ("plans/queries.py", "jackknife_nation_mean_q"): "domain/scalar: nation dim + totals row",
    ("plans/queries.py", "page_hinkley_revenue_q"): "scalar: PH max row",
    ("operators/spatial.py", "geary_c_grid"): "scalar: totals/variance rows",
    ("plans/queries.py", "term_fano_burstiness_docs_q"): "scalar: doc-count row",
    ("plans/queries.py", "bigram_novelty_halves_q"): "scalar: midpoint/early-count rows",
    ("plans/queries.py", "user_churn_daily_q"): "scalar: max-day row",
    ("plans/queries.py", "brand_hhi_by_nation_q"): "domain: nation",
    ("plans/queries.py", "kendall_tau_c_qty_priority_q"): "scalar: totals row + domain: <=250-cell pair side",
    ("plans/queries.py", "assoc_suite_status_priority_q"): "domain/scalar: cell margins + totals",
    ("plans/queries.py", "cochran_c_hartley_nations_q"): "scalar: max/argmax rows",
    ("plans/queries.py", "pareto_8020_customers_q"): "scalar: totals row",
    ("plans/queries.py", "dayk_retention_events_q"): "scalar: first-day/cohort-size rows",
    ("plans/queries.py", "seasonal_index_monthly_q"): "scalar: grand totals row",
    ("plans/queries.py", "top_customer_share_nations_q"): "domain: nation",
    ("plans/queries.py", "loyalty_tier_mix_q"): "scalar: grand-total row",
}


def scan() -> list[tuple[str, str, int, str]]:
    """All (relfile, enclosing_def, lineno, stripped line) broadcast sites."""
    sites = []
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, PKG)
        # The query registry is chunked into plans/families/fNN_*.py
        # (mechanical split of the historical plans/queries.py);
        # classify sites under the stable logical identity so the
        # allowlist survives re-chunking.
        if rel.startswith(os.path.join("plans", "families") + os.sep):
            rel = os.path.join("plans", "queries.py")
        curdef = "<module>"
        with open(path) as fh:
            for i, ln in enumerate(fh, 1):
                m = re.match(r"\s*def (\w+)", ln)
                if m:
                    curdef = m.group(1)
                if "F.broadcast(" in ln and not ln.lstrip().startswith("#"):
                    sites.append((rel, curdef, i, ln.strip()))
    return sites


def violations() -> list[str]:
    out = []
    for rel, fn, line, txt in scan():
        if (rel, fn) not in ALLOWED:
            out.append(
                f"{rel}:{line} [{fn}] unclassified F.broadcast site: {txt[:90]}\n"
                "  -> classify it in tools/broadcast_audit.py ALLOWED with a"
                " justification of why the broadcast side is BOUNDED"
                " (never a table that grows with the data)."
            )
    return out


def main() -> int:
    sites = scan()
    bad = violations()
    print(f"{len(sites)} F.broadcast sites; {len(bad)} unclassified")
    for b in bad:
        print(b)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
