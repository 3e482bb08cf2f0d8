"""Driver-check ledger: rotation policy for the correctness window.

The driver verifies a 50-entry PREFIX of the catalog each round
(CORRECTNESS_r{N}.json). With 128 registered queries, a static prefix
means entries past position 50 are never checked — which is exactly what
happened in rounds 1-4 (28 entries never saw a driver row). This module
makes the ordering a POLICY instead of a hand-maintained tuple:

    1. RED            — entries whose most recent driver row was a hash
                        mismatch with no green row since. Always first.
    2. never checked, oracle-bearing — no driver row in any round (new
                        operators land here automatically on registration).
    3. changed since  — code edited after the entry's last green row
                        (manually appended on edit; cleared by the next
                        ledger refresh once a fresh green row exists).
    4. never checked, rows-only — newcomers without an oracle: their
                        driver row can only catch a crash (exactness lives
                        in pytest pins, crashes in the per-round
                        preflight), so when a round lands more new entries
                        than the window holds, THESE are the ones allowed
                        to overflow to the next round.
    5. checked        — ascending round of last driver check (oldest
                        evidence re-verified first), with RECHECK_PRIORITY
                        names boosted within their round (riskiest
                        decimal/float-heavy shapes), then registration
                        order.

``LAST_CHECKED`` is a baked literal regenerated from the repo's
CORRECTNESS_r*.json files by ``scripts/update_ledger.py`` — run it once
per round after the driver publishes its results. Baking (rather than
reading the JSON at import time) keeps the ordering deterministic for a
given commit and testable without repo-root path discovery.

A driver row counts as "checked" when it hash-matched ("hash"), or — for
entries registered without an oracle (sketches/LSH/ANN/multimodal) — when
the rows-only check ran ("rows"), which is the strongest signal the
driver can give them. The evidence KIND is recorded alongside the round:
an entry later promoted from rows-only to an exact oracle must not coast
on stale rows-only evidence, so ``check_order`` treats a "rows" record
for an oracle-bearing entry as never-checked.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

# name -> (round, kind) of the most recent passing driver check, where
# kind is "hash" (oracle hash-matched) or "rows" (rows-only check ran).
# Regenerated by scripts/update_ledger.py; do not edit by hand.
LAST_CHECKED: dict[str, tuple[int, str]] = {
    "asof_view_purchase_cogroup": (7, "hash"),
    "audit_referential_integrity": (7, "hash"),
    "corpus_training_manifest": (7, "hash"),
    "customer_reorder_survival": (7, "hash"),
    "customer_repeat_profile": (7, "hash"),
    "discount_quantity_spearman": (7, "hash"),
    "events_ab_conversion_ztest": (7, "hash"),
    "events_bootstrap_daily_mean": (7, "hash"),
    "events_cohort_ltv": (7, "hash"),
    "events_countmin_user_counts": (7, "hash"),
    "events_cuped_adjustment": (7, "hash"),
    "events_daily_anomaly_mad": (7, "hash"),
    "events_did_placebo": (7, "hash"),
    "events_entropy_rate": (7, "hash"),
    "events_experiment_power": (7, "hash"),
    "events_growth_accounting": (7, "hash"),
    "events_health_digest": (7, "hash"),
    "events_hourly_load_factor": (7, "hash"),
    "events_locf_daily": (7, "hash"),
    "events_mann_kendall": (7, "hash"),
    "events_new_vs_returning": (7, "hash"),
    "events_peak_concurrency": (7, "hash"),
    "events_peak_error_burst": (7, "hash"),
    "events_retention_decay_fit": (7, "hash"),
    "events_session_depth": (7, "hash"),
    "events_theil_sen_trend": (7, "hash"),
    "events_value_pareto": (7, "hash"),
    "lineitem_price_anova": (7, "hash"),
    "lineitem_price_mannwhitney": (7, "hash"),
    "orders_cohort_revenue": (7, "hash"),
    "orders_seasonal_decomposition": (7, "hash"),
    "orders_ship_latency_ks": (7, "hash"),
    "part_abc_xyz_classification": (7, "hash"),
    "part_price_size_skyline": (7, "hash"),
    "quantiles_event_value_approx": (7, "hash"),
    "revenue_share_of_parent": (7, "hash"),
    "revenue_week_over_week": (7, "hash"),
    "supplier_revenue_hhi": (7, "hash"),
    "window_top_orders_with_ties": (7, "hash"),
    "agg_approx_distinct_users": (8, "hash"),
    "ann_ivf_flat": (8, "rows"),
    "ann_ivf_pq": (8, "rows"),
    "brand_price_dispersion": (8, "hash"),
    "corpus_dedup_cascade": (8, "hash"),
    "corpus_heldout_perplexity": (8, "hash"),
    "corpus_lang_source_entropy": (8, "hash"),
    "corpus_pipeline_stats": (8, "hash"),
    "customer_churn_risk": (8, "hash"),
    "dedup_containment": (8, "hash"),
    "dedup_ngram_jaccard": (8, "hash"),
    "dedup_source_overlap": (8, "hash"),
    "dedup_threshold_curve": (8, "hash"),
    "discount_quantity_elasticity": (8, "hash"),
    "embedding_label_prototypes": (8, "hash"),
    "embedding_pca_variance": (8, "rows"),
    "embedding_triplet_mine": (8, "hash"),
    "embedding_whiten_check": (8, "rows"),
    "events_gapfill_hourly": (8, "hash"),
    "events_value_gini": (8, "hash"),
    "events_value_gini_ranged": (8, "hash"),
    "fct_order_lineitems": (8, "hash"),
    "multimodal_decode_stats": (8, "rows"),
    "multimodal_frame_sample": (8, "rows"),
    "multimodal_header_stats": (8, "rows"),
    "nation_trade_balance": (8, "hash"),
    "part_price_index_laspeyres": (8, "hash"),
    "part_reorder_intervals": (8, "hash"),
    "part_supply_concentration": (8, "hash"),
    "q14_promo_effect": (8, "hash"),
    "q15_top_supplier": (8, "hash"),
    "q16_supplier_variety": (8, "hash"),
    "q17_small_quantity": (8, "hash"),
    "q18_large_orders": (8, "hash"),
    "q19_brand_promo_revenue": (8, "hash"),
    "q20_outsized_suppliers": (8, "hash"),
    "q9_product_profit": (8, "hash"),
    "stg_part": (8, "hash"),
    "supplier_fulfillment_speed": (8, "hash"),
    "text_burrows_delta": (8, "hash"),
    "text_pretokenize_count": (8, "hash"),
    "window_spend_deciles_ranged": (8, "hash"),
    "asof_last_view_before_purchase": (9, "hash"),
    "cube_revenue_by_flag_status": (9, "hash"),
    "dedup_exact": (9, "hash"),
    "dedup_simhash": (9, "hash"),
    "dim_customer": (9, "hash"),
    "dim_order": (9, "hash"),
    "dim_part": (9, "hash"),
    "embedding_intrinsic_dimension": (9, "rows"),
    "embedding_intrinsic_dimension_sampled": (9, "rows"),
    "embedding_procrustes_drift": (9, "rows"),
    "embedding_triplet_mine_ann": (9, "rows"),
    "groupingsets_flag_priority": (9, "hash"),
    "multimodal_phash_neardup": (9, "rows"),
    "pysource_stream_batch_parity": (9, "rows"),
    "q13_order_count_distribution": (9, "hash"),
    "q1_pricing_summary": (9, "hash"),
    "q22_rich_inactive_customers": (9, "hash"),
    "q2_cheapest_supplier_per_part": (9, "hash"),
    "q3_shipping_priority": (9, "hash"),
    "q4_priority_with_late_ship": (9, "hash"),
    "q5_local_supplier_volume": (9, "hash"),
    "q6_forecast_revenue": (9, "hash"),
    "q8_market_share": (9, "hash"),
    "quantiles_event_value": (9, "hash"),
    "range_join_events_before_error": (9, "hash"),
    "rollup_revenue_by_region_nation": (9, "hash"),
    "setop_retention_cohorts": (9, "hash"),
    "snapshot_scd2_asof_facts": (9, "hash"),
    "snapshot_scd2_check_orders": (9, "hash"),
    "snapshot_scd2_orders": (9, "hash"),
    "stg_customer": (9, "hash"),
    "stg_lineitem": (9, "hash"),
    "stg_orders": (9, "hash"),
    "test_not_null_counts": (9, "hash"),
    "test_unique_violations": (9, "hash"),
    "text_fingerprint": (9, "hash"),
    "text_langid": (9, "hash"),
    "text_sparse_cosine_topk": (9, "hash"),
    "text_tfidf_topterms": (9, "hash"),
    "text_token_count": (9, "hash"),
    "window_moving_avg_event_value": (9, "hash"),
    "agg_distinct_users": (10, "hash"),
    "agg_price_stats": (10, "hash"),
    "ann_cosine_topk": (10, "hash"),
    "bpe_encode_stats": (10, "hash"),
    "bpe_train_merges": (10, "hash"),
    "corpus_chunk_documents": (10, "hash"),
    "corpus_lang_source_chi2": (10, "hash"),
    "corpus_pack_sequences": (10, "hash"),
    "corpus_priority_sample": (10, "hash"),
    "corpus_quality_funnel": (10, "hash"),
    "corpus_source_cap": (10, "hash"),
    "dedup_minhash": (10, "hash"),
    "dedup_rate_by_source": (10, "hash"),
    "embedding_centroid_by_label": (10, "hash"),
    "embedding_logreg_calibration": (10, "rows"),
    "embedding_logreg_eval": (10, "rows"),
    "embedding_neardup_pairs": (10, "hash"),
    "embedding_quantize_stats": (10, "hash"),
    "events_bot_score": (10, "hash"),
    "events_heavy_hitters": (10, "hash"),
    "events_hourly_rollup": (10, "hash"),
    "events_interarrival_stats": (10, "hash"),
    "events_json_props": (10, "hash"),
    "events_retention_cohorts": (10, "hash"),
    "events_rolling_dau": (10, "hash"),
    "events_seasonal_anomalies": (10, "hash"),
    "events_session_window_native": (10, "hash"),
    "events_sessionize": (10, "hash"),
    "events_type_markov": (10, "hash"),
    "events_value_histogram_equidepth": (10, "hash"),
    "events_value_winsorized": (10, "hash"),
    "events_windowed_topk_users": (10, "hash"),
    "explode_line_units": (10, "hash"),
    "funnel_latency_quantiles": (10, "hash"),
    "langid_confusion": (10, "hash"),
    "orders_open_backlog_daily": (10, "hash"),
    "rfm_segments": (10, "hash"),
    "test_accepted_values": (10, "hash"),
    "test_relationships_orphans": (10, "hash"),
    "text_char_entropy": (10, "hash"),
    "text_ngram_novelty": (10, "hash"),
    "top50_orders": (10, "hash"),
    "training_mix_temperature": (10, "hash"),
    "union_customer_pool": (10, "hash"),
    "window_running_customer_spend": (10, "hash"),
    "window_top3_orders_per_customer": (10, "hash"),
    "ann_pq_adc": (11, "rows"),
    "asof_next_event_after_error": (11, "hash"),
    "contamination_ngram_overlap": (11, "hash"),
    "corpus_epoch_resample": (11, "hash"),
    "corpus_length_buckets": (11, "hash"),
    "corpus_waterfill_caps": (11, "hash"),
    "corpus_zipf_slope": (11, "hash"),
    "dedup_boilerplate_spans": (11, "hash"),
    "dedup_containment_minhash": (11, "rows"),
    "embedding_centroid_drift": (11, "hash"),
    "embedding_hamming_topk": (11, "hash"),
    "embedding_norm_stats": (11, "hash"),
    "embedding_truncation_fidelity": (11, "hash"),
    "events_dedup_latest": (11, "hash"),
    "events_funnel": (11, "hash"),
    "events_heavy_hitters_approx": (11, "hash"),
    "events_pivot_by_type": (11, "hash"),
    "events_rolling_dau_hll": (11, "hash"),
    "events_sliding_rollup": (11, "hash"),
    "events_type_audience_jaccard": (11, "hash"),
    "events_unpivot_type_counts": (11, "hash"),
    "events_value_histogram": (11, "hash"),
    "events_value_outliers": (11, "hash"),
    "fuzzy_part_names": (11, "hash"),
    "privacy_k_anonymity": (11, "hash"),
    "privacy_l_diversity": (11, "hash"),
    "privacy_pseudonymize_users": (11, "hash"),
    "q10_returned_items": (11, "hash"),
    "q11_important_parts": (11, "hash"),
    "q12_late_shipment_priority": (11, "hash"),
    "q21_waiting_suppliers": (11, "hash"),
    "q7_volume_shipping": (11, "hash"),
    "quality_quantile_normalize": (11, "hash"),
    "sample_customers": (11, "hash"),
    "stratified_eval_split": (11, "hash"),
    "stratified_sample_by_lang": (11, "hash"),
    "text_bigram_surprisal": (11, "hash"),
    "text_bm25_topdocs": (11, "hash"),
    "text_compression_ratio": (11, "rows"),
    "text_html_strip_stats": (11, "hash"),
    "text_pii_scrub_stats": (11, "hash"),
    "text_quality_score": (11, "hash"),
    "text_repetition_ratio": (11, "hash"),
    "text_unicode_nfc": (11, "hash"),
    "text_winnow_fingerprints": (11, "hash"),
    "training_mix_plan": (11, "hash"),
    "training_mix_schedule": (11, "hash"),
    "window_spend_deciles": (11, "hash"),
    "ann_srp_lsh": (12, "rows"),
    "basket_part_pairs": (12, "hash"),
    "bpe_pair_stats": (12, "hash"),
    "corpus_dedup_token_impact": (12, "hash"),
    "corpus_dsir_pipeline_stats": (12, "hash"),
    "corpus_dsir_sample": (12, "hash"),
    "corpus_dsir_weights": (12, "hash"),
    "corpus_perplexity_buckets": (12, "hash"),
    "corpus_vocab_coverage": (12, "hash"),
    "dedup_clusters": (12, "hash"),
    "dedup_incremental": (12, "hash"),
    "dedup_incremental_bloom": (12, "hash"),
    "dedup_incremental_minhash": (12, "hash"),
    "dedup_survivors": (12, "hash"),
    "embedding_kmeans": (12, "rows"),
    "embedding_mmr_select": (12, "hash"),
    "embedding_neardup_lsh": (12, "hash"),
    "events_active_coverage": (12, "hash"),
    "events_benford_digits": (12, "hash"),
    "events_changepoint_cusum": (12, "hash"),
    "events_daily_trend": (12, "hash"),
    "events_decayed_user_value": (12, "hash"),
    "events_ewma_spikes": (12, "hash"),
    "events_forecast_backtest": (12, "hash"),
    "events_holt_trend": (12, "hash"),
    "events_holt_winters": (12, "hash"),
    "events_hourly_acf": (12, "hash"),
    "events_spacesaving_topk": (12, "hash"),
    "events_state_intervals": (12, "hash"),
    "events_stickiness": (12, "hash"),
    "events_top_paths": (12, "hash"),
    "events_value_drift_psi": (12, "hash"),
    "events_variant_props": (12, "hash"),
    "graph_part_pagerank": (12, "hash"),
    "graph_part_triangles": (12, "hash"),
    "hybrid_rrf_retrieval": (12, "hash"),
    "neardup_lsh_production_band": (12, "rows"),
    "profile_join_key_skew": (12, "hash"),
    "profile_metric_correlation": (12, "hash"),
    "profile_table_stats": (12, "hash"),
    "semdedup_pairs": (12, "rows"),
    "semdedup_pairs_production": (12, "rows"),
    "source_vocab_divergence": (12, "hash"),
    "text_collocation_pmi": (12, "hash"),
    "text_naive_bayes_langid": (12, "hash"),
    "text_rake_keywords": (12, "hash"),
    "text_readability": (12, "hash"),
    "text_term_burstiness": (12, "hash"),
    "text_vocab_growth": (12, "hash"),
    "tokenizer_fertility_by_lang": (12, "hash"),
}

# Most recent driver row was red and no green row recorded since.
# (Empty as of r06: the r05 red, stratified_eval_split, re-checked green
# in the r06 window after the HUGEINT→BIGINT oracle cast fix.)
RED: tuple[str, ...] = ()

# Edited after the last green driver row. Append a name here whenever a
# green query's code changes; scripts/update_ledger.py removes it once a
# newer round re-checks it green.
#   (r10 open: the full r9 batch — the r8 label-propagation carry-over
#   pair, the r9 ADVICE fixes, and the dsir_log_weights refactor — all
#   re-checked hash-green in the r9 window, with driver rows at 04:30Z
#   POSTDATING the final r9 commit a5880c7 at 03:45Z. All seven pruned;
#   the window's remaining slots go to age rotation: 9 entries' newest
#   rows date to r1 and 35 to r4, and check_order's oldest-evidence
#   tail surfaces them automatically.)
CHANGED_SINCE_CHECK: tuple[str, ...] = (
    #   (r11 open) pruned: the seven r10-edited entries (bpe pair, logreg
    #   pair, neardup_lsh, kmeans, semdedup_pairs) all drew fresh green
    #   driver rows in CORRECTNESS_r10 — verified by scripts/update_ledger
    #   at round open. Names return here only when their code changes
    #   after their newest driver row.
    #
    #   (r12 open) pruned: semdedup_pairs (r11's only edited entry) drew
    #   its fresh r11 driver row (rows-only by nature, 49 rows) —
    #   verified by scripts/update_ledger at round open, same structural
    #   bake-before-driver-runs artifact as r9/r10.
    #
    #   (r13 open) pruned: all 17 r12-edited entries drew fresh green
    #   driver rows in CORRECTNESS_r12 (45/45 oracle-bearing green, the
    #   5 no-oracle rows-only entries row-checked) — verified by
    #   scripts/update_ledger at round open. The names below RETURN
    #   because the r13 optimization round edited them again after that
    #   driver row (result-preserving by design — edge-semantics
    #   hardening + driver-traffic bounds, re-verified by targeted
    #   preflight and the r13 focused pins; OPTIMIZATION_r13.md):
    "embedding_neardup_lsh",
    "neardup_lsh_production_band",
    "embedding_kmeans",
    "dedup_clusters",
    "dedup_survivors",
    "graph_part_pagerank",
    "corpus_dsir_weights",
    "corpus_dsir_sample",
    "corpus_dsir_pipeline_stats",
    #   (r13 batch 2) the shingle_rows doc_id-aligned distinct (one
    #   shared exchange; values row-identical in three interleaved A/Bs
    #   and 27 preflight-green entries across the family):
    "dedup_minhash",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_containment_minhash",
    "dedup_incremental_minhash",
    "dedup_threshold_curve",
    "dedup_boilerplate_spans",
    "text_ngram_novelty",
    "contamination_ngram_overlap",
    #   (broadcast policy) join hints on SF-scaling frames removed — Spark's
    #   64 MB threshold picks the join; dedup_survivors, events_new_vs_
    #   returning and part_price_index_laspeyres were also reshaped
    #   (result-identical, oracle parity green at sf0.001 and sf0.01):
    "basket_part_pairs",
    "corpus_dedup_cascade",
    "customer_repeat_profile",
    "discount_quantity_elasticity",
    "events_new_vs_returning",
    "fct_order_lineitems",
    "nation_trade_balance",
    "orders_cohort_revenue",
    "part_price_index_laspeyres",
    "part_price_size_skyline",
    "q14_promo_effect",
    "q15_top_supplier",
    "q16_supplier_variety",
    "q17_small_quantity",
    "q18_large_orders",
    "q19_brand_promo_revenue",
    "q20_outsized_suppliers",
    "q9_product_profit",
    "revenue_share_of_parent",
    "supplier_fulfillment_speed",
    "supplier_revenue_hhi",
    "text_sparse_cosine_topk",
    #   (one implementation per operator) the parity twin reads the
    #   partitioned stream reader; the rolling distinct counts became two
    #   plain aggregates (rows equal at sf0.1, oracle parity green):
    "pysource_stream_batch_parity",
    "events_rolling_dau",
    "events_stickiness",
    #   (one plan-shape record) one distinct group left per aggregate, so
    #   one plan form (rows equal at sf0.1, oracle parity green);
    #   dedup_threshold_curve, reshaped the same way, is listed above:
    "corpus_lang_source_entropy",
    #   (one self-join plan) the pair sides lost their size gate, persist
    #   and session cache (rows equal at sf0.1, oracle parity green);
    #   text_sparse_cosine_topk, reshaped the same way, is listed above:
    "dedup_simhash",
    #   (one incremental-store core) the store classification moved into
    #   classify_against_store, shared with the streaming twin (oracle
    #   parity green at sf0.001 and sf0.01):
    "dedup_incremental",
    #   (one body per query shape) the batch entries call the stream
    #   transforms; the funnel stage chain, the ANN top-k tail and the
    #   adjacent-pair guard each got one definition, and the BPE trainer
    #   lost its session memo (plans and rows unchanged, oracle parity
    #   green at sf0.001 and sf0.01); the dedup pair subtrees, reshaped
    #   the same way, are listed above:
    "events_sliding_rollup",
    "events_session_window_native",
    "events_hourly_rollup",
    "events_funnel",
    "funnel_latency_quantiles",
    "ann_cosine_topk",
    "text_bigram_surprisal",
    "corpus_perplexity_buckets",
    "corpus_heldout_perplexity",
    "bpe_train_merges",
    "bpe_encode_stats",
    "bpe_pair_stats",
)

# Within the already-checked class, re-verify these ahead of their round
# peers: the decimal/float-heaviest aggregates, where engine-vs-oracle
# drift is most likely to creep in.
RECHECK_PRIORITY: tuple[str, ...] = (
    "q15_top_supplier",
    "q8_market_share",
    "q6_forecast_revenue",
    "q19_brand_promo_revenue",
    "q1_pricing_summary",
    "cube_revenue_by_flag_status",
    "rollup_revenue_by_region_nation",
    "quantiles_event_value",
)


def check_order(
    names: Iterable[str], has_oracle: Mapping[str, bool] | None = None
) -> list[str]:
    """Order catalog names for the driver's prefix check (policy above).

    ``has_oracle`` (name -> bool) lets the policy spot stale evidence
    kinds: an entry that HAS an oracle but whose ledger record is a
    rows-only check was promoted since that check, and is ordered with
    the never-checked class so the driver runs its oracle next round.
    """
    names = list(names)
    reg_idx = {n: i for i, n in enumerate(names)}
    red = set(RED)
    changed = set(CHANGED_SINCE_CHECK)
    # RECHECK_PRIORITY is an ORDERED ranking: earlier names outrank later
    # ones, all outrank unboosted peers of the same round.
    boost_rank = {n: i for i, n in enumerate(RECHECK_PRIORITY)}

    def key(n: str) -> tuple:
        if n in red:
            return (0, 0, 0, reg_idx[n])
        rec = LAST_CHECKED.get(n)
        stale_kind = (
            rec is not None
            and rec[1] == "rows"
            and has_oracle is not None
            and has_oracle.get(n, False)
        )
        oracle_bearing = has_oracle is None or has_oracle.get(n, False)
        if rec is None or stale_kind:
            # Window capacity is 50: when a round lands more new entries
            # than fit, the SLOTS must go to oracle-bearing work. A
            # rows-only entry's driver row adds little over the per-round
            # preflight (it can only catch a crash; exactness lives in its
            # pytest pins), so rows-only never-checked entries yield to
            # BOTH oracle-bearing newcomers and edited-since-green oracle
            # entries, and are the only class allowed to overflow the
            # window (they pick up their row next round).
            return ((1, 0, 0, reg_idx[n]) if oracle_bearing else (3, 0, 0, reg_idx[n]))
        if n in changed:
            return (2, 0, 0, reg_idx[n])
        return (4, rec[0], boost_rank.get(n, len(RECHECK_PRIORITY)), reg_idx[n])

    return sorted(names, key=key)
