"""Catalog-wide physical-plan hygiene sweep.

Builds (never executes) every catalog entry's plan at sf0.001 and asserts
the anti-patterns that silently kill 100 TB runs never creep in:

- no row-at-a-time Python UDFs (``BatchEvalPython``) — Python is allowed
  only Arrow-batched (``ArrowEvalPython`` / FlatMapGroupsInPandas etc.)
- no cartesian products except the known 1-row cut-frame cross joins
  (those appear as BroadcastNestedLoopJoin over a 1-row aggregate)

This complements tests/test_plans.py's per-query shape pins with a
default-deny guard over the WHOLE surface: a new operator that slips an
interpreted UDF or an accidental cross join into the catalog fails here
without anyone having to remember to pin it.
"""

from __future__ import annotations

import pytest

# r13 lane split (VERDICT item 2): catalog-wide strategy/hygiene sweep —
# slow lane (`-m slow`); excluded from the default verify lane by pytest.ini.
pytestmark = pytest.mark.slow

from live_data_spark.catalog import catalog

# entries whose plan legitimately contains a CartesianProduct node
# (none today — 1-row frames go through BroadcastNestedLoopJoin)
CARTESIAN_OK: set[str] = set()

# BroadcastNestedLoopJoin is legitimate ONLY for 1-row scalar/cut frames
# (quantile cuts, global sums, bounds) or the documented brute-force ANN
# tiers whose whole point is the dense compare. Anything new showing up
# here is probably a range-condition join that should be an explode +
# equi-join (the events_rolling_dau lesson: |days|x nested-loop work vs
# an exact 7-row fan-out).
BNLJ_OK: set[str] = {
    "events_value_histogram_equidepth",  # 1-row decile cut frame
    "rfm_segments",  # 1-row anchor + 1-row tercile cuts
    "events_gapfill_hourly",  # 1-row bounds x distinct types grid
    "text_tfidf_topterms",  # 1-row corpus doc-count scalar
    "q11_important_parts",  # 1-row global-sum scalar
    "q22_rich_inactive_customers",  # 1-row avg-balance scalar
    "basket_part_pairs",  # 1-row total-order-count scalar
    "ann_cosine_topk",  # exact brute-force tier (broadcast query set)
    "ann_ivf_flat",  # centroid assignment compare (by design)
    "embedding_triplet_mine_ann",  # same IVF centroid-assignment compare (K≈√n broadcast grid)
    "corpus_dedup_cascade",  # 1-row survivor-count x 1-row removed-count
    "dedup_incremental_bloom",  # 1-row bloom word-map blob broadcast x batch
    "text_bigram_surprisal",  # 1-row vocab-size scalar broadcast
    "corpus_dsir_weights",  # 1-row (nq, nt) gram-totals scalar × 4096-bucket histogram
    "corpus_dsir_sample",  # 1-row gram-budget scalar × keyed docs (plus the weights' totals scalar)
    "corpus_dsir_pipeline_stats",  # same 1-row budget/totals scalars through the composed plan
    "text_bm25_topdocs",  # 1-row (N, avgdl) corpus-stats scalar broadcast
    "corpus_vocab_coverage",  # 4-row cutoff grid fan-out over the vocab frame
    "embedding_triplet_mine",  # broadcast anchor set × corpus (exact demo tier, like ann_cosine_topk)
    "hybrid_rrf_retrieval",  # 1-row seed-vector frame × embeddings (dense scoring pass)
    "events_daily_trend",  # 1-row min-date anchor frame × daily rollup
    "text_naive_bayes_langid",  # 1-row vocab/doc-count scalars + L-row lang grid fan-out
    "events_decayed_user_value",  # 1-row max-date anchor frame × events
    "events_benford_digits",  # 1-row total-count scalar × 9 digit rows
    "audit_referential_integrity",  # per-edge 1-row total × 1-row orphan-count frames
    "corpus_waterfill_caps",  # 1-row budget scalar + 1-row water-level frame
    "training_mix_schedule",  # steps grid × L-row share frame × 1-row totals
    "corpus_length_buckets",  # 1-row percentile-cut frame × corpus (equi-depth pattern)
    "source_vocab_divergence",  # 1-row corpus-total scalar + V-row vocab grid fan-out
    "revenue_share_of_parent",  # 1-row grand-total scalar × nation rows
    "events_value_pareto",  # 1-row (n, total) scalar + 5-row cut grid × user ranks
    "events_session_depth",  # 1-row session-total scalar × 5 bucket rows
    "embedding_truncation_fidelity",  # broadcast 10-query set × corpus (exact compare tier, like ann_cosine_topk)
    "events_hourly_acf",  # 1-row mean/Σdev² scalars + 24-row lag grid × |hours| frame
    "embedding_hamming_topk",  # broadcast 10-query packed-word set × corpus (exact compare tier)
    "events_changepoint_cusum",  # 1-row mean scalar × |days| daily frame
    "text_collocation_pmi",  # 1-row (T, B) totals scalar × collocation candidates
    "text_vocab_growth",  # 1-row max-doc-id scalar × token/first-occurrence frames
    "text_term_burstiness",  # 1-row doc-count scalar × term-stats frame
    "events_countmin_user_counts",  # 4-row depth grid × events (sketch fan-out) + × 20-row probe set
    "embedding_centroid_drift",  # 1-row max-vec_id scalar × embeddings (half-split flag)
    "customer_churn_risk",  # 1-row max-orderdate anchor × customer cadence frame
    "events_holt_trend",  # 1-row hour-bounds frame × distinct types grid (gapfill subtree)
    "events_holt_winters",  # same gapfill subtree: 1-row hour-bounds frame × types grid
    "events_forecast_backtest",  # same gapfill subtree (three folds over one array)
    "dedup_threshold_curve",  # 5-row threshold grid × the (small, post-agg) exact pair frame
    "corpus_perplexity_buckets",  # 1-row vocab-size scalar broadcast (surprisal subtree)
    "text_sparse_cosine_topk",  # 1-row corpus doc-count scalar (tf-idf subtree)
    "events_theil_sen_trend",  # pairwise-slope self-join on the |days|-bounded daily frame
    "events_mann_kendall",  # sign-pair self-join on the same |days|-bounded frame
    "customer_reorder_survival",  # 1-row censoring-anchor (max orderdate) frame × order gaps
    "events_entropy_rate",  # 1-row state-count scalar × the ≤|types|² cell frame
    "orders_seasonal_decomposition",  # 1-row recentering scalar × the |months| frame
    "events_growth_accounting",  # 1-row week-bounds scalar × the |weeks| frame
    "events_locf_daily",  # 1-row day-bounds frame × distinct users (spine build)
    "events_cohort_ltv",  # 1-row base-week scalar × the cohort triangle
    "events_peak_concurrency",  # 1-row first-day scalar × the |days| peak frame
    "orders_ship_latency_ks",  # 1-row (n, Σx) scalar × the distinct-latency frame
    "corpus_lang_source_entropy",  # 1-row entropy scalars × the |sources|×|langs| cell frame
    "events_bootstrap_daily_mean",  # B-row replicate grid × the |days| frame (Poisson bootstrap fan-out)
    "events_retention_decay_fit",  # |days| offset grid × per-day cohort sizes (eligibility denominators)
    "part_abc_xyz_classification",  # 1-row total-revenue + week-span scalars × the part frame
    "corpus_heldout_perplexity",  # 1-row train-vocab scalar broadcast (surprisal subtree)
    "events_ab_conversion_ztest",  # 1-row arm-A frame × 1-row arm-B frame
    "events_cuped_adjustment",  # 1-row corpus-midpoint scalar × events
    "events_experiment_power",  # 4-row MDE grid × the 1-row baseline frame
    "events_did_placebo",  # 1-row midpoint scalar × events; 1-row arm frames
    "text_burrows_delta",  # 10-row marker set × |sources| frame (stylometric grid)
}

ALL = sorted(catalog())


@pytest.mark.parametrize("name", ALL)
def test_no_plan_antipatterns(spark, sf_dir, name):
    df = catalog()[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF in plan"
    if name not in CARTESIAN_OK:
        assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
    if name not in BNLJ_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: nested-loop join — 1-row frame? add to BNLJ_OK with a "
            "reason; range condition? rewrite as explode + equi-join"
        )
