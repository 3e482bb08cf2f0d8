"""Analytics-query tests beyond the auto-generated oracle parity:

- as-of join edge semantics (inclusive equality, no-match → NULL) on a
  hand-built frame where the answer is computable by eye;
- physical-plan shape pins for the scale claims the docstrings make
  (top-k without a global sort, ROLLUP as one Expand pass).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from live_data_spark.catalog import catalog


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_asof_inclusive_and_null_semantics(spark, sf_dir, monkeypatch):
    """A view at exactly the purchase ts matches (<=); a user with no prior
    view yields NULL; a later view never matches."""
    rows = [
        # user 1: view strictly before, view at equal ts, view after
        (10, 1, _ts("2024-01-01T00:00:01"), "view"),
        (11, 1, _ts("2024-01-01T00:00:05"), "view"),
        (12, 1, _ts("2024-01-01T00:00:05"), "purchase"),  # equal-ts view counts
        (13, 1, _ts("2024-01-01T00:00:09"), "view"),
        # user 2: purchase with no view at all
        (20, 2, _ts("2024-01-01T00:00:03"), "purchase"),
        # user 3: only later views
        (30, 3, _ts("2024-01-01T00:00:07"), "purchase"),
        (31, 3, _ts("2024-01-01T00:00:08"), "view"),
    ]
    fake = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp_ntz, event_type string")

    import live_data_spark.queries_analytics as qa

    monkeypatch.setattr(qa, "load", lambda _s, _d, _t: fake)
    got = {
        r["purchase_id"]: r["last_view_ts"]
        for r in qa.asof_last_view_before_purchase(spark, sf_dir).collect()
    }
    assert got[12] == "2024-01-01 00:00:05.000000"  # inclusive <=
    assert got[20] is None  # no views for user
    assert got[30] is None  # only a later view


def test_q3_plans_takeordered_not_global_sort(spark, sf_dir):
    plan = (
        catalog()["q3_shipping_priority"]
        .spark(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan  # no global-sort exchange


def test_rollup_is_single_expand_pass_and_totals_consistent(spark, sf_dir):
    df = catalog()["rollup_revenue_by_region_nation"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 1  # one pass, not 3 unioned GROUP BYs

    rows = df.collect()
    leaf = [r for r in rows if r["region_name"] != "ALL" and r["nation_name"] != "ALL"]
    grand = [r for r in rows if r["region_name"] == "ALL" and r["nation_name"] == "ALL"]
    assert len(grand) == 1
    assert sum(r["n_orders"] for r in leaf) == grand[0]["n_orders"]
    assert abs(sum(r["total_revenue"] for r in leaf) - grand[0]["total_revenue"]) < 1e-6


def test_q18_aggregates_fact_once(spark, sf_dir):
    """The HAVING subquery must be the only lineitem scan (no re-join of the
    fact after the key-set is computed)."""
    plan = (
        catalog()["q18_large_orders"]
        .spark(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("lineitem.parquet") == 1


def test_range_join_is_hash_join_not_nested_loop(spark, sf_dir):
    """The bucketed rewrite must plan as an equi hash/sort-merge join; a
    BroadcastNestedLoopJoin means the inequality leaked into the join."""
    plan = (
        catalog()["range_join_events_before_error"]
        .spark(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "NestedLoop" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_dedup_clusters_transitive_closure(spark, sf_dir, monkeypatch):
    """A~B and B~C must land in one cluster even though A and C share no
    pair; isolated docs stay singleton clusters of themselves."""
    import live_data_spark.operators.dedup as dd

    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9), (7, 8, 0.9)],
        "doc_id_1 long, doc_id_2 long, jaccard double",
    )
    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 7, 8)], "doc_id long")
    monkeypatch.setattr(dd, "dedup_ngram_jaccard", lambda _s, _d: pairs)
    monkeypatch.setattr(dd, "load", lambda _s, _d, _t: docs)
    got = {r["doc_id"]: r["cluster_id"] for r in dd.dedup_clusters(spark, sf_dir).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 7: 7, 8: 7}


def test_dedup_clusters_reliable_checkpoint_mode(spark, sf_dir, monkeypatch, tmp_path):
    """With a checkpoint dir configured (the cluster deployment path),
    label propagation upgrades localCheckpoint → reliable checkpoint()
    and produces identical clusters."""
    import live_data_spark.operators.dedup as dd

    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9), (7, 8, 0.9)],
        "doc_id_1 long, doc_id_2 long, jaccard double",
    )
    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 7, 8)], "doc_id long")
    monkeypatch.setattr(dd, "dedup_ngram_jaccard", lambda _s, _d: pairs)
    monkeypatch.setattr(dd, "load", lambda _s, _d, _t: docs)
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        got = {r["doc_id"]: r["cluster_id"] for r in dd.dedup_clusters(spark, sf_dir).collect()}
    finally:
        # reset for other tests (no public unset API; Scala setter is checkpointDir_=)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 7: 7, 8: 7}
    assert sc.getCheckpointDir() is None


def _plan(spark, sf_dir, name):
    return (
        catalog()[name].spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )


def test_cube_is_one_expand_one_scan(spark, sf_dir):
    """CUBE must compile to a single Expand feeding one aggregate over one
    lineitem scan — four separate scans would read the fact 4×."""
    plan = _plan(spark, sf_dir, "cube_revenue_by_flag_status")
    assert plan.count("Expand") == 1
    assert plan.count("lineitem.parquet") == 1


def test_q2_argmin_is_single_agg_no_join(spark, sf_dir):
    """min(struct(price, suppkey)) makes the argmin ONE aggregation; a Join
    in the plan means it regressed to the min-plus-join-back shape."""
    plan = _plan(spark, sf_dir, "q2_cheapest_supplier_per_part")
    assert "Join" not in plan
    assert plan.count("lineitem.parquet") == 1


def test_moving_avg_single_user_shuffle(spark, sf_dir):
    """The interval-frame window needs exactly one exchange (hash by
    user_id); a second exchange means the frame re-partitioned."""
    plan = _plan(spark, sf_dir, "window_moving_avg_event_value")
    assert plan.count("Exchange") == 1


def test_q16_denylist_broadcasts(spark, sf_dir):
    """The NOT IN deny-list must land as a broadcast anti-join — shuffling
    the fact against a handful of supplier keys would be a wasted stage."""
    plan = _plan(spark, sf_dir, "q16_supplier_variety")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_q6_all_predicates_reach_scan(spark, sf_dir):
    """Q6's date/discount/quantity filters must all appear at the lineitem
    FileScan (pushed), reading only the 4 referenced columns."""
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in scan.split("DataFilters")[1], scan
    assert "Exchange hashpartitioning" not in plan  # 1-row agg: no data shuffle


def test_q19_or_predicate_factors_to_both_scans(spark, sf_dir):
    """The OR-of-ANDs must yield DERIVED single-side filters on each scan
    (constraint propagation) — not a bare unfiltered join."""
    plan = _plan(spark, sf_dir, "q19_brand_promo_revenue")
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    li_scan = next(s for s in scans if "l_partkey" in s)
    p_scan = next(s for s in scans if "p_partkey" in s)
    assert "l_quantity" in li_scan.split("DataFilters")[1], li_scan
    assert "p_brand" in p_scan.split("DataFilters")[1], p_scan


def test_global_rank_matches_window_exactly(spark):
    """with_global_rank + ntile_from_rank must reproduce Spark's own
    unpartitioned row_number/ntile bit-for-bit — including ntile's uneven
    leading-bucket sizes (n % buckets edge) and the n < buckets edge."""
    from pyspark.sql import Window

    from live_data_spark.functions.ranks import ntile_from_rank, with_global_rank

    for n_rows, buckets in ((97, 10), (100, 10), (7, 10), (64, 8)):
        df = spark.range(n_rows).select(
            (F.col("id") * 37 % n_rows).alias("k"), F.col("id").alias("uid")
        )
        w = Window.orderBy(F.col("k").desc(), F.col("uid"))
        expect = {
            (r["k"], r["uid"]): (r["rn"], r["nt"])
            for r in df.select(
                "k", "uid", F.row_number().over(w).alias("rn"), F.ntile(buckets).over(w).alias("nt")
            ).collect()
        }
        ranked = with_global_rank(
            df, [F.col("k").desc(), F.col("uid").asc()], rank_col="r", total_col="n",
            num_partitions=8,
        )
        got = {
            (r["k"], r["uid"]): (r["r"], r["nt"])
            for r in ranked.select(
                "k", "uid", "r", ntile_from_rank(F.col("r"), F.col("n"), buckets).alias("nt")
            ).collect()
        }
        assert got == expect, f"n={n_rows} buckets={buckets}"


def test_ranged_twins_match_exact_twins(spark, sf_dir):
    """The range-partitioned scale twins return exactly the exact twins'
    rows (shared oracle is the driver's check; this is the in-repo pin)."""
    for a, b in (
        ("window_spend_deciles", "window_spend_deciles_ranged"),
        ("events_value_gini", "events_value_gini_ranged"),
    ):
        cat = catalog()
        cols = sorted(cat[a].spark(spark, sf_dir).columns)
        ra = sorted(map(tuple, cat[a].spark(spark, sf_dir).select(cols).collect()))
        rb = sorted(map(tuple, cat[b].spark(spark, sf_dir).select(cols).collect()))
        assert ra == rb, (a, b)


def test_ranged_twins_no_single_partition_data_path(spark, sf_dir):
    """The whole point of the _ranged twins: the only SinglePartition
    exchange allowed is the P-row offsets frame (counts-per-partition);
    the customer/user frame itself must move through rangepartitioning."""
    # allowed SinglePartition exchanges: the P-row offsets frame (both),
    # plus gini's final scalar aggregate (reduces ~P partial rows to 1).
    for name, allowed in (
        ("window_spend_deciles_ranged", 1),
        ("events_value_gini_ranged", 2),
    ):
        plan = _plan(spark, sf_dir, name)
        assert "rangepartitioning" in plan, name
        assert plan.count("Exchange SinglePartition") <= allowed, name
    exact = _plan(spark, sf_dir, "window_spend_deciles")
    assert "Exchange SinglePartition" in exact


def test_ntile_from_rank_exhaustive_grid(spark):
    """Exhaustive closed-form check: for every n in 1..120 and bucket
    count in {1,2,3,5,8,10,16}, ntile_from_rank must equal the ANSI
    definition (first n%b tiles hold n//b+1 rows) at EVERY rank — one
    Spark job over the whole ~60k-row grid, so the uneven-bucket edge
    can't hide between the spot cases the window-equality test uses."""
    from live_data_spark.functions.ranks import ntile_from_rank

    rows = []
    for n in range(1, 121):
        for b in (1, 2, 3, 5, 8, 10, 16):
            q, rem = divmod(n, b)
            for r in range(1, n + 1):
                big = rem * (q + 1)
                exp = -(-r // (q + 1)) if r <= big else rem + -(-(r - big) // max(q, 1))
                rows.append((n, b, r, exp))
    df = spark.createDataFrame(rows, "n long, b int, r long, expected int")
    # evaluate per-bucket-count (ntile_from_rank takes buckets as a python int)
    for b in (1, 2, 3, 5, 8, 10, 16):
        sub = df.where(F.col("b") == b)
        bad = sub.where(
            ntile_from_rank(F.col("r"), F.col("n"), b) != F.col("expected")
        ).count()
        assert bad == 0, f"buckets={b}: {bad} mismatching ranks"


def test_ranked_twins_survive_degenerate_frames(spark, monkeypatch):
    """The closed-form rank family divides by n-1 and by sum(x): a single
    ranked row (n-1 = 0) or an all-zero value column must yield the
    defined degenerate answers (percent_rank 0.0; NULL gini), never an
    ANSI job abort or an inf — same degenerate-input class as the
    punct_ratio/zipf guards."""
    import live_data_spark.queries_analytics as qa
    from live_data_spark.streaming import events_batch as eb

    one_order = spark.createDataFrame(
        [(1, 7, 100.0)], "o_orderkey long, o_custkey long, o_totalprice double"
    )
    monkeypatch.setattr(qa, "load", lambda _s, _d, _t: one_order)
    row = qa.window_spend_deciles_ranged(spark, "ignored").collect()
    assert len(row) == 1
    assert row[0]["pct_rank"] == 0.0 and row[0]["cume"] == 1.0
    assert row[0]["decile"] == 1

    import datetime as dt

    zero_events = spark.createDataFrame(
        [(i, i % 3, "click", dt.datetime(2024, 1, 1, 0, i), 0.0) for i in range(6)],
        "event_id long, user_id long, event_type string, ts timestamp, value double",
    )
    monkeypatch.setattr(eb, "load", lambda _s, _d, _t: zero_events)
    for fn in (eb.events_value_gini, eb.events_value_gini_ranged):
        g = fn(spark, "ignored").collect()
        assert len(g) == 1
        assert g[0]["gini"] is None, fn.__name__
        assert g[0]["n_users"] == 3


def test_mad_anomaly_flag_consistency(spark, sf_dir):
    """Flag matches the 3.5 cut on the emitted score; rows are the top-10
    by |robust_z| (every flagged row must outrank every unflagged one)."""
    from live_data_spark.queries_analytics import MAD_CUT, events_daily_anomaly_mad

    rows = events_daily_anomaly_mad(spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    for r in rows:
        if r["robust_z"] is not None:
            assert r["is_anomaly"] == (1 if abs(r["robust_z"]) > MAD_CUT else 0)
    zs = [abs(r["robust_z"]) for r in rows if r["robust_z"] is not None]
    assert zs == sorted(zs, reverse=True)


def test_supply_concentration_shares(spark, sf_dir):
    """Top share is a valid share: within (0, 1], at least the uniform
    1/n_suppliers floor, and 1.0 exactly when single-sourced."""
    from live_data_spark.queries_tpch_extra import part_supply_concentration

    rows = part_supply_concentration(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r["top_supplier_share"] <= 1.0
        assert r["top_supplier_share"] >= 1.0 / r["n_suppliers"] - 1e-9
        if r["n_suppliers"] == 1:
            assert r["top_supplier_share"] == 1.0


def test_reorder_intervals_ordering(spark, sf_dir):
    """Gaps are positive days and the quantiles are ordered
    (median ≤ p90); every row clears the gap-count floor."""
    from live_data_spark.queries_tpch_extra import REORDER_MIN, part_reorder_intervals

    rows = part_reorder_intervals(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_gaps"] >= REORDER_MIN
        assert 0 < r["median_days"] <= r["p90_days"]


def test_elasticity_covers_all_brands(spark, sf_dir):
    """One row per brand present in lineitem-joined parts; slope defined
    (discounts vary within every brand on this testdata)."""
    from pyspark.sql import functions as F

    from live_data_spark.catalog import load
    from live_data_spark.queries_tpch_extra import discount_quantity_elasticity

    rows = discount_quantity_elasticity(spark, sf_dir).collect()
    li = load(spark, sf_dir, "lineitem").select("l_partkey")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    n_brands = (
        li.join(p, li.l_partkey == p.p_partkey).select("p_brand").distinct().count()
    )
    assert len(rows) == n_brands
    assert all(r["qty_per_point"] is not None for r in rows)


def test_holt_trend_matches_python_replay(spark, sf_dir):
    """events_holt_trend implements textbook Holt smoothing: an
    independent pandas/pure-Python replay over the same dense hourly
    series reproduces level/trend/forecast/MAE exactly (same IEEE
    sequence). This pins the SEMANTICS; oracle parity pins the engines."""
    import pandas as pd

    from live_data_spark.streaming.events_batch import HOLT_ALPHA, HOLT_BETA

    got = {
        r["event_type"]: r
        for r in catalog()["events_holt_trend"].spark(spark, sf_dir).collect()
    }

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts", "event_type"])
    ev["h"] = ev["ts"].dt.floor("h")
    grid = pd.date_range(ev["h"].min(), ev["h"].max(), freq="h")
    for etype, g in ev.groupby("event_type"):
        xs = g.groupby("h").size().reindex(grid, fill_value=0).astype(float).tolist()
        level, trend, errs = xs[0], 0.0, 0.0
        for x in xs[1:]:
            errs += abs(x - (level + trend))
            l1 = HOLT_ALPHA * x + (1.0 - HOLT_ALPHA) * (level + trend)
            trend = HOLT_BETA * (l1 - level) + (1.0 - HOLT_BETA) * trend
            level = l1
        r = got[etype]
        assert r["n_hours"] == len(xs)
        assert r["level_final"] == round(level, 4)
        assert r["trend_final"] == round(trend, 4)
        assert r["forecast_next"] == round(level + trend, 4)
        assert r["mae"] == round(errs / (len(xs) - 1), 4)


def test_theil_sen_ignores_outlier_day(spark, tmp_path):
    """A perfectly linear daily series (slope 1) with one 500-event
    outage/spike day: Theil-Sen returns exactly 1.0 (median pairwise
    slope), while the OLS slope on the same series is pulled well away —
    the robustness contract vs events_daily_trend."""
    import numpy as np

    from live_data_spark.streaming.events_batch import events_theil_sen_trend

    rows = []
    eid = 0
    counts = {d: (500 if d == 10 else 10 + d) for d in range(20)}
    for d, c in counts.items():
        for i in range(c):
            rows.append((eid, dt.datetime(2026, 3, 1 + d, 12, 0, 0), 1, "view", 1.0, "{}"))
            eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.parquet(str(tmp_path / "events.parquet"))

    r = events_theil_sen_trend(spark, str(tmp_path)).collect()[0]
    assert r["n_days"] == 20
    assert r["n_pairs"] == 190
    assert r["slope_per_day"] == 1.0
    ols = np.polyfit(list(counts), [counts[d] for d in counts], 1)[0]
    assert abs(ols - 1.0) > 0.2  # OLS visibly pulled; Theil-Sen exact


def test_reorder_survival_km_by_hand(spark, tmp_path):
    """KM estimator on a 3-customer micro-example computable by hand:
    events at gaps {5,5,10}, censored tails {0,0,10} (anchor = last
    order date). S(5) = 1-2/4 = 0.5; S(10) = 0.5 * (1-1/2) = 0.25."""
    from live_data_spark.queries_analytics import customer_reorder_survival

    orders = [
        # (orderkey, custkey, orderdate)
        (1, 1, dt.date(2026, 1, 1)), (2, 1, dt.date(2026, 1, 11)),
        (3, 2, dt.date(2026, 1, 1)),
        (4, 3, dt.date(2026, 1, 1)), (5, 3, dt.date(2026, 1, 6)), (6, 3, dt.date(2026, 1, 11)),
    ]
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_orderdate date"
    ).write.parquet(str(tmp_path / "orders.parquet"))
    rows = customer_reorder_survival(spark, str(tmp_path)).collect()
    assert [(r["t_days"], r["n_at_risk"], r["n_events"], r["survival"]) for r in rows] == [
        (5, 4, 2, 0.5),
        (10, 2, 1, 0.25),
    ]


def test_skyline_dominance_by_hand(spark, tmp_path):
    """Skyline on a 6-part frame computable by eye, covering: clear
    dominance, the both-axes tie (both survive), the same-price
    strictly-smaller case (dominated), and a brute-force cross-check."""
    from live_data_spark.queries_analytics import part_price_size_skyline

    parts = [
        # (partkey, name, price, size)
        (1, "a", 10.0, 5),
        (2, "b", 10.0, 5),   # exact tie with 1 → both survive
        (3, "c", 10.0, 4),   # same price, smaller → dominated by 1
        (4, "d", 20.0, 9),   # pricier but bigger → survives
        (5, "e", 25.0, 9),   # pricier, same size as 4 → dominated
        (6, "f", 5.0, 1),    # cheapest → survives
    ]
    spark.createDataFrame(
        parts, "p_partkey long, p_name string, p_retailprice double, p_size int"
    ).write.parquet(str(tmp_path / "part.parquet"))
    got = [r["p_partkey"] for r in part_price_size_skyline(spark, str(tmp_path)).collect()]
    assert got == [6, 1, 2, 4]

    # brute-force dominance check agrees
    def dominated(r, s):
        return (s[2] <= r[2] and s[3] >= r[3]) and (s[2] < r[2] or s[3] > r[3])

    want = sorted(
        (r[0] for r in parts if not any(dominated(r, s) for s in parts)),
    )
    assert sorted(got) == want


def test_entropy_rate_deterministic_chain_is_zero(spark, tmp_path):
    """A perfectly cyclic behavior chain (view→click→purchase→view…) has
    entropy rate exactly 0 and predictability exactly 1."""
    from live_data_spark.streaming.events_batch import events_entropy_rate

    cycle = ["view", "click", "purchase"]
    rows = []
    for u in range(3):
        for i in range(30):
            rows.append(
                (u * 100 + i, dt.datetime(2026, 4, 1, 0, 0, 0) + dt.timedelta(minutes=i),
                 u, cycle[i % 3], 1.0, "{}")
            )
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.parquet(str(tmp_path / "events.parquet"))
    r = events_entropy_rate(spark, str(tmp_path)).collect()[0]
    assert r["n_states"] == 3
    assert r["n_cells"] == 3  # one deterministic successor per state
    assert r["entropy_rate"] == 0.0
    assert r["predictability"] == 1.0


def test_seasonal_decomposition_reconstructs_and_centers(spark, sf_dir):
    """Where trend is defined the components reconstruct revenue to the
    rounding quantum; seasonal indices re-center to ~0 over a full year;
    exactly the 6 edge months each side carry NULL trend."""
    rows = catalog()["orders_seasonal_decomposition"].spark(spark, sf_dir).collect()
    assert len(rows) >= 24
    assert all(r["trend"] is None for r in rows[:6] + rows[-6:])
    mid = [r for r in rows if r["trend"] is not None]
    assert len(mid) == len(rows) - 12
    for r in mid:
        assert abs(r["revenue"] - (r["trend"] + r["seasonal"] + r["residual"])) < 2e-3
    season = {}
    for r in rows:
        season[r["month"][-2:]] = r["seasonal"]
    assert len(season) == 12
    assert abs(sum(season.values())) < 1e-2


def test_holt_winters_matches_python_replay(spark, sf_dir):
    """The 27-state Holt-Winters fold implements the textbook additive
    recurrence: an independent pandas/pure-Python replay (classical
    first-day seed, rotating seasonal ring) reproduces every output."""
    import pandas as pd

    from live_data_spark.streaming.events_batch import (
        HW_ALPHA, HW_BETA, HW_GAMMA, HW_PERIOD, events_holt_winters,
    )

    got = {
        r["event_type"]: r for r in events_holt_winters(spark, sf_dir).collect()
    }
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts", "event_type"])
    ev["h"] = ev["ts"].dt.floor("h")
    grid = pd.date_range(ev["h"].min(), ev["h"].max(), freq="h")
    for etype, g in ev.groupby("event_type"):
        xs = g.groupby("h").size().reindex(grid, fill_value=0).astype(float).tolist()
        if len(xs) < HW_PERIOD + 1:
            assert etype not in got
            continue
        level = sum(xs[:HW_PERIOD]) / float(HW_PERIOD)
        trend, errs = 0.0, 0.0
        seas = [x - level for x in xs[:HW_PERIOD]]  # ring: seas[0] is next hour's
        for x in xs[HW_PERIOD:]:
            s1 = seas.pop(0)
            errs += abs(x - (level + trend + s1))
            l1 = HW_ALPHA * (x - s1) + (1.0 - HW_ALPHA) * (level + trend)
            trend = HW_BETA * (l1 - level) + (1.0 - HW_BETA) * trend
            seas.append(HW_GAMMA * (x - l1) + (1.0 - HW_GAMMA) * s1)
            level = l1
        r = got[etype]
        assert r["n_hours"] == len(xs)
        assert r["level_final"] == round(level, 4)
        assert r["trend_final"] == round(trend, 4)
        assert r["forecast_next"] == round(level + trend + seas[0], 4)
        assert r["mae"] == round(errs / (len(xs) - HW_PERIOD), 4)


def test_growth_accounting_lifecycle_by_hand(spark, tmp_path):
    """Three users with known lifecycles: A weeks 0-1 (churns at 2),
    B weeks 0 and 2 (resurrects at 2), C week 1 only (churns at 2).
    Verifies every classification and the beyond-horizon churn cutoff."""
    from live_data_spark.streaming.events_batch import events_growth_accounting

    base = dt.datetime(2026, 1, 5, 12, 0, 0)
    weeks = {"A": [0, 1], "B": [0, 2], "C": [1]}
    rows, eid = [], 0
    for u, (name, ws) in enumerate(weeks.items()):
        for w in ws:
            rows.append((eid, base + dt.timedelta(weeks=w), u, "view", 1.0, "{}"))
            eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = {r["week"]: r for r in events_growth_accounting(spark, str(tmp_path)).collect()}
    assert set(got) == {0, 1, 2}
    assert (got[0]["n_new"], got[0]["n_retained"], got[0]["n_resurrected"], got[0]["n_churned"]) == (2, 0, 0, 0)
    assert (got[1]["n_new"], got[1]["n_retained"], got[1]["n_resurrected"], got[1]["n_churned"]) == (1, 1, 0, 1)
    assert got[1]["quick_ratio"] == 1.0
    assert (got[2]["n_new"], got[2]["n_retained"], got[2]["n_resurrected"], got[2]["n_churned"]) == (0, 0, 1, 2)
    assert got[2]["quick_ratio"] == 0.5
    # stock/flow identity: active_w = new + retained + resurrected
    for r in got.values():
        assert r["n_new"] + r["n_retained"] + r["n_resurrected"] >= 1


def test_anova_matches_numpy_on_planted_groups(spark, tmp_path):
    """F and eta-squared agree with a direct numpy computation on planted
    groups with a real mean difference (and F >> 1 there)."""
    import numpy as np

    from live_data_spark.queries_analytics import lineitem_price_anova

    rng = {"A": [100.0 + i for i in range(50)], "N": [200.0 + i for i in range(50)],
           "R": [150.0 + i for i in range(50)]}
    rows, i = [], 0
    for flag, vals in rng.items():
        for v in vals:
            rows.append((i, flag, v)); i += 1
    spark.createDataFrame(
        rows, "l_orderkey long, l_returnflag string, l_extendedprice double"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    r = lineitem_price_anova(spark, str(tmp_path)).collect()[0]

    groups = [np.array(v) for v in rng.values()]
    allv = np.concatenate(groups)
    ssb = sum(len(g) * (g.mean() - allv.mean()) ** 2 for g in groups)
    ssw = sum(((g - g.mean()) ** 2).sum() for g in groups)
    f = (ssb / 2) / (ssw / (len(allv) - 3))
    assert r["n_rows"] == 150 and r["n_groups"] == 3
    assert abs(r["f_stat"] - f) < 1e-2
    assert abs(r["eta_squared"] - ssb / (ssb + ssw)) < 1e-6
    assert r["f_stat"] > 100


def test_locf_fills_by_hand(spark, tmp_path):
    """LOCF on a 2-user frame: gaps inherit the last observed value,
    days before a user's first observation stay NULL."""
    from live_data_spark.streaming.events_batch import events_locf_daily

    rows = [
        # user 1 observed day 0 (v=10) and day 2 (v=30); user 2 only day 1 (v=5)
        (0, dt.datetime(2026, 5, 1, 8), 1, "view", 10.0, "{}"),
        (1, dt.datetime(2026, 5, 3, 8), 1, "view", 30.0, "{}"),
        (2, dt.datetime(2026, 5, 2, 8), 2, "view", 5.0, "{}"),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        (r["user_id"], r["day"]): (r["v_filled"], r["is_observed"])
        for r in events_locf_daily(spark, str(tmp_path)).collect()
    }
    assert got == {
        (1, 0): (10.0, 1), (1, 1): (10.0, 0), (1, 2): (30.0, 1),
        (2, 0): (None, 0), (2, 1): (5.0, 1), (2, 2): (5.0, 0),
    }


def test_cohort_ltv_by_hand(spark, tmp_path):
    """Two cohorts with known per-week spend: cumulative curves divide by
    the ORIGINAL cohort size (a churned user keeps dragging the mean)."""
    from live_data_spark.streaming.events_batch import events_cohort_ltv

    base = dt.datetime(2026, 1, 5, 12)
    rows = [
        # cohort 0: users 1,2 — u1 spends 10 each of weeks 0,1; u2 spends 30 week 0 then churns
        (0, base, 1, "purchase", 10.0, "{}"),
        (1, base + dt.timedelta(weeks=1), 1, "purchase", 10.0, "{}"),
        (2, base, 2, "purchase", 30.0, "{}"),
        # cohort 1: user 3 spends 50 in week 1 (its offset 0)
        (3, base + dt.timedelta(weeks=1), 3, "purchase", 50.0, "{}"),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        (r["cohort_week"], r["offset_weeks"]): r
        for r in events_cohort_ltv(spark, str(tmp_path)).collect()
    }
    assert got[(0, 0)]["cohort_size"] == 2 and got[(0, 0)]["ltv_cum_per_user"] == 20.0
    assert got[(0, 1)]["n_active"] == 1  # u2 churned
    assert got[(0, 1)]["ltv_cum_per_user"] == 25.0  # (40+10)/2 — churned u2 still in denominator
    assert got[(1, 0)]["cohort_size"] == 1 and got[(1, 0)]["ltv_cum_per_user"] == 50.0


def test_peak_concurrency_sweep_by_hand(spark, tmp_path):
    """Three overlapping 5-min windows peak at 3; a window starting
    exactly when another ends does NOT overlap it (half-open [s,e))."""
    from live_data_spark.streaming.events_batch import events_peak_concurrency

    base = dt.datetime(2026, 6, 3, 12, 0, 0)
    rows = [
        (0, base, 1, "view", 1.0, "{}"),
        (1, base + dt.timedelta(minutes=1), 2, "view", 1.0, "{}"),
        (2, base + dt.timedelta(minutes=2), 3, "view", 1.0, "{}"),  # 3 active 12:02-12:05
        (3, base + dt.timedelta(minutes=5), 4, "view", 1.0, "{}"),  # starts as #0 ends
        # next day: two disjoint singletons → peak 1
        (4, base + dt.timedelta(days=1), 5, "view", 1.0, "{}"),
        (5, base + dt.timedelta(days=1, minutes=30), 6, "view", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = {r["day"]: r for r in events_peak_concurrency(spark, str(tmp_path)).collect()}
    assert got[0]["peak_concurrency"] == 3
    assert got[0]["peak_at_ms"] == int((base + dt.timedelta(minutes=2)).timestamp() * 1000)
    assert got[1]["peak_concurrency"] == 1


def test_ks_stat_matches_numpy_replay(spark, sf_dir):
    """The tie-aware KS statistic agrees with a direct numpy computation
    over the same latencies."""
    import numpy as np
    import pandas as pd

    from live_data_spark.queries_analytics import orders_ship_latency_ks

    r = orders_ship_latency_ks(spark, sf_dir).collect()[0]

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_shipdate"])
    o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_orderdate"])
    m = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    x = (
        (m["l_shipdate"].dt.normalize() - m["o_orderdate"].dt.normalize()).dt.days
    ).to_numpy()
    x = x[x >= 0]
    n, lam = len(x), 1.0 / x.mean()
    xs = np.sort(x)
    fexp = 1 - np.exp(-lam * xs)
    emp_hi = np.arange(1, n + 1) / n
    emp_lo = np.arange(0, n) / n
    d = max(np.abs(emp_hi - fexp).max(), np.abs(emp_lo - fexp).max())
    assert r["n_lines"] == n
    assert abs(r["ks_stat"] - d) < 1e-4
    assert r["reject_exp_5pct"] == int(d > 1.358 / np.sqrt(n))


def test_mann_kendall_detects_planted_trend(spark, tmp_path):
    """A strictly increasing daily series has S = n(n-1)/2 (every pair
    concordant), no tie correction, and a significant positive z."""
    from live_data_spark.streaming.events_batch import events_mann_kendall

    rows, eid = [], 0
    for d in range(15):
        for i in range(d + 1):  # day d has d+1 events: strictly increasing
            rows.append((eid, dt.datetime(2026, 7, 1 + d, 10, 0, 0), 1, "view", 1.0, "{}"))
            eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.parquet(str(tmp_path / "events.parquet"))
    r = events_mann_kendall(spark, str(tmp_path)).collect()[0]
    assert r["n_days"] == 15
    assert r["s_stat"] == 15 * 14 // 2  # all pairs concordant
    assert r["var_s"] == round(15 * 14 * 35 / 18.0, 4)
    assert r["trend_5pct"] == 1 and r["z_stat"] > 1.96


def test_mannwhitney_matches_scipy_free_reference(spark, tmp_path):
    """U and z agree with a direct midrank computation on a planted
    two-group frame with heavy ties and a real location shift."""
    import numpy as np

    from live_data_spark.queries_analytics import lineitem_price_mannwhitney

    g1 = [10.0] * 5 + [20.0] * 10 + [30.0] * 5   # R: centered at 20
    g2 = [10.0] * 10 + [20.0] * 5 + [15.0] * 5   # N: lower
    rows = [(i, "R", v) for i, v in enumerate(g1)] + [
        (100 + i, "N", v) for i, v in enumerate(g2)
    ]
    spark.createDataFrame(
        rows, "l_orderkey long, l_returnflag string, l_extendedprice double"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    r = lineitem_price_mannwhitney(spark, str(tmp_path)).collect()[0]

    allv = np.array(g1 + g2)
    # midranks
    order = np.argsort(allv, kind="stable")
    ranks = np.empty(len(allv))
    sv = allv[order]
    i = 0
    while i < len(sv):
        j = i
        while j < len(sv) and sv[j] == sv[i]:
            j += 1
        ranks[order[i:j]] = (i + 1 + j) / 2.0
        i = j
    n1, n2 = len(g1), len(g2)
    r1 = ranks[:n1].sum()
    u = r1 - n1 * (n1 + 1) / 2
    _, counts = np.unique(allv, return_counts=True)
    tie3 = float((counts**3 - counts).sum())
    n = n1 + n2
    var = n1 * n2 / 12.0 * ((n + 1) - tie3 / (n * (n - 1)))
    z = (u - n1 * n2 / 2.0) / np.sqrt(var)
    assert (r["n1"], r["n2"]) == (n1, n2)
    assert r["u_stat"] == round(u, 4)
    assert r["z_stat"] == round(z, 4)
    assert r["reject_5pct"] == int(abs(z) > 1.96) == 1


def test_spearman_matches_reference_and_detects_monotone(spark, tmp_path):
    """rho on a planted monotone-but-nonlinear relation (y = x^3 with
    ties) equals a direct midrank-Pearson computation and is ~1."""
    import numpy as np

    from live_data_spark.queries_analytics import discount_quantity_spearman

    xs = [0.01, 0.01, 0.02, 0.03, 0.03, 0.05, 0.06, 0.08, 0.09, 0.10]
    ys = [1, 1, 2, 5, 5, 20, 30, 60, 80, 100]  # monotone in x, heavily tied
    rows = [(i, x, float(y)) for i, (x, y) in enumerate(zip(xs, ys))]
    spark.createDataFrame(
        rows, "l_orderkey long, l_discount double, l_quantity double"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    r = discount_quantity_spearman(spark, str(tmp_path)).collect()[0]

    def midranks(v):
        v = np.asarray(v)
        order = np.argsort(v, kind="stable")
        ranks = np.empty(len(v))
        sv = v[order]
        i = 0
        while i < len(sv):
            j = i
            while j < len(sv) and sv[j] == sv[i]:
                j += 1
            ranks[order[i:j]] = (i + 1 + j) / 2.0
            i = j
        return ranks

    ra, rb = midranks(xs), midranks(ys)
    rho = np.corrcoef(ra, rb)[0, 1]
    assert r["n_rows"] == 10
    assert r["spearman_rho"] == round(rho, 6)
    assert r["spearman_rho"] > 0.99


def test_bootstrap_ci_brackets_mean_and_weights_are_poisson1(spark, sf_dir):
    """The 95% band brackets the point estimate, and the hash-derived
    weights are distributionally Poisson(1): mean ~1, P(0) ~ 1/e."""
    from live_data_spark.streaming.events_batch import (
        _POIS1_THRESH, events_bootstrap_daily_mean,
    )

    r = events_bootstrap_daily_mean(spark, sf_dir).collect()[0]
    assert r["n_replicates"] == 200
    assert r["ci_lo"] <= r["mean_daily"] <= r["ci_hi"]
    assert r["ci_lo"] < r["ci_hi"]

    # weight sanity via the same integer thresholds on a fresh uniform grid
    import hashlib

    ws = []
    for d in range(30):
        for b in range(200):
            u = int(hashlib.md5(f"{d}:{b}".encode()).hexdigest()[:15], 16) % 1_000_000_000
            ws.append(next((k for k, t in enumerate(_POIS1_THRESH) if u < t), 7))
    n = len(ws)
    assert abs(sum(ws) / n - 1.0) < 0.05
    assert abs(ws.count(0) / n - 0.3679) < 0.03


def test_retention_decay_fit_identifies_planted_shapes(spark, tmp_path):
    """Planted exponential decay (half the users churn each day) is
    identified as exponential with half-life ~1 day; the flat-retention
    edge (no decay) yields a NULL half-life."""
    from live_data_spark.streaming.events_batch import events_retention_decay_fit

    def mk(case, sub):
        rows, eid = [], 0
        n0 = 512
        for day in range(10):
            active = n0 if case == "flat" else max(n0 >> day, 1)
            for u in range(active):
                rows.append(
                    (eid, dt.datetime(2026, 2, 1 + day, 10, 0, 0), u, "view", 1.0, "{}")
                )
                eid += 1
        p = tmp_path / sub
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        ).write.parquet(str(p / "events.parquet"))
        return events_retention_decay_fit(spark, str(p)).collect()

    exp = mk("exp", "e")[0]
    assert exp["better_fit"] == "exponential"
    assert exp["exp_r2"] > 0.99
    assert abs(exp["exp_halflife_days"] - 1.0) < 0.05

    # perfectly flat retention: ln r ≡ 0 → zero y-variance → the guards
    # drop the row (no fit is defined), not an abort or a bogus number
    assert mk("flat", "f") == []


def test_forecast_backtest_prefers_hw_on_seasonal_series(spark, tmp_path):
    """On a strongly diurnal series Holt-Winters wins the backtest with
    MASE well under 1, and the per-model MAEs agree with the standalone
    operators on the same data."""
    from live_data_spark.streaming.events_batch import (
        events_forecast_backtest, events_holt_trend, events_holt_winters,
    )

    rows, eid = [], 0
    for day in range(6):
        for hour in range(24):
            burst = 12 if 8 <= hour <= 17 else 2  # office-hours cycle
            for i in range(burst):
                rows.append(
                    (eid, dt.datetime(2026, 3, 1 + day, hour, i % 60, 0), 1, "view", 1.0, "{}")
                )
                eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.parquet(str(tmp_path / "events.parquet"))

    r = events_forecast_backtest(spark, str(tmp_path)).collect()[0]
    assert r["best_model"] == "holt_winters"
    assert r["mase_hw"] < 0.5 < r["mase_holt"]  # seasonality is the signal

    holt = events_holt_trend(spark, str(tmp_path)).collect()[0]
    hw = events_holt_winters(spark, str(tmp_path)).collect()[0]
    assert r["mae_holt"] == holt["mae"]
    assert r["mae_hw"] == hw["mae"]


def test_abc_xyz_boundaries_by_hand(spark, tmp_path):
    """Planted parts exercising all six boundary cells: a steady
    high-revenue part (AX), a moderate mid (BY), an erratic tail (CZ) —
    with the integer cross-multiplied cuts checked at exact boundaries."""
    from live_data_spark.queries_analytics import part_abc_xyz_classification

    rows = []
    base = dt.date(2026, 1, 5)
    # part 1: 10/week for 10 weeks, price 800 → revenue 8000 (steady, big)
    for w in range(10):
        rows.append((1, base + dt.timedelta(weeks=w), 10.0, 800.0))
    # part 2: alternating 2/18 demand, price 150 → revenue 1500 (CV≈0.8 → Y)
    for w in range(10):
        rows.append((2, base + dt.timedelta(weeks=w), [2.0, 18.0][w % 2], 150.0))
    # part 3: one spike week, price 500 → revenue 500 (CV = 3 → Z)
    rows.append((3, base, 10.0, 500.0))
    df_rows = [(i, pk, d, q, p) for i, (pk, d, q, p) in enumerate(rows)]
    spark.createDataFrame(
        df_rows,
        "l_orderkey long, l_partkey long, l_shipdate date, l_quantity double, l_extendedprice double",
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    got = {(r["abc"], r["xyz"]): r for r in part_abc_xyz_classification(spark, str(tmp_path)).collect()}
    # revenue: total 10000 → part1 cum 8000 = exactly 80% → A (inclusive cut);
    # part2 cum 9500 = exactly 95% → B; part3 → C
    assert set(got) == {("A", "X"), ("B", "Y"), ("C", "Z")}
    assert got[("A", "X")]["n_parts"] == 1
    assert got[("A", "X")]["revenue_share"] == 0.8


def test_ab_ztest_detects_planted_lift_and_cuped_reduces_variance(spark, tmp_path):
    """The hash split is deterministic, so a treatment effect planted BY
    the split itself must be detected; and a user whose post-period
    tracks their pre-period gives CUPED a large variance reduction."""
    import hashlib

    from live_data_spark.streaming.events_batch import (
        events_ab_conversion_ztest, events_cuped_adjustment,
    )

    rows, eid = [], 0
    base = dt.datetime(2026, 9, 1, 12, 0, 0)
    for u in range(60):
        for day in range(20):
            d_abs = (base + dt.timedelta(days=day) - dt.datetime(1970, 1, 1)).days
            unit = int(
                hashlib.md5(f"ab:{u}:{d_abs}".encode()).hexdigest()[:15], 16
            ) % 2
            # arm 1 converts 90% of days, arm 0 only 20% (deterministic by index)
            converts = (day % 10 < 9) if unit == 1 else (day % 10 < 2)
            etype = "purchase" if converts else "view"
            # user-level spend scales with u (stable trait → CUPED signal)
            rows.append((eid, base + dt.timedelta(days=day), u, etype, 10.0 * (u + 1), "{}"))
            eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.parquet(str(tmp_path / "events.parquet"))

    ab = events_ab_conversion_ztest(spark, str(tmp_path)).collect()[0]
    assert ab["significant_5pct"] == 1
    assert ab["rate_b"] - ab["rate_a"] > 0.5

    cu = events_cuped_adjustment(spark, str(tmp_path)).collect()[0]
    assert cu["n_users"] == 60
    assert cu["variance_reduction_pct"] > 90  # spend is a stable user trait
    assert cu["pre_post_corr"] > 0.95


def test_experiment_power_formula_and_feasibility(spark, sf_dir):
    """n-per-arm matches the closed form on the corpus' own baseline,
    decreases in the MDE, and the feasibility flag is consistent."""
    import math

    from live_data_spark.streaming.events_batch import (
        _POWER_Z_ALPHA, _POWER_Z_BETA, events_experiment_power,
    )

    rows = events_experiment_power(spark, sf_dir).collect()
    assert [r["mde_abs"] for r in rows] == [0.01, 0.02, 0.05, 0.1]
    reqs = [r["n_per_arm_required"] for r in rows]
    assert reqs == sorted(reqs, reverse=True)
    for r in rows:
        p = r["baseline_rate"]
        want = math.ceil(
            (_POWER_Z_ALPHA + _POWER_Z_BETA) ** 2 * 2 * p * (1 - p) / r["mde_abs"] ** 2
        )
        # baseline_rate is rounded to 6dp in the output; allow the quantum
        assert abs(r["n_per_arm_required"] - want) <= max(2, want * 1e-4)
        assert r["feasible_now"] == int(2 * r["n_per_arm_required"] <= r["units_available"])


def test_did_recovers_planted_treatment_effect(spark, tmp_path):
    """A +50-per-user post-period boost planted INTO the hash-defined
    treatment group is recovered by the DiD estimate and flagged."""
    import hashlib

    from live_data_spark.streaming.events_batch import events_did_placebo

    rows, eid = [], 0
    base = dt.datetime(2026, 10, 1, 12)
    for u in range(80):
        treated = int(hashlib.md5(f"did:{u}".encode()).hexdigest()[:15], 16) % 2
        # per-user diff noise (u % 5 − 2 ∈ [−2, 2], mean ~0 in each arm)
        # keeps within-group variance positive; the planted effect is +50
        pre_v = 100.0 + (u % 7)
        post_v = pre_v + (u % 5) - 2 + (50.0 if treated else 0.0)
        rows.append((eid, base, u, "purchase", pre_v, "{}")); eid += 1
        rows.append((eid, base + dt.timedelta(days=20), u, "purchase", post_v, "{}")); eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.parquet(str(tmp_path / "events.parquet"))
    r = events_did_placebo(spark, str(tmp_path)).collect()[0]
    assert abs(r["did_estimate"] - 50.0) < 1.0  # ±(u%5) noise, mean ≈ 0 per arm
    assert r["significant_5pct"] == 1


def test_laspeyres_recovers_planted_inflation(spark, tmp_path):
    """Base month indexes at exactly 1.0; a month where every matched
    part's unit price doubles indexes at exactly 2.0 regardless of the
    quantity mix shift planted alongside."""
    from live_data_spark.queries_analytics import part_price_index_laspeyres

    rows, i = [], 0
    for pk, (q0, p0) in {1: (10, 5.0), 2: (4, 25.0)}.items():
        rows.append((i, pk, dt.date(2026, 1, 10), float(q0), q0 * p0)); i += 1
        # month 2: unit prices double; quantities shift (should NOT matter)
        q2 = q0 * 3
        rows.append((i, pk, dt.date(2026, 2, 10), float(q2), q2 * p0 * 2)); i += 1
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_shipdate date, l_quantity double, l_extendedprice double"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    got = {r["month"]: r for r in part_price_index_laspeyres(spark, str(tmp_path)).collect()}
    assert got["2026-01"]["laspeyres_index"] == 1.0
    assert got["2026-02"]["laspeyres_index"] == 2.0
    assert got["2026-02"]["n_matched_parts"] == 2


def test_funnel_latency_counts_the_funnels_converted_users(spark, sf_dir):
    """funnel_latency_quantiles measures exactly the users events_funnel
    counts at step 3: both read one stage chain, so n_converted equals
    the purchase step's n_users (and is non-zero at the fixture SF)."""
    cat = catalog()
    steps = {r["step"]: r["n_users"] for r in cat["events_funnel"].spark(spark, sf_dir).collect()}
    n_converted = cat["funnel_latency_quantiles"].spark(spark, sf_dir).first()["n_converted"]
    assert n_converted == steps[3] > 0
