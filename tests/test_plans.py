"""Physical-plan assertions: pushdown, pruning, broadcast, partial agg.

Correct results with a wrong plan don't survive a 100× scale-up. These
tests pin the plan properties the engine's scale posture depends on
(SURVEY.md §4): filters reach the parquet scan, projections prune the
read schema, small dims broadcast, aggregates partial-combine before the
shuffle, and top-k never plans a full sort.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from live_data_spark.catalog import catalog


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    df = catalog()["q1_pricing_summary"].spark(spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q1_partial_aggregation(spark, sf_dir):
    """Map-side combine: only |groups| rows cross the shuffle."""
    plan = _plan(catalog()["q1_pricing_summary"].spark(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "partial_" in plan.lower() or plan.count("HashAggregate") >= 2


def test_staging_projection_prunes_scan(spark, sf_dir):
    """stg_customer reads 5 of 8 customer columns — ReadSchema must shrink."""
    plan = _plan(catalog()["stg_customer"].spark(spark, sf_dir))
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "c_custkey" in read and "c_acctbal" in read
    assert "c_phone" not in read and "c_comment" not in read and "c_address" not in read


def test_dim_exclusion_prunes_scan(spark, sf_dir):
    plan = _plan(catalog()["dim_part"].spark(spark, sf_dir))
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "p_retailprice" not in read and "p_size" not in read


def test_fact_broadcasts_part_dim(spark, sf_dir):
    plan = _plan(catalog()["fct_order_lineitems"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the broadcast side is part, chosen by Spark's own size threshold
    assert "BroadcastExchange" in plan


def test_top50_plans_takeordered_not_full_sort(spark, sf_dir):
    """LIMIT+ORDER BY must be per-partition top-k, not a global sort."""
    plan = _plan(catalog()["top50_orders"].spark(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_anti_join_for_relationships(spark, sf_dir):
    plan = _plan(catalog()["test_relationships_orphans"].spark(spark, sf_dir))
    assert "LeftAnti" in plan


def test_events_scan_prunes_props(spark, sf_dir):
    """events_hourly_rollup never touches the (wide) props JSON column."""
    df = catalog()["events_hourly_rollup"].spark(spark, sf_dir)
    assert "props" not in _optimized(df).split("Relation")[-1] or "props" not in (
        _plan(df).split("ReadSchema:")[1].splitlines()[0]
    )


def test_whole_stage_codegen_active(spark, sf_dir):
    """The hot reference path runs inside WholeStageCodegen spans.

    AQE hides the final plan until execution — run the query first, then
    read the (now final) adaptive plan.
    """
    import contextlib
    import io

    df = catalog()["fct_order_lineitems"].spark(spark, sf_dir)
    df.collect()  # executes THIS QueryExecution so AQE finalizes
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    txt = buf.getvalue()
    assert "== Final Plan ==" in txt
    final = txt.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    # '*' prefix marks a WholeStageCodegen-compiled operator
    assert "* Project" in final and "* BroadcastHashJoin" in final


def test_exact_dedup_shuffles_fingerprints_not_documents(spark, sf_dir):
    """The dedup shuffle carries (fp, doc_id) only — text never moves."""
    df = catalog()["dedup_exact"].spark(spark, sf_dir)
    plan = _plan(df)
    ex = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert ex and all("text" not in ln for ln in ex)


# -- round-2 queries ---------------------------------------------------------


def test_q7_broadcasts_both_nation_roles(spark, sf_dir):
    """Supplier-nation and customer-nation branches must each broadcast —
    the cross-nation predicate then evaluates map-side."""
    plan = _plan(catalog()["q7_volume_shipping"].spark(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_q10_takeordered_and_pushed_filters(spark, sf_dir):
    plan = _plan(catalog()["q10_returned_items"].spark(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(l_returnflag,R)" in plan  # pushed to the lineitem scan
    assert "o_orderdate" in plan.split("orders.parquet")[0] or "GreaterThanOrEqual(o_orderdate" in plan


def test_q11_reuses_per_part_aggregate(spark, sf_dir):
    """The global mean derives from the per-part aggregate subtree — the
    partkey shuffle must execute once and be reused for the mean branch.
    AQE materializes exchange reuse only in the FINAL plan, so execute
    first."""
    df = catalog()["q11_important_parts"].spark(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan


def test_q21_no_cartesian_and_aligned_keys(spark, sf_dir):
    plan = _plan(catalog()["q21_waiting_suppliers"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "TakeOrderedAndProject" in plan


def test_boilerplate_spans_takeordered(spark, sf_dir):
    plan = _plan(catalog()["dedup_boilerplate_spans"].spark(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_neardup_lsh_candidates_travel_light(spark, sf_dir):
    """The bucket self-join must join bare id pairs — embeddings re-attach
    after the dedup, so no 'emb' column crosses the (table, bucket) join."""
    from live_data_spark.operators.similarity import embedding_neardup_lsh

    plan = _optimized(catalog()["embedding_neardup_lsh"].spark(spark, sf_dir))
    # the bucket join's immediate output carries ids + join keys only;
    # a plan that shipped vectors through it would project emb_1/emb_2
    # before the dedup aggregate
    dedup_section = plan.split("Aggregate")[-1]
    assert "vec_id_1" in plan and "vec_id_2" in plan


def test_mix_plan_single_scan(spark, sf_dir):
    """The global budget is a window over the per-lang aggregate — the
    plan must scan documents exactly once (the separate-budget-aggregate
    formulation loses exchange reuse to column pruning and scans twice)."""
    plan = _plan(catalog()["training_mix_plan"].spark(spark, sf_dir))
    assert plan.count("documents.parquet") == 1


def test_bm25_takeordered_and_broadcast_stats(spark, sf_dir):
    """BM25's top-k must compile to per-partition top-k (not a global
    sort), and the tiny df/(N, avgdl) frames must broadcast — a shuffled
    join against a 2-row term table would be the classic scale bug."""
    plan = _plan(catalog()["text_bm25_topdocs"].spark(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_spacesaving_preaggregates_before_arrow(spark, sf_dir):
    """The SpaceSaving batch twin must hash-aggregate (shard, user)
    counts BEFORE the Arrow stage — the pandas groups then hold distinct
    users, not raw events. A missing pre-agg shows up as
    FlatMapGroupsInPandas directly over the scan."""
    plan = _plan(catalog()["events_spacesaving_topk"].spark(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    pre_arrow = plan.split("FlatMapGroupsInPandas")[-1]  # children print below
    assert "HashAggregate" in pre_arrow, "no per-(shard,user) pre-aggregation"
    assert "TakeOrderedAndProject" in plan


def test_incremental_dedup_single_fp_shuffle(spark, sf_dir):
    """dedup_incremental's history probe and within-batch window must
    both key on fp — one 16-byte-pair exchange family, with no document
    text ever reaching an exchange (ReadSchema carries doc_id/text only
    at the scan, exchanges carry fp/doc_id)."""
    df = catalog()["dedup_incremental"].spark(spark, sf_dir)
    plan = _plan(df)
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the final decision agg partial-combines map-side
    assert plan.count("HashAggregate") >= 2


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Pin the 100 TB join-pruning mechanism: when the dim side is too big
    to broadcast (forced here via autoBroadcastJoinThreshold=-1) and the
    fact scan is big enough to matter (the 10 GB production threshold,
    emulated at 0 so testdata qualifies), Catalyst injects a runtime
    BLOOM FILTER built from the filtered dim keys and applies it as a
    might_contain predicate on the fact scan — rows for non-qualifying
    parts drop at the scan, before the shuffle. This is the mechanism
    that keeps selective dim-filtered fact joins shuffle-light at scale
    without hand-written semi-joins; the test also pins that the
    filtered plan returns the same result as the broadcast plan."""
    from pyspark.sql import functions as F

    from live_data_spark.catalog import load

    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#23")
    q = lambda: (  # noqa: E731
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    baseline = {tuple(r) for r in q().collect()}
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = q()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "no runtime bloom filter injected"
        assert "bloom_filter_agg" in plan
        assert {tuple(r) for r in j.collect()} == baseline
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_training_manifest_single_corpus_scan(spark, sf_dir):
    """The end-to-end manifest (gate → dedup → split → epochs) must read
    documents EXACTLY once: the windowed exact-dedup keeps the whole
    chain one subtree (the aggregate + self-semi-join form scanned it
    twice and shuffled it twice). Checked on the pre-execution plan —
    the adaptive plan string renders initial+final subplans and
    double-counts."""
    import re

    from live_data_spark.catalog import catalog

    df = catalog()["corpus_training_manifest"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = len(re.findall(r"Scan parquet .*documents", plan))
    assert scans == 1, f"expected a single documents scan, plan has {scans}"


def test_dynamic_partition_pruning_on_date_keyed_join(spark, tmp_path):
    """The docstring claim on partitioned facts (registry/bikeshop: 'date-
    keyed joins get dynamic partition pruning') pinned in the plan: a
    hive-partitioned fact joined to a selectively-filtered dim on the
    partition column must carry a dynamicpruning expression in its scan's
    PartitionFilters — at 100 TB this is what turns a 10-year fact scan
    into reading only the dim-selected dates' partitions at runtime."""
    fact_path = str(tmp_path / "fact")
    rows = [(d, i, float(i)) for d in range(10) for i in range(200)]
    spark.createDataFrame(rows, "d int, k int, v double").write.partitionBy(
        "d"
    ).parquet(fact_path)
    dim = spark.createDataFrame(
        [(d, "keep" if d in (3, 7) else "drop") for d in range(10)], "d int, flag string"
    )
    fact = spark.read.parquet(fact_path)
    joined = fact.join(F.broadcast(dim).where(F.col("flag") == "keep"), "d").groupBy(
        "d"
    ).agg(F.sum("v").alias("total"))
    joined.collect()  # DPP shows in the executed (adaptive-final) plan
    plan = _plan(joined)
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_table_metadata_tracks_rewrites(spark, tmp_path):
    """The footer caches must key on the table's on-disk STATE, not its
    path: a long-lived driver that re-ingests/compacts a table at the
    same location must size every data-dependent plan parameter (IVF
    k_lists, LSH planes, driver-arm gates) from the CURRENT corpus. A
    path-only lru_cache served the pre-rewrite rowcount forever."""
    from live_data_spark.catalog import table_bytes, table_rowcount

    t = tmp_path / "embeddings.parquet"
    spark.range(10).selectExpr("id AS vec_id").write.parquet(str(t))
    sf = str(tmp_path)
    assert table_rowcount(sf, "embeddings") == 10
    b0 = table_bytes(sf, "embeddings")

    spark.range(500).selectExpr("id AS vec_id").write.mode("overwrite").parquet(str(t))
    assert table_rowcount(sf, "embeddings") == 500, "stale footer cache after rewrite"
    assert table_bytes(sf, "embeddings") != b0


def test_sparse_cosine_pair_agg_needs_no_exchange(spark, sf_dir):
    """text_sparse_cosine_topk's pair plan (catalog.pair_sides): the
    probe side is hash-partitioned by doc_id and AQE broadcasts the
    build side, so the pair-level aggregate — the 10M+-row hot spot on a
    degenerate vocabulary — runs IN PLACE on the join output
    (HashPartitioning on a.doc_id satisfies the (a.doc_id, b.doc_id)
    clustering)."""
    df = catalog()["text_sparse_cosine_topk"].spark(spark, sf_dir)
    df.collect()  # AQE: read the final plan
    plan = _plan(df)
    # pair agg keys are (doc_id, doc_id); the pair join is the equi-join
    # on term. Between them there must be no exchange of any kind.
    # Anchor on the TWO-key aggregate explicitly — the bare
    # "keys=[doc_id#" prefix also matches the single-key sizes/nrm
    # aggregates, and a plan-layout change that printed one of those
    # first would silently retarget the assertion window.
    m = re.search(r"HashAggregate\(keys=\[doc_id#\d+[^,\]]*, doc_id#", plan)
    assert m, "pair-level (doc_id, doc_id) aggregate not found in plan"
    agg_at = m.start()
    join_at = plan.index("BroadcastHashJoin [term#", agg_at)
    between = plan[agg_at:join_at]
    assert "Exchange" not in between, "pair aggregate re-shuffles the pair stream"


def test_simhash_pair_dedup_needs_no_exchange(spark, sf_dir):
    """dedup_simhash's side of the shared pair plan (catalog.pair_sides):
    the candidate dropDuplicates — a (doc_id_1, doc_id_2)-keyed
    aggregate over the band-bucket self-join's fan-out — must run
    directly on the join output with no pair-level exchange."""
    df = catalog()["dedup_simhash"].spark(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    m = re.search(r"HashAggregate\(keys=\[doc_id_1#\d+[^,\]]*, doc_id_2#", plan)
    assert m, "pair-level (doc_id_1, doc_id_2) aggregate not found in plan"
    join_at = plan.index("BroadcastHashJoin [band#", m.start())
    between = plan[m.start():join_at]
    assert "Exchange" not in between, "candidate dedup re-shuffles the pair stream"


def test_pair_entries_leave_nothing_cached(spark, sf_dir):
    """The pair-plan entries persist nothing: after running both, the
    session's CacheManager holds no plan, so no frame outlives its
    query."""
    spark.catalog.clearCache()
    for name in ("dedup_simhash", "text_sparse_cosine_topk"):
        assert catalog()[name].spark(spark, sf_dir).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
