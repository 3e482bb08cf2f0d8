"""Salted-join equivalence + incremental materialization semantics."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from live_data_spark.functions.skew import salted_join
from live_data_spark.plans import Project


def test_salted_join_equals_plain_join(spark):
    """99% of fact rows share one hot key — results must still be identical
    to the unsalted join, for every join type we claim."""
    fact = spark.range(5000).select(
        F.when(F.col("id") % 100 != 0, "HOT").otherwise(F.concat(F.lit("k"), "id")).alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.createDataFrame(
        [("HOT", "hot-dim"), ("k100", "cold-dim"), ("unmatched", "never")], ["k", "label"]
    )
    for how in ("left", "inner"):
        plain = fact.join(dim, "k", how).select("k", "v", "label")
        salted = salted_join(fact, dim, "k", how=how, n_salts=8).select("k", "v", "label")
        assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect())), how
    # semi/anti are fact-preserving too — equivalence must hold
    for how in ("left_semi", "left_anti"):
        plain = fact.join(dim, "k", how).select("k", "v")
        salted = salted_join(fact, dim, "k", how=how, n_salts=8).select("k", "v")
        assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect())), how


def test_salted_join_rejects_dim_preserving_types(spark):
    """right/full preserve the REPLICATED side: every unmatched dim row
    would come back once per salt (n_salts duplicates). The helper must
    refuse rather than silently corrupt."""
    fact = spark.createDataFrame([("a", 1)], ["k", "v"])
    dim = spark.createDataFrame([("a", "x"), ("zzz", "unmatched")], ["k", "label"])
    for how in ("right", "full", "full_outer", "rightouter"):
        with pytest.raises(ValueError, match="dim side"):
            salted_join(fact, dim, "k", how=how, n_salts=4)


def test_salted_join_spreads_hot_key(spark):
    fact = spark.range(1000).select(F.lit("HOT").alias("k"), F.col("id").alias("v"))
    dim = spark.createDataFrame([("HOT", 1)], ["k", "d"])
    out = salted_join(fact, dim, "k", n_salts=8)
    assert out.count() == 1000
    # salts actually vary → the hot key occupies multiple shuffle keys
    from live_data_spark.functions.skew import salt_fact

    n_distinct = salt_fact(fact, 8).select("__salt").distinct().count()
    assert n_distinct == 8


def test_incremental_model_appends_only_new_rows(spark, tmp_path):
    """dbt incremental: first build full, later builds append > watermark."""
    src = {"rows": [(1, dt.datetime(2026, 1, 1)), (2, dt.datetime(2026, 1, 2))]}
    proj = Project(spark, warehouse_dir=str(tmp_path))

    @proj.model(materialized="incremental", incremental_key="loaded_at")
    def events_inc(ctx):
        return ctx.spark.createDataFrame(src["rows"], ["id", "loaded_at"])

    first = proj.build("events_inc")
    assert first.count() == 2

    # new source state: one old row (re-delivered), one new
    src["rows"] = [(2, dt.datetime(2026, 1, 2)), (3, dt.datetime(2026, 1, 3))]
    proj.invalidate()
    second = proj.build("events_inc")
    assert second.count() == 3  # old row NOT duplicated, new row appended
    ids = sorted(r["id"] for r in second.collect())
    assert ids == [1, 2, 3]

    # idempotent rebuild: same source again → no growth
    proj.invalidate()
    third = proj.build("events_inc")
    assert third.count() == 3


def test_incremental_merge_upserts_latest_per_key(spark, tmp_path):
    """dbt incremental with unique_key (merge strategy): rebuilds upsert —
    per key the newest row by incremental_key wins, incoming rows beat
    existing on recency ties."""
    src = {
        "rows": [
            (1, "a-v1", dt.datetime(2026, 1, 1)),
            (2, "b-v1", dt.datetime(2026, 1, 1)),
        ]
    }
    proj = Project(spark, warehouse_dir=str(tmp_path))

    @proj.model(
        materialized="incremental_merge",
        incremental_key="updated_at",
        unique_key=("id",),
    )
    def dim_merge(ctx):
        return ctx.spark.createDataFrame(src["rows"], ["id", "val", "updated_at"])

    first = proj.build("dim_merge")
    assert first.count() == 2

    src["rows"] = [
        (2, "b-v2", dt.datetime(2026, 1, 5)),  # newer → replaces b-v1
        (3, "c-v1", dt.datetime(2026, 1, 2)),  # brand new key
        (1, "a-stale", dt.datetime(2025, 12, 1)),  # OLDER than stored → loses
    ]
    proj.invalidate()
    second = proj.build("dim_merge")
    got = {r["id"]: r["val"] for r in second.collect()}
    assert got == {1: "a-v1", 2: "b-v2", 3: "c-v1"}

    # recency tie: incoming row must beat the stored one
    src["rows"] = [(3, "c-v2", dt.datetime(2026, 1, 2))]
    proj.invalidate()
    third = proj.build("dim_merge")
    got = {r["id"]: r["val"] for r in third.collect()}
    assert got[3] == "c-v2"
    assert third.count() == 3


def test_incremental_merge_rewrite_keeps_partitions_and_observes_merged_table(spark, tmp_path):
    """The merge's rewrite honours ``partition_by`` (one ``key=value``
    dir per value after the swap) and its observation rides the
    post-merge write, so the metrics describe the whole merged table,
    not the incoming batch."""
    src = {
        "rows": [
            (1, "eu", "a-v1", dt.datetime(2026, 1, 1)),
            (2, "us", "b-v1", dt.datetime(2026, 1, 1)),
        ]
    }
    proj = Project(spark, warehouse_dir=str(tmp_path))

    @proj.model(
        materialized="incremental_merge",
        incremental_key="updated_at",
        unique_key=("id",),
        partition_by=("region",),
        observe={"n_rows": "count(1)", "n_eu": "sum(cast(region = 'eu' as long))"},
    )
    def dim_part(ctx):
        return ctx.spark.createDataFrame(src["rows"], ["id", "region", "val", "updated_at"])

    proj.build("dim_part")
    assert proj.metrics["dim_part"] == {"n_rows": 2, "n_eu": 1}

    src["rows"] = [
        (2, "us", "b-v2", dt.datetime(2026, 1, 5)),  # newer → replaces b-v1
        (3, "ap", "c-v1", dt.datetime(2026, 1, 2)),  # new key, new partition
        (1, "eu", "a-stale", dt.datetime(2025, 12, 1)),  # older → loses
    ]
    proj.invalidate()
    second = proj.build("dim_part")

    store = next(tmp_path.glob("*/dim_part"))
    assert sorted(p.name for p in store.iterdir() if p.is_dir()) == [
        "region=ap",
        "region=eu",
        "region=us",
    ]
    assert second.columns == ["id", "region", "val", "updated_at"]
    got = {r["id"]: (r["region"], r["val"]) for r in second.collect()}
    assert got == {1: ("eu", "a-v1"), 2: ("us", "b-v2"), 3: ("ap", "c-v1")}
    # three incoming rows, but the write evaluated the three-row merged table
    assert proj.metrics["dim_part"] == {"n_rows": 3, "n_eu": 1}


def test_incremental_merge_requires_unique_key(spark, tmp_path):
    proj = Project(spark, warehouse_dir=str(tmp_path))
    with pytest.raises(ValueError, match="unique_key"):

        @proj.model(materialized="incremental_merge", incremental_key="ts")
        def bad_merge(ctx):
            raise AssertionError("unreachable")


def test_incremental_requires_key(spark, tmp_path):
    proj = Project(spark, warehouse_dir=str(tmp_path))
    with pytest.raises(ValueError, match="incremental_key"):

        @proj.model(materialized="incremental")
        def bad(ctx):
            raise AssertionError("unreachable")


def test_bucketed_tables_join_without_exchange(spark, tmp_path, sf_dir):
    """Two models bucketed on the same key/count must sort-merge join with
    ZERO Exchange — the build-time pre-shuffle is the whole point."""
    from live_data_spark.plans.registry import Project

    proj = Project(spark, warehouse_dir=str(tmp_path))

    @proj.model(materialized="table_bucketed", bucket_by=("o_orderkey",), n_buckets=8)
    def orders_bucketed(ctx):
        return ctx.spark.read.parquet(f"{sf_dir}/orders.parquet")

    @proj.model(materialized="table_bucketed", bucket_by=("l_orderkey",), n_buckets=8)
    def lineitem_bucketed(ctx):
        return ctx.spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    @proj.model(materialized="view")
    def order_lines(ctx):
        o = ctx.ref("orders_bucketed")
        li = ctx.ref("lineitem_bucketed")
        # merge hint: at test SF AQE would (rightly) broadcast the tiny
        # side; force the SMJ path to expose what bucketing buys at scale
        return li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "l_extendedprice", "o_orderdate"
        )

    joined = proj.build("order_lines")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert "SortMergeJoin" in plan

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    assert joined.count() == li.join(o, li.l_orderkey == o.o_orderkey).count()


def test_aqe_splits_skewed_join(spark, tmp_path):
    """AQE skew-join handling: a hot key big enough to cross the skew
    thresholds gets split (the executed join shows skew=true), and the
    join result is unchanged — the runtime half of the salting story
    (functions/skew.py is the compile-time half)."""
    import pyspark.sql.functions as F

    left_path = str(tmp_path / "skew_left")
    right_path = str(tmp_path / "skew_right")
    # 200k rows on ONE key plus a uniform tail; force tiny partition
    # targets so the hot partition crosses the skew factor
    spark.range(200_000).select(
        F.lit(0).alias("k"), F.col("id").alias("payload")
    ).union(
        spark.range(2_000).select((F.col("id") % 50 + 1).alias("k"), F.col("id"))
    ).write.mode("overwrite").parquet(left_path)
    spark.range(51).select(F.col("id").alias("k"), F.lit("dim").alias("v")).write.mode(
        "overwrite"
    ).parquet(right_path)

    old = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": spark.conf.get(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        ),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        ),
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
        left = spark.read.parquet(left_path)
        right = spark.read.parquet(right_path)
        joined = left.join(right, "k")
        # collect the join df itself so ITS adaptive plan finalizes
        # (count() would execute a different query)
        assert len(joined.collect()) == 202_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not mark the skewed join"
    finally:
        for key, val in old.items():
            spark.conf.set(key, val)


def test_incremental_merge_survives_crash_mid_swap(spark, tmp_path):
    """A build killed between the swap's two renames (store moved to the
    backup, replacement not yet renamed in) must NOT reset the table to
    the next batch alone: the next build heals from the backup and
    merges on the FULL history. The rmtree-then-rename form this
    replaces lost every previously merged key silently."""
    from live_data_spark.sources.files import _SWAP_BAK_SUFFIX

    src = {"rows": [(1, "a-v1", dt.datetime(2026, 1, 1))]}
    proj = Project(spark, warehouse_dir=str(tmp_path))

    @proj.model(
        materialized="incremental_merge",
        incremental_key="updated_at",
        unique_key=("id",),
    )
    def dim_crash(ctx):
        return ctx.spark.createDataFrame(src["rows"], ["id", "val", "updated_at"])

    proj.build("dim_crash")
    src["rows"] = [(2, "b-v1", dt.datetime(2026, 1, 2))]
    proj.invalidate()
    assert proj.build("dim_crash").count() == 2

    # simulate the kill window: the store directory renamed away
    store = next(tmp_path.glob("*/dim_crash"))
    bak = store.parent / (store.name + _SWAP_BAK_SUFFIX)
    store.rename(bak)

    src["rows"] = [(3, "c-v1", dt.datetime(2026, 1, 3))]
    proj.invalidate()
    got = {r["id"]: r["val"] for r in proj.build("dim_crash").collect()}
    assert got == {1: "a-v1", 2: "b-v1", 3: "c-v1"}, "history lost in the swap window"
    assert not bak.exists()
