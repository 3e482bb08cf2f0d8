"""Engine-layer tests: registry, materialization, generic tests, pipeline.

Covers the reference's full pipeline semantics end-to-end (SURVEY.md §3):
two DAG runs (initial seed + incremental refresh) → 8 models → all 20
declared data tests green — the same bar `dbt build` sets for the
reference project.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from live_data_spark.bikeshop import BikeShopPipeline, build_project
from live_data_spark.bikeshop.schema import RAW_TABLES
from live_data_spark.plans import Project, not_null, unique


@pytest.fixture(scope="module")
def pipeline_root(spark, tmp_path_factory):
    """Two completed DAG runs (initial + refresh) in a temp root."""
    root = tmp_path_factory.mktemp("bikeshop")
    pipe = BikeShopPipeline(spark, str(root))
    first = pipe.run()
    second = pipe.run()
    return root, first, second


@pytest.fixture(scope="module")
def project(spark, pipeline_root):
    root, _, _ = pipeline_root
    proj = build_project(
        spark, warehouse_dir=str(root / "warehouse"), raw_root=str(root / "raw")
    )
    proj.run()
    return proj


# -- pipeline (SURVEY §2.9, §3.2) -------------------------------------------


def test_initial_run_seeds_all_tables(pipeline_root):
    _, first, _ = pipeline_root
    assert set(first) == set(RAW_TABLES)
    assert first["customers"] == 1000
    assert first["orders"] == 1000
    assert first["products"] == 97
    # E[items/order] = 1.5 → loose band
    assert 1150 <= first["order_products"] <= 1900


def test_refresh_appends_and_skips_static_dim(pipeline_root):
    _, first, second = pipeline_root
    # O6: products not re-staged on refresh
    assert "products" not in second
    # X3: append semantics — counts grow by one batch
    assert second["customers"] == first["customers"] + 1000
    assert second["orders"] == first["orders"] + 1000


def test_refresh_includes_returning_customers(spark, pipeline_root):
    """The §8.1 intent: some batch-2 orders belong to batch-1 customers."""
    root, _, _ = pipeline_root
    orders = spark.read.parquet(str(root / "raw" / "orders"))
    customers = spark.read.parquet(str(root / "raw" / "customers"))
    first_batch_ids = customers.orderBy("loaded_at").limit(1000).select("id")
    # orders are 2000; join second-batch orders to first-batch customers
    second_orders = orders.join(
        orders.select(F.min("loaded_at").alias("first_ts")),
        F.col("loaded_at") > F.col("first_ts"),
    )
    returning = second_orders.join(
        first_batch_ids, second_orders.customer_id == first_batch_ids.id, "left_semi"
    )
    assert returning.count() > 0


def test_returning_customer_pool_ignores_file_layout(spark, tmp_path):
    """The LIMIT 50 pick is ordered first, so the same raw customers give
    the same returning-customer pool stored as one file or as seven."""
    from live_data_spark.bikeshop.generator import MockDataSpark

    customers = MockDataSpark(spark, seed=3).customers(3000, batch=0)
    pools = []
    for n_files in (1, 7):
        root = tmp_path / f"files_{n_files}"
        customers.repartition(n_files).write.parquet(str(root / "raw" / "customers"))
        pool = BikeShopPipeline(spark, str(root)).get_existing_customers()
        pools.append({r.id for r in pool.collect()})
    assert len(pools[0]) == 50
    assert pools[0] == pools[1]


# -- restart: Airflow starts every DAG run in a fresh process ---------------

ALLOWED_TEST_FAILURES = {"unique_customer_id[source:bike_shop.orders]"}


def _fail_orders_copy(monkeypatch):
    """Make every runner's orders COPY raise before it loads anything."""
    copy_into = BikeShopPipeline.copy_into

    def copy_or_fail(self, table):
        if table == "orders":
            raise RuntimeError("injected COPY failure")
        return copy_into(self, table)

    monkeypatch.setattr(BikeShopPipeline, "copy_into", copy_or_fail)


def _raw_ids(spark, root, table) -> tuple[int, int]:
    """(rows, distinct ids) of a raw table."""
    ids = spark.read.parquet(str(root / "raw" / table)).select("id")
    return ids.count(), ids.distinct().count()


def test_fresh_runner_per_run_loads_each_batch_once(spark, tmp_path):
    for _ in range(3):
        BikeShopPipeline(spark, str(tmp_path)).run()
    assert _raw_ids(spark, tmp_path, "customers") == (3000, 3000)
    assert _raw_ids(spark, tmp_path, "orders") == (3000, 3000)
    assert _raw_ids(spark, tmp_path, "products") == (97, 97)


def test_runs_completed_counts_only_completed_runs(spark, tmp_path, monkeypatch):
    assert BikeShopPipeline(spark, str(tmp_path)).runs_completed == 0
    BikeShopPipeline(spark, str(tmp_path)).run()
    _fail_orders_copy(monkeypatch)
    with pytest.raises(RuntimeError, match="injected COPY failure"):
        BikeShopPipeline(spark, str(tmp_path)).run()
    assert BikeShopPipeline(spark, str(tmp_path)).runs_completed == 1
    # the failed run's other COPYs ran to the end before it raised
    assert _raw_ids(spark, tmp_path, "customers") == (2000, 2000)


def test_retry_after_failed_copy_loads_each_batch_once(spark, tmp_path, monkeypatch):
    """Run 2 fails at its orders COPY after customers and order_products
    committed; the retry, by a fresh runner, re-stages the same files, so
    the committed tables skip them and the rest load once."""
    BikeShopPipeline(spark, str(tmp_path)).run()
    _fail_orders_copy(monkeypatch)
    with pytest.raises(RuntimeError, match="injected COPY failure"):
        BikeShopPipeline(spark, str(tmp_path)).run()
    monkeypatch.undo()
    BikeShopPipeline(spark, str(tmp_path)).run()
    counts = BikeShopPipeline(spark, str(tmp_path)).run()
    assert counts["customers"] == counts["orders"] == 3000
    for table in RAW_TABLES:
        rows, distinct = _raw_ids(spark, tmp_path, table)
        assert rows == distinct, f"{table}: {rows - distinct} duplicate ids"
    proj = build_project(
        spark, warehouse_dir=str(tmp_path / "warehouse"), raw_root=str(tmp_path / "raw")
    )
    proj.run()
    results = proj.run_tests()
    failed = {f"{r.test_name}[{r.model}]" for r in results if not r.passed}
    assert results and failed <= ALLOWED_TEST_FAILURES, failed


def test_generator_deterministic(spark, tmp_path):
    from live_data_spark.bikeshop.generator import MockDataSpark

    a = MockDataSpark(spark, seed=7).seed_initial(num_customers=50, num_orders=50)
    b = MockDataSpark(spark, seed=7).seed_initial(num_customers=50, num_orders=50)
    for t in a:
        assert sorted(map(tuple, a[t].collect())) == sorted(map(tuple, b[t].collect())), t
    c = MockDataSpark(spark, seed=8).seed_initial(num_customers=50, num_orders=50)
    assert sorted(map(tuple, a["customers"].collect())) != sorted(
        map(tuple, c["customers"].collect())
    )


def test_generator_deterministic_across_processes():
    """The generator's determinism contract (generator.py:6) is
    CROSS-process, not just within one interpreter — but until round 8 the
    per-batch cost factor came from Python's ``hash()`` of a str-bearing
    tuple, which is salted per interpreter (PYTHONHASHSEED), so two runs of
    the same seed produced different product_cost columns. Every other draw
    is a JVM-side xxhash64/md5 column expression (process-independent by
    construction); the cost factor is the one driver-side scalar, so pin it
    by respawning interpreters with two DIFFERENT forced hash seeds — under
    the old code these provably diverge, under md5 they must agree."""
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    prog = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "from live_data_spark.bikeshop.generator import batch_cost_factor; "
        "print(repr([batch_cost_factor(7, b) for b in range(4)] + [batch_cost_factor(8, 0)]))"
    )
    outs = []
    for hashseed in ("1", "4242"):
        r = subprocess.run(
            [sys.executable, "-c", prog, str(repo)],
            capture_output=True,
            text=True,
            env={"PYTHONHASHSEED": hashseed, "PATH": "/usr/bin:/bin"},
            check=True,
        )
        outs.append(r.stdout.strip())
    assert outs[0] == outs[1]
    factors = eval(outs[0])  # repr of a float list from our own subprocess
    assert all(0.3 <= f <= 0.5 for f in factors)
    assert len(set(factors)) > 1  # varies by (seed, batch), not a constant


# -- models (SURVEY §2.2-§2.4, §2.10) ---------------------------------------


def test_staging_schemas(project):
    cust = project.build("stg_bike_shop__customers")
    assert cust.columns == [
        "customer_id",
        "customer_first_name",
        "customer_last_name",
        "customer_email",
        "customer_gender",
        "customer_city",
        "loaded_at",
    ]
    genders = {r[0] for r in cust.select("customer_gender").distinct().collect()}
    assert genders <= {"Male", "Female", "Non-binary"}  # decode F1

    orders = project.build("stg_bike_shop__orders")
    statuses = {r[0] for r in orders.select("order_status").distinct().collect()}
    assert statuses <= {"Shipped", "Delivered", "Refunded"}  # initcap F2


def test_dim_exclusions(project):
    assert "loaded_at" not in project.build("dim_customer").columns
    d = project.build("dim_order").columns
    assert "customer_id" not in d and "loaded_at" not in d
    p = project.build("dim_product").columns
    assert not {"product_cost", "product_price", "loaded_at"} & set(p)


def test_fact_columns_and_join(project):
    fct = project.build("fct_order_products")
    assert fct.columns == [
        "order_product_id",
        "product_id",
        "order_id",
        "customer_id",
        "order_date",
        "order_product_quantity",
        "product_price",
        "product_cost",
    ]
    # left joins on consistent FKs → no null join results
    assert fct.where(F.col("customer_id").isNull()).count() == 0
    assert fct.where(F.col("product_price").isNull()).count() == 0


def test_table_materialization_persists(project, spark, pipeline_root):
    root, _, _ = pipeline_root
    path = root / "warehouse" / "dev_mart" / "fct_order_products"
    assert path.exists()
    on_disk = spark.read.parquet(str(path))
    assert on_disk.count() == project.build("fct_order_products").count()


def test_table_read_back_schema_equals_the_inferred_one(project, spark):
    """Read-back passes the written frame's schema instead of inferring
    it from a footer (one job per table); the result must be the schema
    inference gives, nullability and the partition column included."""
    tables = [m for m in project._models.values() if m.materialized == "table"]
    assert {m.name for m in tables} >= {"dim_customer", "fct_order_products"}
    for mdef in tables:
        out = str(project._table_path(mdef))
        inferred = spark.read.parquet(out).select(*project.build(mdef.name).columns)
        assert project.build(mdef.name).schema == inferred.schema, mdef.name


def test_fact_partitioned_by_date_and_pruned(project, spark, pipeline_root):
    """The fact writes hive-partitioned by order_date; a date predicate
    must prune at the file listing (PartitionFilters), not post-scan."""
    root, _, _ = pipeline_root
    path = root / "warehouse" / "dev_mart" / "fct_order_products"
    parts = [p.name for p in path.glob("order_date=*")]
    assert len(parts) >= 25  # ~30 distinct order dates per batch
    some_date = parts[0].split("=", 1)[1]
    df = spark.read.parquet(str(path)).where(F.col("order_date") == some_date)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(order_date" in plan
    assert df.count() > 0


def test_lineage_and_topo_order(project):
    lineage = project.lineage()
    assert lineage["fct_order_products"] >= {
        "stg_bike_shop__order_products",
        "stg_bike_shop__products",
        "stg_bike_shop__orders",
    }
    order = project.topo_order()
    assert order.index("stg_bike_shop__orders") < order.index("fct_order_products")
    assert order.index("stg_bike_shop__customers") < order.index("dim_customer")


def test_cycle_detection(spark, tmp_path):
    proj = Project(spark, warehouse_dir=str(tmp_path))

    @proj.model
    def a(ctx):
        return ctx.ref("b")

    @proj.model
    def b(ctx):
        return ctx.ref("a")

    with pytest.raises(ValueError, match="cycle"):
        proj.build("a")


# -- the 20 declared data tests (SURVEY §5) + 2 singular --------------------


def test_all_declared_tests(project):
    """The reference's 20 generic tests plus the two singular (SQL)
    tests for its declared-empty dbt_sao/tests/ dir."""
    results = project.run_tests()
    assert len(results) == 22
    singular_res = {r.test_name: r for r in results if r.test_name.startswith("assert_")}
    assert set(singular_res) == {
        "assert_fact_margin_nonnegative",
        "assert_fact_conserves_order_lines",
    }
    failures = [str(r) for r in results if not r.passed]
    # §8.1: orders.customer_id unique is violated across appended batches
    # when a returning customer re-orders — the reference test would fail
    # the same way on its own data once its indexing bug were fixed.
    # Everything else must be green.
    allowed = {"unique_customer_id[source:bike_shop.orders]"}
    hard_failures = [f for f in failures if f.split(":  ")[0].split(": ")[0] not in allowed]
    hard_failures = [
        r for r in results if not r.passed and f"{r.test_name}[{r.model}]" not in allowed
    ]
    assert not hard_failures, failures


def test_generic_test_null_semantics(spark, tmp_path):
    """accepted_values passes NULLs; not_null catches them (SURVEY §7.2b)."""
    from live_data_spark.plans import accepted_values

    proj = Project(spark, warehouse_dir=str(tmp_path))

    @proj.model
    def m(ctx):
        return ctx.spark.createDataFrame(
            [("a",), ("b",), (None,)], ["v"]
        )

    av = accepted_values("m", "v", ["a", "b"])
    nn = not_null("m", "v")
    un = unique("m", "v")
    proj.add_test(av)
    proj.add_test(nn)
    proj.add_test(un)
    res = {r.test_name: r for r in proj.run_tests()}
    assert res["accepted_values_v"].passed  # NULL passes accepted_values
    assert not res["not_null_v"].passed  # NULL fails not_null
    assert res["unique_v"].passed  # NULL ignored by unique


def test_relationships_catches_orphans(spark, tmp_path):
    from live_data_spark.plans import relationships

    proj = Project(spark, warehouse_dir=str(tmp_path))

    @proj.model
    def parent(ctx):
        return ctx.spark.createDataFrame([(1,), (2,)], ["id"])

    @proj.model
    def child(ctx):
        return ctx.spark.createDataFrame([(1,), (3,)], ["pid"])

    proj.add_test(relationships("child", "pid", "parent", "id"))
    [res] = proj.run_tests()
    assert not res.passed and res.n_violations == 1 and res.sample == ((3,),)


def test_jsonl_round_trip_documents(spark, sf_dir, tmp_path):
    """JSONL write → schema-enforced read preserves rows and types for the
    documents table (the LLM-corpus interchange format)."""
    from live_data_spark.catalog import load
    from live_data_spark.sources.files import read_jsonl, write_jsonl

    docs = load(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, path)
    back = read_jsonl(spark, path, docs.schema)
    assert back.schema == docs.schema
    assert back.count() == docs.count()
    a = {r["doc_id"]: r["text"] for r in docs.collect()}
    b = {r["doc_id"]: r["text"] for r in back.collect()}
    assert a == b


def test_ingest_malformed_rows_are_isolated(spark, tmp_path):
    """PERMISSIVE CSV ingest: a malformed line lands in _corrupt_record
    (quarantine-able), clean rows load typed — a 100 TB append can't be
    failed by one bad file."""
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    p = tmp_path / "landing"
    p.mkdir()
    (p / "b.tsv").write_text(
        "id\tprice\n"
        "a1\t9.99\n"
        "bad-row-with-unparseable\tprice\n"
        "a2\t1.50\n"
    )
    schema = StructType(
        [
            StructField("id", StringType()),
            StructField("price", DoubleType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("header", True)
        .option("sep", "\t")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(str(p))
    ).cache()
    clean = df.where(F.col("_corrupt_record").isNull())
    bad = df.where(F.col("_corrupt_record").isNotNull())
    assert clean.count() == 2
    assert bad.count() == 1
    assert {r["id"] for r in clean.collect()} == {"a1", "a2"}


def test_compact_parquet_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    from live_data_spark.sources.files import compact_parquet

    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    path = str(tmp_path / "frag")
    src.repartition(40).write.parquet(path)  # simulate micro-batch fragmentation
    before = len(list((tmp_path / "frag").rglob("*.parquet")))
    assert before >= 40

    n_after = compact_parquet(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert n_after < before
    back = spark.read.parquet(path)
    assert back.count() == src.count()
    assert sorted(back.columns) == sorted(src.columns)


def test_check_order_policy_invariants():
    """The ledger rotation policy drives the driver-verified catalog prefix
    (the driver checks the first 50 entries). Pin the policy's invariants so
    a regression can't silently starve an entry of its driver row again
    (rounds 1-4 left 28 entries unchecked under the old static tuple)."""
    from live_data_spark import ledger
    from live_data_spark.catalog import catalog

    cat = catalog()
    names = list(cat)

    # Every ledger name refers to a real catalog entry (typo guard).
    for group in (ledger.RED, ledger.CHANGED_SINCE_CHECK, ledger.RECHECK_PRIORITY):
        assert [n for n in group if n not in cat] == []
    assert [n for n in ledger.LAST_CHECKED if n not in cat] == []

    # Class boundaries: red < never-checked < changed-since < checked.
    # "Never checked" includes stale-kind evidence: a rows-only record on
    # an entry that now has an oracle (promoted since its last check).
    def never_checked(n):
        rec = ledger.LAST_CHECKED.get(n)
        return rec is None or (rec[1] == "rows" and cat[n].oracle is not None)

    def cls(n):
        if n in ledger.RED:
            return 0
        if never_checked(n):
            # rows-only never-checked entries yield window slots to
            # oracle-bearing work (their exactness lives in pytest pins;
            # a rows-only driver row can only catch a crash, which the
            # per-round preflight already covers)
            return 1 if cat[n].oracle is not None else 3
        if n in ledger.CHANGED_SINCE_CHECK:
            return 2
        return 4

    classes = [cls(n) for n in names]
    assert classes == sorted(classes), "catalog order violates ledger class order"

    # Within the checked class, older evidence is re-verified first.
    checked_rounds = [ledger.LAST_CHECKED[n][0] for n in names if cls(n) == 4]
    assert checked_rounds == sorted(checked_rounds)

    # Every RED and every ORACLE-BEARING entry that has never had a
    # driver row sits inside the 50-entry window the driver actually
    # verifies. Entries that may overflow to the NEXT round, in their
    # class order: edited-since-green entries (historical greens + local
    # re-verification; class 2 guarantees they lead the next window once
    # this round's newcomers are checked) and rows-only newcomers
    # (exactness lives in pytest; a rows-only row only catches crashes).
    # Neither can starve: their classes outrank everything checked.
    window = set(names[:50])
    must_cover = set(ledger.RED) | {
        n for n in names if never_checked(n) and cat[n].oracle is not None
    }
    overflow = must_cover - window
    if overflow:
        # Pure capacity overflow is acceptable ONLY when no window slot
        # could have served them better: every slot must hold a red or a
        # never-checked oracle entry (nothing wasted on a recheck while
        # an unchecked entry waits), and the overflowed entries keep
        # class ≤1 so they LEAD the next round's window.
        assert all(cls(n) <= 1 for n in names[:50]), (
            f"unchecked oracle entries {sorted(overflow)} wait outside the "
            f"window while lower-priority entries occupy slots — ledger stale? "
            f"(scripts/update_ledger.py)"
        )
        assert all(cls(n) <= 1 for n in overflow)
    # changed-since entries outside the window must still outrank every
    # already-checked entry (the no-starvation guarantee)
    for n in set(ledger.CHANGED_SINCE_CHECK) - window:
        assert cls(n) == 2


def test_orc_round_trip_pushdown(spark, sf_dir, tmp_path):
    """ORC round-trips exactly and pushes filters to the scan like parquet."""
    from live_data_spark.catalog import load
    from live_data_spark.sources.files import read_orc, write_orc

    orders = load(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_orc")
    write_orc(orders, path)
    back = read_orc(spark, path, orders.schema)
    assert back.count() == orders.count()
    assert sorted(map(tuple, back.limit(0).collect())) == []
    a = sorted(map(tuple, orders.orderBy("o_orderkey").limit(50).collect()))
    b = sorted(map(tuple, back.orderBy("o_orderkey").limit(50).collect()))
    assert a == b
    plan = (
        back.where(F.col("o_orderstatus") == "F")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "o_orderstatus" in plan.split("PushedFilters")[1][:200]


def test_severity_warn_reports_without_blocking(spark, tmp_path):
    """dbt severity: a failing warn-test reports violations but never
    blocks the run; error-severity does."""
    proj = Project(spark, warehouse_dir=str(tmp_path))

    @proj.model
    def m(ctx):
        return ctx.spark.createDataFrame([(1,), (1,), (None,)], ["v"])

    proj.add_test(unique("m", "v", severity="warn"))
    proj.add_test(not_null("m", "v"))
    res = {r.test_name: r for r in proj.run_tests()}
    warn, err = res["unique_v"], res["not_null_v"]
    assert not warn.passed and warn.severity == "warn" and not warn.blocking
    assert "WARN" in str(warn)
    assert not err.passed and err.severity == "error" and err.blocking


def test_store_failures_persists_full_violation_set(spark, tmp_path):
    """dbt store_failures: the COMPLETE violation rows land as a parquet
    table (the in-memory sample is only a preview)."""
    proj = Project(spark, warehouse_dir=str(tmp_path))

    @proj.model
    def m(ctx):
        # 30 duplicated values — more than MAX_FAILURE_SAMPLE (20)
        return ctx.spark.createDataFrame([(i % 30,) for i in range(60)], ["v"])

    proj.add_test(unique("m", "v"))
    [res] = proj.run_tests(store_failures=True)
    assert not res.passed
    assert res.failures_path is not None
    stored = spark.read.parquet(res.failures_path)
    assert stored.count() == 30  # full set, beyond the 21-row sample cap
    assert set(stored.columns) == {"v", "n"}

    # passing tests store nothing
    proj2 = Project(spark, warehouse_dir=str(tmp_path / "w2"))

    @proj2.model
    def ok(ctx):
        return ctx.spark.createDataFrame([(1,), (2,)], ["v"])

    proj2.add_test(unique("ok", "v"))
    [res2] = proj2.run_tests(store_failures=True)
    assert res2.passed and res2.failures_path is None


def test_update_ledger_script_regenerates_consistently(tmp_path, monkeypatch):
    """scripts/update_ledger.py rewrites the LAST_CHECKED literal each
    round; a regex slip there would silently wreck the rotation policy.
    Run collect() against the real CORRECTNESS files and the rewrite
    against a copy of ledger.py, then import the copy and check it agrees
    with collect()."""
    import importlib.util
    import shutil
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        "update_ledger", repo / "scripts" / "update_ledger.py"
    )
    ul = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ul)

    last_ok, last_red = ul.collect()
    # the historical red classes must be visible in the raw rows: the two
    # r01 type-artifact reds and the r05 one (stratified_eval_split).
    assert last_red.get("q12_late_shipment_priority", 0) >= 1
    assert last_red.get("corpus_pipeline_stats", 0) >= 1
    assert last_red.get("stratified_eval_split", 0) >= 5
    # every currently-ledgered name must be justified by a driver row,
    # with the evidence kind carried through (hash beats rows-only).
    # Promotion-tolerant: the driver drops CORRECTNESS_r{N}.json AFTER the
    # round's final commit, so at every healthy round open the regenerated
    # record may be strictly NEWER than the baked one (higher round, or a
    # same-round rows→hash upgrade) — that is the normal pre-rebake state,
    # not staleness. What must still fail: a baked entry with NO driver
    # row behind it (lost), or regenerated evidence OLDER/downgraded vs
    # the baked literal (the regex-slip class this test exists for).
    from live_data_spark import ledger

    kind_rank = {"rows": 0, "hash": 1}
    for name, (baked_r, baked_k) in ledger.LAST_CHECKED.items():
        cur = last_ok.get(name)
        assert cur is not None, f"{name}: baked but no driver row justifies it"
        cur_r, cur_k = cur
        newer = cur_r > baked_r or (
            cur_r == baked_r and kind_rank[cur_k] >= kind_rank[baked_k]
        )
        assert newer, (
            f"{name}: regenerated {cur} is older/downgraded vs baked "
            f"({baked_r}, {baked_k!r}) — ledger.py corrupted or rewrite slipped"
        )

    # rewrite against a COPY, then import the copy and compare
    work = tmp_path / "ledger.py"
    shutil.copy(repo / "live_data_spark" / "ledger.py", work)
    monkeypatch.setattr(ul, "LEDGER", work)
    src = work.read_text()
    import re

    body = "".join(
        f'    "{n}": ({r}, "{k}"),\n'
        for n, (r, k) in sorted(last_ok.items(), key=lambda kv: (kv[1][0], kv[0]))
    )
    new_src, n_subs = re.subn(
        r"(LAST_CHECKED: dict\[str, tuple\[int, str\]\] = \{\n).*?(\})",
        r"\g<1>" + body + r"\g<2>",
        src,
        flags=re.S,
    )
    assert n_subs == 1
    work.write_text(new_src)
    spec2 = importlib.util.spec_from_file_location("ledger_copy", work)
    copy = importlib.util.module_from_spec(spec2)
    spec2.loader.exec_module(copy)
    assert copy.LAST_CHECKED == last_ok
    assert copy.check_order(list(copy.LAST_CHECKED)[:5])  # callable survives rewrite


def test_zorder_write_prunes_on_both_columns(spark, sf_dir, tmp_path):
    """Z-order layout must tighten BOTH clustered columns' per-file
    stats: for a 2-D box query, the fraction of files whose [min,max]
    boxes intersect it must be well under 1 on each axis jointly —
    the lexicographic-sort counterexample prunes only the leading
    column. Also: interleaving must preserve the value set exactly."""
    import pyarrow.parquet as pq

    from live_data_spark.catalog import load
    from live_data_spark.functions.layout import write_zordered, zorder_key

    e = load(spark, sf_dir, "events").select(
        "event_id", "user_id", F.floor("value").cast("long").alias("vb")
    )
    out = tmp_path / "zordered"
    write_zordered(e, str(out), ["user_id", "vb"], bits=12, n_files=16)

    back = spark.read.parquet(str(out))
    assert back.count() == e.count()
    assert {r["event_id"] for r in back.collect()} == {r["event_id"] for r in e.collect()}

    files = sorted(out.glob("*.parquet"))
    assert len(files) > 4
    boxes = []
    for f in files:
        md = pq.ParquetFile(str(f)).metadata
        stats = {}
        for ci in range(md.row_group(0).num_columns):
            col = md.row_group(0).column(ci)
            name = col.path_in_schema
            mins = [md.row_group(rg).column(ci).statistics.min for rg in range(md.num_row_groups)]
            maxs = [md.row_group(rg).column(ci).statistics.max for rg in range(md.num_row_groups)]
            stats[name] = (min(mins), max(maxs))
        boxes.append(stats)

    u_lo, u_hi = boxes[0]["user_id"]
    # query box: the first file's user range × low half of value range
    hit = sum(
        1
        for b in boxes
        if not (b["user_id"][1] < u_lo or b["user_id"][0] > u_hi)
        and not (b["vb"][1] < 0 or b["vb"][0] > 3)
    )
    assert hit < len(boxes), "no file pruned for a selective 2-D box"
    # and the key itself must be a bijective interleave on small ints
    probe = spark.range(8).select(
        F.col("id").alias("a"), (7 - F.col("id")).alias("b")
    ).select(zorder_key(["a", "b"], bits=3).alias("z")).collect()
    assert len({r["z"] for r in probe}) == 8


def test_observe_metrics_ride_the_write(spark, tmp_path):
    """Declared observe metrics are computed BY the materialization job
    (df.observe accumulators — no second scan of the written table) and
    land in project.metrics keyed by model; on an incremental rebuild
    the observed frame is the increment actually appended, not the full
    table."""
    proj = Project(spark, warehouse_dir=str(tmp_path))

    @proj.model(
        materialized="table",
        observe={
            "n_rows": "count(1)",
            "n_null_v": "sum(cast(v IS NULL AS BIGINT))",
            "max_id": "max(id)",
        },
    )
    def obs_tbl(ctx):
        return ctx.spark.createDataFrame(
            [(1, "a"), (2, None), (3, "c")], "id long, v string"
        )

    proj.build("obs_tbl")
    assert proj.metrics["obs_tbl"] == {"n_rows": 3, "n_null_v": 1, "max_id": 3}

    src = tmp_path / "inc_src.parquet"
    spark.createDataFrame([(1,), (2,)], "id long").write.parquet(str(src))

    @proj.model(
        materialized="incremental",
        incremental_key="id",
        observe={"n_rows": "count(1)"},
    )
    def obs_inc(ctx):
        return ctx.spark.read.parquet(str(src))

    proj.build("obs_inc")
    assert proj.metrics["obs_inc"] == {"n_rows": 2}

    # new build sees one row above the high watermark: metrics = increment
    spark.createDataFrame([(5,)], "id long").write.mode("append").parquet(str(src))
    proj2 = Project(spark, warehouse_dir=str(tmp_path))
    proj2._models["obs_inc"] = proj._models["obs_inc"]
    proj2.build("obs_inc")
    assert proj2.metrics["obs_inc"] == {"n_rows": 1}


def test_observe_on_view_rejected(spark, tmp_path):
    """A view has no write action for metrics to ride on — declaring
    observe there is a registration error, not a silent no-op."""
    proj = Project(spark, warehouse_dir=str(tmp_path))
    with pytest.raises(ValueError, match="observe"):

        @proj.model(materialized="view", observe={"n": "count(1)"})
        def bad_view(ctx):  # pragma: no cover - never built
            return ctx.spark.range(1)


def test_fct_write_metrics_observed(project):
    """The bikeshop fact's declared observe metrics populate on build and
    carry the join-health signal (orphan counts from each left join)."""
    project.build("fct_order_products")
    m = project.metrics["fct_order_products"]
    assert set(m) == {"n_rows", "n_orphan_products", "n_orphan_orders"}
    assert m["n_rows"] > 0
    # every order_product references a real product in the generated data
    assert m["n_orphan_products"] == 0


def test_scripts_import_standalone():
    """Every scripts/ tool must import OUTSIDE pytest: pytest puts
    tests/conftest on sys.path, so a script importing test helpers can be
    green in the suite yet crash when actually invoked (a sweep script
    broke exactly this way when the canonicalizer moved into conftest —
    found at the round-8 gate, not by the suite). Import each script in a bare
    subprocess; module level must not start Spark, so this stays cheap."""
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    for script in sorted((repo / "scripts").glob("*.py")):
        prog = (
            "import importlib.util, sys; "
            f"spec = importlib.util.spec_from_file_location('m', {str(script)!r}); "
            "m = importlib.util.module_from_spec(spec); "
            "spec.loader.exec_module(m)"
        )
        r = subprocess.run(
            [sys.executable, "-c", prog],
            capture_output=True,
            text=True,
            timeout=120,
            cwd="/",  # no repo cwd: imports must not lean on it
        )
        assert r.returncode == 0, f"{script.name}: {r.stderr[-800:]}"


# -- concurrent actions: plans on the caller, actions on driver threads -----


def _within(seconds, fn):
    """``fn()`` on a daemon thread: a deadlock fails the test after
    ``seconds`` instead of hanging the suite."""
    import threading

    out = {}

    def call():
        try:
            out["value"] = fn()
        except BaseException as e:  # noqa: BLE001 - re-raised below
            out["error"] = e

    t = threading.Thread(target=call, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"no return within {seconds} s"
    if "error" in out:
        raise out["error"]
    return out["value"]


def _late_failure(message):
    """A Python UDF that fails its task after a second."""

    @F.udf("long")
    def fail(x):
        import time

        time.sleep(1)
        raise ValueError(message)

    return fail


def test_run_actions_keeps_input_order_and_raises_the_first_failure_last(spark):
    """Results come back in input order on at most defaultParallelism
    threads; a failure is raised only after every sibling ended, and the
    first failure in input order wins over one that happened earlier."""
    import threading
    import time

    from live_data_spark.session import run_actions

    threads, ended = set(), []

    def work(i):
        time.sleep(0.05 * (8 - i))
        threads.add(threading.current_thread().name)
        ended.append(i)
        return i * i

    n = 2 * spark.sparkContext.defaultParallelism
    assert run_actions(spark, [lambda i=i: work(i) for i in range(n)]) == [i * i for i in range(n)]
    assert len(threads) <= spark.sparkContext.defaultParallelism

    def fail(message, after):
        time.sleep(after)
        raise RuntimeError(message)

    ended.clear()
    with pytest.raises(RuntimeError, match="first in order"):
        run_actions(spark, [
            lambda: fail("first in order", 0.3),
            lambda: work(7),
            lambda: fail("first in time", 0.0),
        ])
    assert ended == [7]
    assert run_actions(spark, []) == []


def test_cycle_raises_from_run_without_deadlock(spark, tmp_path):
    proj = Project(spark, warehouse_dir=str(tmp_path))

    @proj.model(materialized="table")
    def a(ctx):
        return ctx.ref("b")

    @proj.model(materialized="table")
    def b(ctx):
        return ctx.ref("a")

    with pytest.raises(ValueError, match="cycle"):
        _within(120, proj.run)
    # a failed plan leaves no memo behind: the next build plans afresh
    with pytest.raises(ValueError, match="cycle"):
        _within(120, lambda: proj.build("b"))


def test_build_is_single_flight_across_threads(spark, tmp_path):
    """More threads than cores build the same models at once, with the
    interpreter switching threads often: each model function runs once
    and every thread gets the one memoized relation."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    proj = Project(spark, warehouse_dir=str(tmp_path))
    calls = []

    @proj.model
    def base(ctx):
        calls.append("base")
        return ctx.spark.range(10)

    @proj.model(materialized="table")
    def tbl(ctx):
        calls.append("tbl")
        return ctx.ref("base").where("id % 2 = 0")

    @proj.model
    def top(ctx):
        calls.append("top")
        return ctx.ref("tbl").where("id > 2")

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(4 * spark.sparkContext.defaultParallelism) as pool:
            got = _within(120, lambda: list(pool.map(proj.build, ["top", "tbl", "base"] * 8)))
    finally:
        sys.setswitchinterval(switch)
    assert sorted(calls) == ["base", "tbl", "top"]
    for name in ("top", "tbl", "base"):
        assert len({id(df) for n, df in zip(["top", "tbl", "base"] * 8, got) if n == name}) == 1
    assert sorted(r.id for r in got[0].collect()) == [4, 6, 8]


def test_table_chain_writes_in_order(spark, tmp_path):
    """table → table → table: each ref waits for its upstream's write, so
    every model reads back what the one before it wrote."""
    proj = Project(spark, warehouse_dir=str(tmp_path))

    @proj.model(materialized="table")
    def t1(ctx):
        return ctx.spark.range(5).withColumn("v", F.col("id") * 2)

    @proj.model(materialized="table")
    def t2(ctx):
        return ctx.ref("t1").withColumn("w", F.col("v") + 1)

    @proj.model(materialized="table")
    def t3(ctx):
        return ctx.ref("t2").where("w > 3")

    out = _within(120, proj.run)
    assert sorted(map(tuple, out["t3"].collect())) == [(2, 4, 5), (3, 6, 7), (4, 8, 9)]
    assert sorted(map(tuple, spark.table("t2").collect()))[0] == (0, 0, 1)
    written = [(tmp_path / "dev_main" / t / "_SUCCESS").stat().st_mtime_ns for t in ("t1", "t2", "t3")]
    assert written == sorted(written)


def test_fct_write_metrics_match_the_sequential_build(project):
    """The values a one-thread build observed on this two-run root."""
    assert project.metrics["fct_order_products"] == {
        "n_rows": 2966, "n_orphan_products": 0, "n_orphan_orders": 0,
    }


def test_run_tests_returns_the_sequential_results_in_order(project):
    def key(r):
        return (r.test_name, r.model, r.passed, r.n_violations, r.sample)

    want = [key(t.run(project)) for t in project._tests]
    assert [key(r) for r in project.run_tests()] == want


def test_failed_write_raises_from_run_after_its_siblings(spark, tmp_path):
    proj = Project(spark, warehouse_dir=str(tmp_path))

    @proj.model(materialized="table")
    def first(ctx):
        return ctx.spark.range(1).select(_late_failure("first model failed")("id").alias("v"))

    @proj.model(materialized="table")
    def sibling(ctx):
        return ctx.spark.range(1000).withColumn("v", F.col("id") % 7)

    @proj.model(materialized="table")
    def last(ctx):
        return ctx.spark.range(1).select(F.raise_error(F.lit("last model failed")).alias("v"))

    with pytest.raises(Exception, match="first model failed"):
        _within(120, proj.run)
    assert (tmp_path / "dev_main" / "sibling" / "_SUCCESS").exists()
    assert proj.build("sibling").count() == 1000


def test_failed_data_test_raises_from_run_tests_after_its_siblings(spark, tmp_path, monkeypatch):
    from live_data_spark.plans import singular
    from live_data_spark.plans.testing import GenericTest

    proj = Project(spark, warehouse_dir=str(tmp_path))

    @proj.model
    def m(ctx):
        return ctx.spark.range(3)

    ended = []
    run = GenericTest.run

    def recorded_run(self, *args, **kwargs):
        result = run(self, *args, **kwargs)
        ended.append(self.test_name)
        return result

    monkeypatch.setattr(GenericTest, "run", recorded_run)
    late = _late_failure("first test failed")
    proj.add_test(singular("fails_first", "m", lambda p: p.relation("m").select(late("id"))))
    proj.add_test(not_null("m", "id"))
    proj.add_test(singular(
        "fails_last", "m", lambda p: p.relation("m").select(F.raise_error(F.lit("last test failed")))
    ))
    with pytest.raises(Exception, match="first test failed"):
        proj.run_tests()
    assert ended == ["not_null_id"]


def test_pool_threads_keep_the_callers_job_group(spark, tmp_path):
    """Every Spark job the DAG run, the model build and the data tests
    start is in the caller's job group, so ``cancelJobGroup`` and per-group
    job accounting cover the pool threads. Streaming micro-batches are the
    exception Spark makes itself: they run in a group named by the query's
    run id."""
    from pyspark.sql.streaming import StreamingQueryListener

    class RunIds(StreamingQueryListener):
        def __init__(self):
            self.ids = set()

        def onQueryStarted(self, event):
            self.ids.add(str(event.runId))

        def onQueryProgress(self, event): ...

        def onQueryTerminated(self, event): ...

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    group = "concurrent-actions-test"

    def last_job_id():
        spark.range(1).count()
        jsc.listenerBus().waitUntilEmpty()
        return max(sc.statusTracker().getJobIdsForGroup(group))

    streams = RunIds()
    spark.streams.addListener(streams)
    saved = jsc.getLocalProperties().clone()
    sc.setJobGroup(group, "job group propagation")
    try:
        first = last_job_id()
        BikeShopPipeline(spark, str(tmp_path)).run()
        proj = build_project(
            spark, warehouse_dir=str(tmp_path / "warehouse"), raw_root=str(tmp_path / "raw")
        )
        proj.run()
        proj.run_tests()
        last = last_job_id()
    finally:
        jsc.setLocalProperties(saved)
        spark.streams.removeListener(streams)

    store = jsc.statusStore()
    in_group = set(sc.statusTracker().getJobIdsForGroup(group))
    elsewhere = {}
    for job in range(first + 1, last):
        g = store.job(job).jobGroup()
        name = g.get() if g.isDefined() else None
        if job not in in_group and name not in streams.ids:
            elsewhere[job] = name
    assert not elsewhere
    assert streams.ids and len(in_group & set(range(first + 1, last))) > 20
