"""Reference-surface queries (SURVEY.md §2) over the driver's TPC-H testdata.

The reference's bike-shop star schema maps onto the driver tables as:
``customer``→customers dim, ``orders``→orders dim, ``part``→products dim,
``lineitem``→order_products fact. Each query below re-expresses one operator
row from SURVEY.md §2 (citation in the docstring) Spark-first, with its
DuckDB oracle registered alongside.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from live_data_spark.catalog import load, register
from live_data_spark.functions.dialect import (
    dec2,
    decode,
    deterministic_sample,
    exclude,
)

# ---------------------------------------------------------------------------
# Staging layer — P1 rename projections + scalar functions F1-F4.
# Analog of dbt_sao/models/staging/* (1:1 cleaned projection per source).
# ---------------------------------------------------------------------------

_STG_CUSTOMER_ORACLE = """
SELECT
  c_custkey AS customer_id,
  c_name AS customer_name,
  c_nationkey AS nation_id,
  round(c_acctbal, 2) AS account_balance,
  CASE c_mktsegment
    WHEN 'AUTOMOBILE' THEN 'Automobile'
    WHEN 'BUILDING' THEN 'Building'
    WHEN 'MACHINERY' THEN 'Machinery'
    ELSE NULL
  END AS market_segment
FROM customer
"""


@register("stg_customer", oracle=_STG_CUSTOMER_ORACLE, tags=("reference", "staging"))
def stg_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staging rename projection + Snowflake decode() value map.

    Reference: stg_bike_shop__customers.sql:7-23 (rename projection, P1)
    and :16-19 (decode(gender, 'F','Female',...), F1 — unmatched → NULL;
    here FURNITURE/HOUSEHOLD fall through to NULL to exercise that path).
    Pure narrow projection: no shuffle, columns pruned at the parquet scan.
    """
    c = load(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("customer_id"),
        F.col("c_name").alias("customer_name"),
        F.col("c_nationkey").alias("nation_id"),
        F.round("c_acctbal", 2).alias("account_balance"),
        decode(
            "c_mktsegment",
            "AUTOMOBILE", "Automobile",
            "BUILDING", "Building",
            "MACHINERY", "Machinery",
        ).alias("market_segment"),
    )


_STG_ORDERS_ORACLE = """
SELECT
  o_orderkey AS order_id,
  o_custkey AS customer_id,
  CASE o_orderpriority
    WHEN '1-URGENT' THEN '1-urgent'
    WHEN '2-HIGH' THEN '2-high'
    WHEN '3-MEDIUM' THEN '3-medium'
    WHEN '4-NOT SPECIFIED' THEN '4-not Specified'
    WHEN '5-LOW' THEN '5-low'
  END AS order_priority,
  CASE o_orderstatus WHEN 'O' THEN 'Open' WHEN 'F' THEN 'Fulfilled' WHEN 'P' THEN 'Pending' END
    AS order_status,
  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
  round(o_totalprice, 2) AS total_price
FROM orders
"""


@register("stg_orders", oracle=_STG_ORDERS_ORACLE, tags=("reference", "staging"))
def stg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staging projection + initcap() (F2) + decode (F1) + date formatting (F7).

    Reference: stg_bike_shop__orders.sql:7-20, :14 (initcap(order_status)).
    ``initcap(lower(o_orderpriority))`` reproduces Snowflake initcap word
    semantics; the oracle spells out the expected mapping per domain value
    (a stronger, hand-verified oracle than re-implementing initcap).
    Timestamps leave as formatted strings for session-TZ independence.
    """
    o = load(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("customer_id"),
        F.initcap(F.lower("o_orderpriority")).alias("order_priority"),
        decode("o_orderstatus", "O", "Open", "F", "Fulfilled", "P", "Pending").alias(
            "order_status"
        ),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.round("o_totalprice", 2).alias("total_price"),
    )


_STG_PART_ORACLE = """
SELECT
  p_partkey AS product_id,
  p_name AS model,
  p_brand AS brand,
  p_type AS category,
  p_size AS size,
  round(p_retailprice, 2) AS product_price,
  cast(round(cast(p_retailprice AS DECIMAL(18,2)) * 0.42, 2) AS DOUBLE) AS product_cost
FROM part
"""


@register("stg_part", oracle=_STG_PART_ORACLE, tags=("reference", "staging"))
def stg_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staging projection + round(x, 2) (F3) + scalar multiply (F4).

    Reference: stg_bike_shop__products.sql:7-23, :20 (round(product_cost,2));
    mock_data.py:31 (cost = price * constant-factor-per-batch).

    product_cost multiplies in EXACT decimal (dec2 × decimal 0.42 —
    4-dp exact product) before the HALF_UP round, on both engines: a
    2-dp price ending .25/.75 makes the rational product land exactly
    on a .xx5 boundary, where float round() is engine-divergent (Spark
    HALF_UPs the shortest repr, DuckDB rounds the binary — the dec2
    docstring's rule). product_price stays a float round: the input is
    already 2-dp-valued, so its round is a no-op on any engine.
    """
    p = load(spark, sf_dir, "part")
    cost = F.col("p_retailprice").cast("decimal(18,2)") * F.lit("0.42").cast(
        "decimal(4,2)"
    )
    return p.select(
        F.col("p_partkey").alias("product_id"),
        F.col("p_name").alias("model"),
        F.col("p_brand").alias("brand"),
        F.col("p_type").alias("category"),
        F.col("p_size").alias("size"),
        F.round("p_retailprice", 2).alias("product_price"),
        F.round(cost, 2).cast("double").alias("product_cost"),
    )


_STG_LINEITEM_ORACLE = """
SELECT
  l_orderkey AS order_id,
  l_partkey AS product_id,
  l_suppkey AS supplier_id,
  l_linenumber AS line_number,
  cast(l_quantity AS INTEGER) AS quantity,
  round(l_extendedprice, 2) AS extended_price,
  round(l_discount, 2) AS discount
FROM lineitem
"""


@register("stg_lineitem", oracle=_STG_LINEITEM_ORACLE, tags=("reference", "staging"))
def stg_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staging projection of the fact source (order line items).

    Reference: stg_bike_shop__order_products.sql:7-18 (P1 rename of the
    line-item grain source, _bike_shop.yml:31).
    """
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_partkey").alias("product_id"),
        F.col("l_suppkey").alias("supplier_id"),
        F.col("l_linenumber").alias("line_number"),
        F.col("l_quantity").cast("int").alias("quantity"),
        F.round("l_extendedprice", 2).alias("extended_price"),
        F.round("l_discount", 2).alias("discount"),
    )


# ---------------------------------------------------------------------------
# Mart layer — dims via EXCLUDE (P2/P3), fact via left joins (J1/J2).
# ---------------------------------------------------------------------------


@register(
    "dim_customer",
    oracle="SELECT * EXCLUDE (c_acctbal) FROM customer",
    tags=("reference", "mart"),
)
def dim_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension = SELECT * EXCLUDE col (single-column exclusion, P2).

    Reference: dim_customer.sql:5 (``select * exclude loaded_at``).
    Spark has no EXCLUDE; ``drop`` is exact and Catalyst prunes the
    dropped column out of the parquet scan entirely.
    """
    return exclude(load(spark, sf_dir, "customer"), "c_acctbal")


@register(
    "dim_order",
    oracle="SELECT * EXCLUDE (o_custkey, o_totalprice) FROM orders",
    tags=("reference", "mart"),
)
def dim_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension = SELECT * EXCLUDE (a, b) (multi-column exclusion, P3).

    Reference: dim_order.sql:5 (``exclude (customer_id, loaded_at)``).
    Note: o_orderdate is a parquet TIMESTAMP; kept native here to verify
    timestamp round-trip fidelity against the oracle (UTC session pin).
    """
    return exclude(load(spark, sf_dir, "orders"), "o_custkey", "o_totalprice")


@register(
    "dim_part",
    oracle="SELECT * EXCLUDE (p_retailprice, p_size) FROM part",
    tags=("reference", "mart"),
)
def dim_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension = EXCLUDE of measure columns (P3).

    Reference: dim_product.sql:5 (``exclude (product_cost, product_price,
    loaded_at)``).
    """
    return exclude(load(spark, sf_dir, "part"), "p_retailprice", "p_size")


_FCT_ORACLE = """
SELECT
  li.l_orderkey AS order_id,
  li.l_linenumber AS line_number,
  li.l_partkey AS product_id,
  o.o_custkey AS customer_id,
  cast(li.l_quantity AS INTEGER) AS quantity,
  p.p_name AS model,
  round(p.p_retailprice, 2) AS product_price,
  cast(round(cast(li.l_extendedprice AS DECIMAL(18,2))
             * (1 - cast(li.l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS net_price,
  strftime(o.o_orderdate, '%Y-%m-%d') AS order_date
FROM lineitem li
LEFT JOIN part p ON li.l_partkey = p.p_partkey
LEFT JOIN orders o ON li.l_orderkey = o.o_orderkey
"""


@register("fct_order_lineitems", oracle=_FCT_ORACLE, headline=True, tags=("reference", "mart"))
def fct_order_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship fact: line-item grain, two left equi-joins + projection.

    Reference: fct_order_products.sql:1-33 (order_products ⟕ products on
    product_id, ⟕ orders on order_id, then an 8-column fact projection).

    Scale plan: no join hint — Spark's 64 MB ``autoBroadcastJoinThreshold``
    broadcasts ``part`` (the small static dim, 97 rows in the reference)
    and, through sf0.1, ``orders`` too, so the fact is map-only (0 shuffle
    bytes, pinned in tests/test_perf_artifact.py). Past the threshold the
    orders join shuffles on l_orderkey/o_orderkey; at 100 TB both sides
    would be bucketed on the order key to make it shuffle-free, and AQE
    handles skew. Projection is
    declared before the join output is materialized so Catalyst prunes all
    unused columns at the scans.
    """
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    o = load(spark, sf_dir, "orders")
    joined = li.join(p, li.l_partkey == p.p_partkey, "left").join(
        o, li.l_orderkey == o.o_orderkey, "left"
    )
    return joined.select(
        li.l_orderkey.alias("order_id"),
        li.l_linenumber.alias("line_number"),
        li.l_partkey.alias("product_id"),
        o.o_custkey.alias("customer_id"),
        li.l_quantity.cast("int").alias("quantity"),
        p.p_name.alias("model"),
        F.round(p.p_retailprice, 2).alias("product_price"),
        # exact decimal arithmetic: float round() is engine-divergent at
        # .xx5 boundaries, which 2dp×2dp products hit constantly
        F.round(dec2(li.l_extendedprice) * (1 - dec2(li.l_discount)), 2)
        .cast("double")
        .alias("net_price"),
        F.date_format(o.o_orderdate, "yyyy-MM-dd").alias("order_date"),
    )


# ---------------------------------------------------------------------------
# Data tests as queries — A3/A4/J3/T1 (dbt generic tests, SURVEY §2.5-2.6, §5).
# Each compiles to a SELECT; dbt semantics: the model passes iff 0 rows.
# ---------------------------------------------------------------------------


@register(
    "test_unique_violations",
    oracle="""
    SELECT o_custkey AS key_value, count(*) AS n
    FROM orders GROUP BY o_custkey HAVING count(*) > 1
    """,
    tags=("reference", "test"),
)
def test_unique_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt ``unique`` test compiled to group-by-having (A3).

    Reference: _bike_shop.yml:26 (orders.customer_id unique — the survey's
    §8.1 quirk: violated once batches append). Run on o_custkey where
    violations exist so the check is non-vacuous. Map-side partial
    aggregation makes this a single shuffle of distinct keys only.
    """
    return (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("key_value"))
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )


@register(
    "test_not_null_counts",
    oracle="""
    SELECT
      count(*) FILTER (WHERE o_custkey IS NULL) AS null_custkey,
      count(*) FILTER (WHERE o_orderdate IS NULL) AS null_orderdate,
      count(*) AS total_rows
    FROM orders
    """,
    tags=("reference", "test"),
)
def test_not_null_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt ``not_null`` test as conditional-count aggregate (A4).

    Reference: _bike_shop.yml:14,21,25,... (not_null on every key).
    Single map-side-combinable aggregate — one pass, no wide shuffle.
    """
    o = load(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("null_custkey"),
        F.count(F.when(F.col("o_orderdate").isNull(), 1)).alias("null_orderdate"),
        F.count(F.lit(1)).alias("total_rows"),
    )


@register(
    "test_relationships_orphans",
    oracle="""
    SELECT DISTINCT li.l_orderkey AS orphan_order_id
    FROM lineitem li
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = li.l_orderkey)
    """,
    tags=("reference", "test"),
)
def test_relationships_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt ``relationships`` (FK) test = left ANTI join (J3).

    Reference: _bike_shop.yml:27-29,40-42,44-48 (orphan detection child→
    parent). Expected empty on consistent data — both engines must agree.
    At scale: anti join shuffles on the key; with a small parent Spark
    plans a broadcast anti join automatically.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .select(F.col("l_orderkey").alias("orphan_order_id"))
        .distinct()
    )


@register(
    "test_accepted_values",
    oracle="""
    SELECT DISTINCT o_orderstatus AS unexpected_value
    FROM orders
    WHERE o_orderstatus NOT IN ('O', 'F', 'P') AND o_orderstatus IS NOT NULL
    """,
    tags=("reference", "test"),
)
def test_accepted_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt ``accepted_values`` test (T1) — NULLs pass by dbt semantics.

    Reference: _stg_bike_shop.yml:5-11 (customer_gender ∈ {Male, Female,
    Non-binary}); the NULL-passes subtlety is SURVEY §7.2(b).
    """
    o = load(spark, sf_dir, "orders")
    return (
        o.where(~F.col("o_orderstatus").isin("O", "F", "P") & F.col("o_orderstatus").isNotNull())
        .select(F.col("o_orderstatus").alias("unexpected_value"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Aggregations A1/A2, sampling/limit L1/L2, fan-out X1, union X2.
# ---------------------------------------------------------------------------


@register(
    "agg_price_stats",
    oracle="""
    SELECT
      round(median(p_retailprice), 4) AS median_price,
      round(stddev_samp(p_retailprice), 4) AS std_price,
      round(cast(sum(cast(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_price,
      count(*) AS n_parts
    FROM part
    """,
    tags=("reference", "agg"),
)
def agg_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global median + sample stddev (A1/A2).

    Reference: mock_data.py:75-76 (median/std of product price feeding the
    Gaussian purchase-weight UDF). ``F.median`` is exact (Spark ≥3.4);
    at 100 TB swap to ``percentile_approx(col, 0.5)`` — the catalog keeps
    the exact form because the oracle demands exactness at test SF.
    """
    p = load(spark, sf_dir, "part")
    return p.agg(
        F.round(F.median("p_retailprice"), 4).alias("median_price"),
        F.round(F.stddev("p_retailprice"), 4).alias("std_price"),
        F.round(
            F.sum(dec2("p_retailprice")).cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_price"),
        F.count(F.lit(1)).alias("n_parts"),
    )


@register(
    "sample_customers",
    oracle="""
    SELECT c_custkey AS customer_id, c_name AS customer_name
    FROM customer
    WHERE (c_custkey % 100003) * 2654435761 % 100 < 5
    """,
    tags=("reference", "sample"),
)
def sample_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5% sample (L1) — Snowflake ``SAMPLE (5)`` analog.

    Reference: sample_table.sql:3 (returning-customer Bernoulli sample).
    True Bernoulli (``df.sample(0.05)``) is nondeterministic across
    engines, so the catalog uses a multiplicative-hash bucket sample:
    uniform, engine-agnostic, reproducible (dialect.deterministic_sample).
    """
    c = load(spark, sf_dir, "customer")
    return deterministic_sample(c, "c_custkey", 5).select(
        F.col("c_custkey").alias("customer_id"),
        F.col("c_name").alias("customer_name"),
    )


@register(
    "top50_orders",
    oracle="""
    SELECT o_orderkey AS order_id, round(o_totalprice, 2) AS total_price
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50
    """,
    tags=("reference", "sample"),
)
def top50_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT-k with total ordering (L2 + deterministic top-k).

    Reference: sample_table.sql:5 (LIMIT 50). The reference relies on
    Snowflake's arbitrary pick; for oracle parity we impose a total order
    (tiebreak on the key). Spark plans this as TakeOrderedAndProject —
    per-partition top-k then a k-row merge on the driver, no full sort
    even at 100 TB.
    """
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(50)
        .select(
            F.col("o_orderkey").alias("order_id"),
            F.round("o_totalprice", 2).alias("total_price"),
        )
    )


@register(
    "explode_line_units",
    oracle="""
    SELECT li.l_orderkey AS order_id, li.l_linenumber AS line_number,
           cast(u.seq AS INTEGER) AS unit_seq
    FROM lineitem li, unnest(generate_series(1, li.l_linenumber)) AS u(seq)
    """,
    tags=("reference", "fanout"),
)
def explode_line_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row explosion via explode(sequence(...)) (X1).

    Reference: mock_data.py:92-107 — each order fans out into 1-3 line
    items through a per-row Python loop; Spark-first this is a generated
    array + explode: fully parallel, no Python, no shuffle (narrow).
    """
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("line_number"),
        F.explode(F.sequence(F.lit(1), F.col("l_linenumber"))).alias("unit_seq"),
    )


@register(
    "union_customer_pool",
    oracle="""
    SELECT c_custkey AS customer_id, c_mktsegment AS segment FROM customer
    WHERE c_custkey % 2 = 0
    UNION
    SELECT c_custkey AS customer_id, c_mktsegment AS segment FROM customer
    WHERE c_mktsegment = 'BUILDING'
    """,
    tags=("reference", "setop"),
)
def union_customer_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of two row pools + distinct (X2).

    Reference: mock_data.py:147 (order-assignment pool = new customers ++
    sampled existing customers). ``unionByName`` + ``dropDuplicates`` ≡
    SQL UNION; at scale the distinct is one hash shuffle with map-side
    partial dedup.
    """
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("customer_id"), F.col("c_mktsegment").alias("segment")
    )
    return (
        c.where(F.col("customer_id") % 2 == 0)
        .unionByName(c.where(F.col("segment") == "BUILDING"))
        .dropDuplicates()
    )


# ---------------------------------------------------------------------------
# Headline aggregate — the classic pricing-summary shape (GROUP BY with
# partial aggregation), the canonical "does the engine aggregate at scale"
# probe. Extension beyond the reference's model surface (it has no GROUP BY,
# SURVEY §2.11) but required by the testdata's analytic posture.
# ---------------------------------------------------------------------------

_Q1_ORACLE = """
WITH d AS (
  SELECT
    l_returnflag, l_linestatus,
    cast(l_quantity AS DECIMAL(18,2)) AS qty,
    cast(l_extendedprice AS DECIMAL(18,2)) AS price,
    cast(l_discount AS DECIMAL(18,2)) AS disc,
    cast(l_tax AS DECIMAL(18,2)) AS tax
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
)
SELECT
  l_returnflag,
  l_linestatus,
  cast(sum(qty) AS DOUBLE) AS sum_qty,
  cast(sum(price) AS DOUBLE) AS sum_base_price,
  cast(sum(price * (1 - disc)) AS DOUBLE) AS sum_disc_price,
  cast(sum(price * (1 - disc) * (1 + tax)) AS DOUBLE) AS sum_charge,
  round(cast(sum(qty) AS DOUBLE) / count(*), 4) AS avg_qty,
  round(cast(sum(price) AS DOUBLE) / count(*), 4) AS avg_price,
  round(cast(sum(disc) AS DOUBLE) / count(*), 4) AS avg_disc,
  count(*) AS count_order
FROM d
GROUP BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", oracle=_Q1_ORACLE, headline=True, tags=("agg", "headline"))
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: filter → groupBy → 8 aggregates.

    The scale probe: predicate pushed to the parquet scan, map-side
    partial aggregation (only |group| rows shuffle — 4 groups here),
    all expressions in whole-stage codegen. Float sums rounded on both
    sides because engine sum order differs at the ~1e-9 level.
    """
    li = load(spark, sf_dir, "lineitem")
    # exact decimal aggregation: order-independent, engine-identical
    qty, price = dec2("l_quantity"), dec2("l_extendedprice")
    disc, tax = dec2("l_discount"), dec2("l_tax")
    disc_price = price * (1 - disc)
    n = F.count(F.lit(1))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(disc_price * (1 + tax)).cast("double").alias("sum_charge"),
            F.round(F.sum(qty).cast("double") / n, 4).alias("avg_qty"),
            F.round(F.sum(price).cast("double") / n, 4).alias("avg_price"),
            F.round(F.sum(disc).cast("double") / n, 4).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@register(
    "agg_distinct_users",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events GROUP BY event_type
    """,
    tags=("agg", "events"),
)
def agg_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (expand + two-phase hash agg in Spark).

    The exact form is the oracle-checkable baseline; at 100 TB swap to
    ``agg_approx_distinct_users`` below — HLL keeps the shuffle O(groups)
    instead of O(distinct pairs).
    """
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "agg_approx_distinct_users",
    oracle="""
    SELECT event_type,
           cast(count(DISTINCT user_id) AS BIGINT) AS n_users_approx,
           cast(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
    tags=("agg", "events", "approx", "sketch"),
)
def agg_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based approximate distinct (SURVEY §2.12 approx-distinct
    mandate), via Apache DataSketches HLL rather than
    ``approx_count_distinct``: the sketch column is MERGEABLE
    (``hll_union_agg`` composes partial aggregations across stages /
    days / sources — the property the 100 TB rollup tree needs), where
    HLL++'s internal state never surfaces.

    Oracle-green under the events_rolling_dau_hll precedent: at lgK=14
    the sketch stays in its exact coupon phase until cardinality ≫ the
    per-type actives at every checked SF (1.5k users at sf0.1 vs ~4k
    coupon capacity), so estimates are exact integers there — verified
    0 mismatches vs countDistinct at sf0.01 AND sf0.1. At true 100 TB
    actives it degrades to the documented ≤2% error band; the exact twin
    ``agg_distinct_users`` above stays the anchor.
    """
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))"))
        .cast("bigint")
        .alias("n_users_approx"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Window functions — extension surface (reference has none, SURVEY §2.11);
# required for sessionization/running aggregates in the events pipeline.
# ---------------------------------------------------------------------------


@register(
    "window_top3_orders_per_customer",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey AS customer_id, o_orderkey AS order_id,
             round(o_totalprice, 2) AS total_price,
             cast(row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rnk
      FROM orders
    ) WHERE rnk <= 3
    """,
    tags=("window",),
)
def window_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked top-N per group via row_number window.

    Deterministic (tiebreak on order key). At scale: a single hash
    shuffle on the partition key; rank filter applied before any
    downstream join so only 3 rows per customer survive.
    """
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            F.col("o_custkey").alias("customer_id"),
            F.col("o_orderkey").alias("order_id"),
            F.round("o_totalprice", 2).alias("total_price"),
            F.col("rnk"),
        )
    )


@register(
    "window_running_customer_spend",
    oracle="""
    SELECT
      o_custkey AS customer_id,
      o_orderkey AS order_id,
      cast(sum(cast(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
    FROM orders
    """,
    tags=("window",),
)
def window_running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum per customer ordered by order date (analytic frame)."""
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        F.col("o_custkey").alias("customer_id"),
        F.col("o_orderkey").alias("order_id"),
        F.sum(dec2("o_totalprice")).over(w).cast("double").alias("running_spend"),
    )
