"""Multi-way join / analytic queries beyond the reference's 2-join surface.

The reference's widest plan is fct_order_products (2 left joins,
dbt_sao/models/mart/fct_order_products.sql:26-30). A 100 TB engine needs the
join/agg shapes the reference *implies* but never exercises — deep star
joins, having-semijoins, grouping-set subtotals, ordered (as-of) joins, exact
quantiles, set ops. Each lands here as a (Spark, DuckDB-oracle) catalog pair
over the driver testdata.

Scale posture shared by all queries (see each docstring for specifics):
filters reach the parquet scan, dims broadcast, facts shuffle only on their
join/group keys, monetary aggregation in decimal so results are
order-independent and engine-identical (functions/dialect.py::dec2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from live_data_spark.catalog import load, register
from live_data_spark.functions.dialect import dec2, money_sum

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


# ---------------------------------------------------------------------------
# Q3 shape: dim-filtered 3-way star join → group → deterministic top-10.
# ---------------------------------------------------------------------------

_Q3_ORACLE = """
WITH r AS (
  SELECT
    l.l_orderkey,
    sum(cast(l.l_extendedprice AS DECIMAL(18,2))
        * (1 - cast(l.l_discount AS DECIMAL(18,2)))) AS rev,
    o.o_orderdate,
    o.o_orderpriority
  FROM customer c
  JOIN orders o ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE c.c_mktsegment = 'BUILDING'
    AND o.o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
    AND l.l_shipdate > TIMESTAMP '1998-06-15 00:00:00'
  GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
)
SELECT
  l_orderkey AS order_id,
  cast(rev AS DOUBLE) AS revenue,
  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
  o_orderpriority AS order_priority
FROM r
ORDER BY rev DESC, l_orderkey
LIMIT 10
"""


@register("q3_shipping_priority", oracle=_Q3_ORACLE, headline=True, tags=("join", "headline"))
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: segment-filtered customer ⋈ orders ⋈ lineitem → top-10.

    Scale shape: both date predicates and the segment filter push to the
    parquet scans (the lineitem scan reads only post-cutoff row groups);
    customer⋈orders shuffles on custkey, the result joins lineitem on
    orderkey; the final top-10 is TakeOrderedAndProject (per-partition
    partial top-k, no global sort). Revenue in decimal → deterministic
    LIMIT boundary (ties broken by order key).
    """
    cutoff = F.lit("1998-06-15 00:00:00").cast("timestamp_ntz")
    c = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = load(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    rev = dec2("l_extendedprice") * (1 - dec2("l_discount"))
    grouped = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).alias("rev"))
    )
    return (
        grouped.orderBy(F.col("rev").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(
            F.col("l_orderkey").alias("order_id"),
            F.col("rev").cast("double").alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.col("o_orderpriority").alias("order_priority"),
        )
    )


# ---------------------------------------------------------------------------
# Q5 shape: 6-way snowflake join with a cross-dimension equality predicate.
# ---------------------------------------------------------------------------

_Q5_ORACLE = """
SELECT
  n.n_name AS nation_name,
  cast(sum(cast(l.l_extendedprice AS DECIMAL(18,2))
           * (1 - cast(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n.n_name
"""


@register("q5_local_supplier_volume", oracle=_Q5_ORACLE, tags=("join",))
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: 6-way snowflake join, revenue by nation.

    The deepest join tree in the catalog. region/nation broadcast
    explicitly (≤25 rows); supplier is small → AQE broadcasts it; the
    only shuffles left are customer⋈orders (custkey) and ⋈lineitem
    (orderkey). The s_nationkey = c_nationkey cross-dimension predicate
    rides on the supplier join condition — no extra shuffle. Year filter
    prunes the orders scan before any join.
    """
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    li = load(spark, sf_dir, "lineitem")
    rev = dec2("l_extendedprice") * (1 - dec2("l_discount"))
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey))
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select(F.col("n_name").alias("nation_name"), "revenue")
    )


# ---------------------------------------------------------------------------
# Q18 shape: HAVING-filtered aggregate used as a semi-join back to the fact.
# ---------------------------------------------------------------------------

_Q18_ORACLE = """
WITH big AS (
  SELECT l_orderkey, sum(cast(l_quantity AS DECIMAL(18,2))) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(cast(l_quantity AS DECIMAL(18,2))) > 300
)
SELECT
  c.c_custkey AS customer_id,
  c.c_name AS customer_name,
  o.o_orderkey AS order_id,
  strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
  o.o_totalprice AS total_price,
  cast(big.total_qty AS DOUBLE) AS total_qty
FROM big
JOIN orders o ON o.o_orderkey = big.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
"""


@register("q18_large_orders", oracle=_Q18_ORACLE, tags=("join", "agg"))
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: orders whose line quantities sum past a threshold.

    The HAVING aggregate runs first (map-side partial sum, shuffle only
    orderkey+sum), producing a tiny key set that then drives broadcast
    joins to orders and customer — the fact is never re-scanned and the
    big tables are filtered by the broadcast hash join, the distributed
    form of a semi-join-after-aggregate.
    """
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec2("l_quantity")).alias("total_qty"))
        .where(F.col("total_qty") > 300)
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_custkey").alias("customer_id"),
            F.col("c_name").alias("customer_name"),
            F.col("o_orderkey").alias("order_id"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.col("o_totalprice").alias("total_price"),
            F.col("total_qty").cast("double").alias("total_qty"),
        )
    )


# ---------------------------------------------------------------------------
# As-of join — the classic "Spark lacks it" ordered join, built from a
# single partitioned window instead of a range-join explosion.
# ---------------------------------------------------------------------------

_ASOF_ORACLE = f"""
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
     v AS (SELECT * FROM events WHERE event_type = 'view')
SELECT
  p.event_id AS purchase_id,
  p.user_id AS user_id,
  strftime(p.ts, '{_TS_FMT_DUCK}') AS purchase_ts,
  strftime(v.ts, '{_TS_FMT_DUCK}') AS last_view_ts
FROM p ASOF LEFT JOIN v
  ON p.user_id = v.user_id AND v.ts <= p.ts
"""


@register("asof_last_view_before_purchase", oracle=_ASOF_ORACLE, tags=("join", "events", "asof"))
def asof_last_view_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the user's latest view at-or-before it.

    Spark has no ASOF JOIN (DuckDB does — the oracle uses it). The naive
    translation is an inequality range join (quadratic per user) + a
    groupBy-max; instead we union both event streams and take a running
    max over one window partitioned by user — one shuffle on user_id,
    linear work, and the same trick extends to any merge-ordered join.
    Equal-timestamp views sort before purchases (secondary key) to get
    the inclusive `view.ts <= purchase.ts` semantics deterministically
    under a ROWS frame.
    """
    e = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            "event_id",
            "user_id",
            "ts",
            (F.col("event_type") == "purchase").cast("int").alias("is_purchase"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_purchase").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_view = F.max(F.when(F.col("is_purchase") == 0, F.col("ts"))).over(w)
    return (
        e.withColumn("last_view", last_view)
        .where(F.col("is_purchase") == 1)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.date_format("ts", _TS_FMT_SPARK).alias("purchase_ts"),
            F.date_format("last_view", _TS_FMT_SPARK).alias("last_view_ts"),
        )
    )


# ---------------------------------------------------------------------------
# Grouping sets: ROLLUP subtotals in one pass.
# ---------------------------------------------------------------------------

_ROLLUP_ORACLE = """
SELECT
  coalesce(r.r_name, 'ALL') AS region_name,
  coalesce(n.n_name, 'ALL') AS nation_name,
  cast(sum(cast(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
  count(*) AS n_orders
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
GROUP BY ROLLUP (r.r_name, n.n_name)
"""


@register("rollup_revenue_by_region_nation", oracle=_ROLLUP_ORACLE, tags=("agg", "grouping"))
def rollup_revenue_by_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(region, nation) revenue: leaf + subtotal + grand total in one agg.

    `df.rollup` compiles to a single Expand + hash aggregate — one pass
    over the fact, one shuffle, instead of three union-ed GROUP BYs.
    Dimension names are never NULL here, so COALESCE('ALL') is an
    unambiguous subtotal marker on both engines.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.sum(dec2("o_totalprice")).cast("double").alias("total_revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "total_revenue",
            "n_orders",
        )
    )


# ---------------------------------------------------------------------------
# Exact quantiles per group (interpolated, engine-identical semantics).
# ---------------------------------------------------------------------------

_QUANTILES_ORACLE = """
SELECT
  event_type,
  round(quantile_cont(value, 0.5), 4) AS p50,
  round(quantile_cont(value, 0.9), 4) AS p90,
  round(quantile_cont(value, 0.99), 4) AS p99,
  round(min(value), 4) AS min_value,
  round(max(value), 4) AS max_value
FROM events
GROUP BY event_type
"""


@register("quantiles_event_value", oracle=_QUANTILES_ORACLE, tags=("agg", "events", "quantile"))
def quantiles_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated p50/p90/p99 of event value per type.

    `F.percentile` = SQL percentile_cont: exact linear interpolation,
    identical to DuckDB's quantile_cont. Exact quantiles sort each
    group's values — fine at per-group cardinalities, but at 100 TB
    switch callers to `percentile_approx` (t-digest sketch, map-side
    mergeable, no sort) — the same exact/approx pairing as
    agg_distinct_users vs agg_approx_distinct_users.
    """
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
    )


_QUANTILES_APPROX_ORACLE = """
SELECT event_type,
       round(quantile_disc(value, 0.5), 4) AS p50,
       round(quantile_disc(value, 0.9), 4) AS p90,
       round(quantile_disc(value, 0.99), 4) AS p99
FROM events
GROUP BY event_type
"""


@register(
    "quantiles_event_value_approx",
    oracle=_QUANTILES_APPROX_ORACLE,
    tags=("agg", "events", "quantile", "sketch"),
)
def quantiles_event_value_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based quantiles — the 100 TB swap ``quantiles_event_value``
    promises: ``percentile_approx`` (Greenwald-Khanna summary) is
    map-side mergeable, so the shuffle carries one bounded sketch per
    group instead of sorting every group's values.

    Oracle-green under the forced-exactness precedent: GK with accuracy
    (1e6) ≥ every group's cardinality at the checked SFs degenerates to
    the exact DISCRETE quantile — the smallest element at the target
    rank — which is precisely DuckDB's ``quantile_disc`` (verified
    0 mismatches per type at sf0.01 AND sf0.1). Note the twin pair's
    semantics differ by design: the exact entry interpolates
    (percentile_cont); sketches return data values, so the approx tier
    pairs with the discrete convention. At real cardinality the sketch
    degrades to its ε-rank contract and this oracle no longer applies.
    """
    e = load(spark, sf_dir, "events")
    acc = F.lit(1_000_000)
    return e.groupBy("event_type").agg(
        F.round(F.percentile_approx("value", F.lit(0.5), acc), 4).alias("p50"),
        F.round(F.percentile_approx("value", F.lit(0.9), acc), 4).alias("p90"),
        F.round(F.percentile_approx("value", F.lit(0.99), acc), 4).alias("p99"),
    )


# ---------------------------------------------------------------------------
# Set operations: INTERSECT / EXCEPT cohort split.
# ---------------------------------------------------------------------------

_SETOP_ORACLE = """
WITH y95 AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
), y96 AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
)
SELECT o_custkey AS customer_id, 'retained' AS cohort
FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y96)
UNION ALL
SELECT o_custkey AS customer_id, 'churned' AS cohort
FROM (SELECT * FROM y95 EXCEPT SELECT * FROM y96)
"""


@register("setop_retention_cohorts", oracle=_SETOP_ORACLE, tags=("setop",))
def setop_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT: customers ordering in both 1995 and 1996 vs only '95.

    Spark plans INTERSECT as a left-semi and EXCEPT as a left-anti hash
    join over the distinct key sets; both halves reuse the same two
    year-filtered scans (predicate pushed down). The cohort literal makes
    the union disjoint, so UNION ALL (no dedup shuffle) is safe.
    """

    def year(y: int) -> DataFrame:
        lo = F.lit(f"{y}-01-01 00:00:00").cast("timestamp_ntz")
        hi = F.lit(f"{y + 1}-01-01 00:00:00").cast("timestamp_ntz")
        return (
            load(spark, sf_dir, "orders")
            .where((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
            .select("o_custkey")
            .distinct()
        )

    y95, y96 = year(1995), year(1996)
    retained = y95.intersect(y96).select(
        F.col("o_custkey").alias("customer_id"), F.lit("retained").alias("cohort")
    )
    churned = y95.exceptAll(y96).select(
        F.col("o_custkey").alias("customer_id"), F.lit("churned").alias("cohort")
    )
    return retained.unionByName(churned)


# ---------------------------------------------------------------------------
# Correlated subqueries: EXISTS → left-semi, NOT EXISTS → left-anti,
# scalar subquery → broadcast cross join of a 1-row aggregate.
# ---------------------------------------------------------------------------

_Q4_ORACLE = """
SELECT o.o_orderpriority AS order_priority, count(*) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o.o_orderpriority
"""


@register("q4_priority_with_late_ship", oracle=_Q4_ORACLE, tags=("join", "subquery"))
def q4_priority_with_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped: correlated EXISTS as a left-semi join.

    The correlated predicate (l_shipdate > o_orderdate) rides on the
    semi-join condition — one shuffle on orderkey, each order emitted at
    most once regardless of matching line count (no post-join distinct).
    The quarter filter prunes the orders scan first.
    """
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy(F.col("o_orderpriority").alias("order_priority"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


_Q22_ORACLE = """
WITH avg_bal AS (
  SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0
)
SELECT
  c.c_nationkey AS nation_id,
  count(*) AS n_customers,
  cast(sum(cast(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
FROM customer c, avg_bal
WHERE c.c_acctbal > avg_bal.a
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
  )
GROUP BY c.c_nationkey
"""


@register("q22_rich_inactive_customers", oracle=_Q22_ORACLE, tags=("join", "subquery"))
def q22_rich_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped: scalar subquery + NOT EXISTS anti-join.

    Above-average-balance customers with no orders since 1999 ("rich but
    gone dormant"). The global average is a 1-row aggregate broadcast
    into a cross join (no driver collect — the scalar stays in the
    plan); NOT EXISTS is a left-anti hash join on custkey against an
    orders scan pruned to the key column with the date filter pushed to
    the parquet scan.
    """
    c = load(spark, sf_dir, "customer")
    avg_bal = c.where(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("a"))
    o_keys = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp_ntz"))
        .select("o_custkey")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("a"))
        .join(o_keys, c.c_custkey == o_keys.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("nation_id"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(dec2("c_acctbal")).cast("double").alias("total_balance"),
        )
    )


# ---------------------------------------------------------------------------
# Range join — bucketed to stay linear (the naive inequality join is
# quadratic per key and falls back to broadcast-nested-loop in Spark).
# ---------------------------------------------------------------------------

_RANGE_WINDOW_SEC = 300

_RANGE_ORACLE = f"""
SELECT
  er.event_id AS error_id,
  er.user_id AS user_id,
  strftime(er.ts, '{_TS_FMT_DUCK}') AS error_ts,
  count(e.event_id) AS n_preceding
FROM (SELECT * FROM events WHERE event_type = 'error') er
LEFT JOIN events e
  ON e.user_id = er.user_id
  AND e.ts >= er.ts - INTERVAL {_RANGE_WINDOW_SEC} SECOND
  AND e.ts < er.ts
GROUP BY er.event_id, er.user_id, er.ts
"""


@register("range_join_events_before_error", oracle=_RANGE_ORACLE, tags=("join", "events", "range"))
def range_join_events_before_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: events in the 5 minutes before each error, same user.

    The oracle writes it as a plain inequality join — in Spark that plan
    is a broadcast-nested-loop (quadratic per user). Instead both sides
    bucket time into window-sized bins; an error can only match events in
    its own or the previous bin, so each error explodes into exactly 2
    (user, bin) probe keys and the join is a hash equi-join + residual
    range filter — linear, shuffle keyed on (user_id, bin), the standard
    bucketed-interval-join rewrite that survives any scale-up.
    """
    win = F.lit(_RANGE_WINDOW_SEC)
    ev = load(spark, sf_dir, "events")
    # NTZ → epoch seconds: NTZ has no direct long cast; session TZ is pinned
    # UTC (session.py) so the intermediate timestamp cast is lossless.
    sec = lambda c: F.col(c).cast("timestamp").cast("long")  # noqa: E731
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.col("ts").alias("error_ts"),
        F.explode(
            F.array(F.floor(sec("ts") / win) - 1, F.floor(sec("ts") / win))
        ).alias("bin"),
    )
    probe = ev.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.floor(sec("ts") / win).alias("bin"),
    )
    in_range = (F.col("p_ts") >= F.col("error_ts") - F.make_interval(secs=win)) & (
        F.col("p_ts") < F.col("error_ts")
    )
    return (
        errors.join(
            probe,
            (errors.user_id == probe.p_user) & (errors.bin == probe.bin),
            "left",
        )
        .groupBy("error_id", "user_id", "error_ts")
        .agg(F.count(F.when(in_range, 1)).alias("n_preceding"))
        .select(
            "error_id",
            "user_id",
            F.date_format("error_ts", _TS_FMT_SPARK).alias("error_ts"),
            "n_preceding",
        )
    )


# ---------------------------------------------------------------------------
# Q13 shape: outer-join fact count INCLUDING zeros, then a histogram over
# the counts — the double-aggregation pattern.
# ---------------------------------------------------------------------------

_Q13_ORACLE = """
WITH per AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey
)
SELECT n_orders, count(*) AS n_customers FROM per GROUP BY n_orders
"""


@register("q13_order_count_distribution", oracle=_Q13_ORACLE, tags=("join", "agg"))
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped: how many customers placed 0, 1, 2, ... orders.

    The left outer join is what keeps zero-order customers in the
    distribution (an inner join would silently drop them — the classic
    Q13 trap). count(o_orderkey) counts only matched rows, so unmatched
    customers land in the 0 bucket. Scale shape: one shuffle on custkey
    for join+count (partial map-side count per customer), then a tiny
    second agg over at most a few hundred distinct counts.
    """
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# Q16 shape: NOT IN exclusion + count(DISTINCT) per group.
# ---------------------------------------------------------------------------

_Q16_ORACLE = """
SELECT p.p_brand AS brand, p.p_type AS part_type,
       count(DISTINCT l.l_suppkey) AS n_suppliers
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type
"""


@register("q16_supplier_variety", oracle=_Q16_ORACLE, tags=("join", "agg", "distinct"))
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped: distinct suppliers per (brand, type), minus a deny-list.

    NOT IN over a never-NULL key column is a left-anti join (with NULLs
    it would need the three-valued-logic rewrite — not the case here:
    s_suppkey is a PK). The deny-list aggregates to a handful of keys →
    broadcast anti. count(DISTINCT) runs as Spark's two-phase expand
    (partial distinct on (brand, type, suppkey), then final count) — no
    single-reducer bottleneck at scale.
    """
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type")
    bad = (
        load(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), F.col("p_type").alias("part_type"))
        .agg(F.count_distinct("l_suppkey").alias("n_suppliers"))
    )


# ---------------------------------------------------------------------------
# Q2 shape: argmin per group — cheapest supplier per part.
# ---------------------------------------------------------------------------

_Q2_ORACLE = """
WITH unit AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS up
  FROM lineitem GROUP BY l_partkey, l_suppkey
), best AS (
  SELECT l_partkey, min(up) AS mn FROM unit GROUP BY l_partkey
)
SELECT u.l_partkey AS part_id,
       min(u.l_suppkey) AS best_supplier_id,
       cast(min(b.mn) AS DOUBLE) AS unit_price
FROM unit u JOIN best b ON b.l_partkey = u.l_partkey AND u.up = b.mn
GROUP BY u.l_partkey
"""


@register("q2_cheapest_supplier_per_part", oracle=_Q2_ORACLE, tags=("agg", "argmin"))
def q2_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped argmin: per part, the supplier with the lowest unit price.

    The oracle spells it the portable way (min per group + join back on
    the min). Spark-first it is ONE aggregation: ``min(struct(price,
    suppkey))`` — struct ordering is lexicographic, so the min struct is
    exactly (lowest price, lowest suppkey among its achievers), the same
    deterministic tie-break as the oracle, in a single shuffle with
    map-side partial min and no self-join. ``min_by`` would be shorter
    but leaves ties nondeterministic.

    Division is IEEE-identical across engines, so joining/grouping on
    the double is exact.
    """
    li = load(spark, sf_dir, "lineitem")
    unit = F.col("l_extendedprice") / F.col("l_quantity")
    return (
        li.select("l_partkey", unit.alias("up"), "l_suppkey")
        .groupBy(F.col("l_partkey").alias("part_id"))
        .agg(F.min(F.struct("up", "l_suppkey")).alias("m"))
        .select(
            "part_id",
            F.col("m.l_suppkey").alias("best_supplier_id"),
            F.col("m.up").cast("double").alias("unit_price"),
        )
    )


# ---------------------------------------------------------------------------
# Q8 shape: conditional aggregation — one nation's share of yearly revenue.
# ---------------------------------------------------------------------------

_Q8_ORACLE = """
WITH rev AS (
  SELECT extract(year FROM o.o_orderdate) AS order_year,
         n.n_name AS cust_nation,
         cast(l.l_extendedprice AS DECIMAL(18,2))
           * (1 - cast(l.l_discount AS DECIMAL(18,2))) AS r
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
)
SELECT cast(order_year AS INT) AS order_year,
       cast(sum(CASE WHEN cust_nation = 'NATION_3' THEN r ELSE 0 END) AS DOUBLE)
         / cast(sum(r) AS DOUBLE) AS market_share,
       cast(sum(r) AS DOUBLE) AS total_revenue
FROM rev GROUP BY order_year
"""


@register("q8_market_share", oracle=_Q8_ORACLE, tags=("join", "agg", "conditional"))
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped: NATION_3's share of total revenue per order year.

    Conditional aggregation — the share numerator is a CASE inside the
    sum, so one pass computes both numerator and denominator (no
    self-join, no second scan). Nation broadcasts (25 rows); customer ⋈
    orders shuffles on custkey, the fact joins on orderkey; both sums
    are exact decimal with map-side partials, divided as double only at
    the output boundary.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = dec2("l_extendedprice") * (1 - dec2("l_discount"))
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.sum(F.when(F.col("n_name") == "NATION_3", r).otherwise(zero)).alias("num"),
            F.sum(r).alias("den"),
        )
        .select(
            "order_year",
            (F.col("num").cast("double") / F.col("den").cast("double")).alias("market_share"),
            F.col("den").cast("double").alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# CUBE: all four grouping sets of (returnflag, linestatus) in one pass.
# ---------------------------------------------------------------------------

_CUBE_ORACLE = """
SELECT coalesce(l_returnflag, 'ALL') AS return_flag,
       coalesce(l_linestatus, 'ALL') AS line_status,
       cast(sum(cast(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       count(*) AS n_rows
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@register("cube_revenue_by_flag_status", oracle=_CUBE_ORACLE, tags=("agg", "grouping"))
def cube_revenue_by_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): detail + both 1-D subtotals + total.

    Complements rollup_revenue_by_region_nation (hierarchical subtotals)
    with the full power set. One Expand (4× row multiplication on tiny
    grouping keys) feeding a single hash aggregate — NOT four scans.
    'ALL' substitution is safe because both flag columns are non-NULL in
    the data; with NULLable keys this would need grouping_id() instead.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec2("l_extendedprice")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("return_flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("line_status"),
            "revenue",
            "n_rows",
        )
    )


# ---------------------------------------------------------------------------
# Interval window frame: trailing 1-hour moving average per user.
# ---------------------------------------------------------------------------

_MOVAVG_ORACLE = f"""
SELECT event_id, user_id,
       strftime(ts, '{_TS_FMT_DUCK}') AS event_ts,
       cast(sum(cast(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
         / (count(*) OVER w) AS avg_1h
FROM events
WINDOW w AS (
  PARTITION BY user_id ORDER BY ts
  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
)
"""


@register("window_moving_avg_event_value", oracle=_MOVAVG_ORACLE, tags=("window", "events", "range"))
def window_moving_avg_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour moving average of event value per user.

    A RANGE (time-interval) window frame — vs the ROWS frames elsewhere
    in the catalog. Spark's rangeBetween needs a numeric ordering key,
    so the frame orders on unix_micros(ts): microsecond precision means
    frame-peer groups match DuckDB's timestamp ordering exactly. One
    shuffle on user_id, one sort per partition, single pass — the frame
    is bounded so state is O(events-per-hour), not O(partition).

    The mean is sum(decimal)/count, divided as double at the boundary —
    frame sums in float would be order-sensitive and engine-divergent.
    """
    ev = load(spark, sf_dir, "events")
    # ts is NTZ; session TZ is pinned UTC (session.py) so the cast to
    # TIMESTAMP is lossless and unix_micros is the same instant DuckDB sees.
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(micros)
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    dec6 = F.col("value").cast("decimal(18,6)")
    return ev.select(
        "event_id",
        "user_id",
        F.date_format("ts", _TS_FMT_SPARK).alias("event_ts"),
        (F.sum(dec6).over(w).cast("double") / F.count(F.lit(1)).over(w)).alias("avg_1h"),
    )


# ---------------------------------------------------------------------------
# Q6 shape: pure selective scan-aggregate (the pushdown benchmark).
# ---------------------------------------------------------------------------

_Q6_ORACLE = """
SELECT
  cast(sum(cast(l_extendedprice AS DECIMAL(18,2))
           * cast(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS promo_revenue,
  count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("q6_forecast_revenue", oracle=_Q6_ORACLE, tags=("agg", "scan"))
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped: highly selective single-table scan-aggregate.

    The plan IS the test: every predicate (date range, discount band,
    quantity cap) reaches the parquet scan as a pushed filter over
    min/max row-group stats, the projection reads 4 columns, and the
    aggregate is a map-side partial + 1-row merge — zero shuffle of data
    rows. At 100 TB with date-partitioned lineitem the date range prunes
    partitions before any I/O.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(dec2("l_extendedprice") * dec2("l_discount")).cast("double").alias("promo_revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# Q19 shape: disjunctive (OR-of-ANDs) join predicate.
# ---------------------------------------------------------------------------

_Q19_ORACLE = """
SELECT
  cast(sum(cast(l.l_extendedprice AS DECIMAL(18,2))
           * (1 - cast(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
  count(*) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity >= 1 AND l.l_quantity <= 21)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity >= 10 AND l.l_quantity <= 30)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity >= 20 AND l.l_quantity <= 40)
"""


@register("q19_brand_promo_revenue", oracle=_Q19_ORACLE, tags=("join", "scan"))
def q19_brand_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped: OR-of-ANDs predicate across both join sides.

    The disjunction mixes columns from both tables, so it can't all push
    below the join — but its single-side conjuncts CAN be factored out:
    Catalyst derives p_brand IN (…) + p_size range for the part scan and
    a l_quantity range for the lineitem scan (constraint propagation
    from the OR), leaving only the cross-table residual on the
    (broadcast) hash join. The win at scale is the derived scan filters,
    not the join itself.
    """
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 21)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 30)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 40)
    )
    rev = dec2("l_extendedprice") * (1 - dec2("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .where(cond)
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q12 shape: CASE-bucketed counts over a join (late-shipment audit).
# ---------------------------------------------------------------------------

_Q12_ORACLE = """
SELECT
  l.l_returnflag AS return_flag,
  cast(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  cast(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
GROUP BY l.l_returnflag
"""


@register("q12_late_shipment_priority", oracle=_Q12_ORACLE, tags=("join", "conditional"))
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped: priority-class counts of late shipments.

    The lateness predicate compares columns across the join
    (ship > order + 60d) so it rides the join as a residual; both
    priority-class counts come from CASE inside one aggregation — one
    orderkey shuffle, one pass, like q8's conditional-sum pattern but
    counting disjoint classes that partition the rows.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy(F.col("l_returnflag").alias("return_flag"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q15 shape: aggregate, then keep the groups that hit the global max.
# ---------------------------------------------------------------------------

_Q15_ORACLE = """
WITH r AS (
  SELECT l_suppkey,
         sum(cast(l_extendedprice AS DECIMAL(18,2))
             * (1 - cast(l_discount AS DECIMAL(18,2)))) AS rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey AS supplier_id, s.s_name AS supplier_name,
       cast(r.rev AS DOUBLE) AS total_revenue
FROM r
JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.rev = (SELECT max(rev) FROM r)
"""


@register("q15_top_supplier", oracle=_Q15_ORACLE, tags=("agg", "subquery"))
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped: supplier(s) with the maximum quarterly revenue.

    The "equals the max of an aggregate" pattern: revenue per supplier
    (one shuffle), a 1-row max re-aggregated FROM that result and
    broadcast back as a cross join — the per-supplier aggregate is
    computed once and feeds both branches (vs a window max, which would
    re-sort; vs collect, which would leave the plan). Revenue compares
    in decimal, so the max-equality is exact on any engine. Returns all
    tied suppliers, like the reference query's view formulation.
    """
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(dec2("l_extendedprice") * (1 - dec2("l_discount"))).alias("rev"))
        # lazy: the checkpoint (lineage cut, so max(rev) reuses rev) runs
        # at the first ACTION — the eager default executed the whole
        # aggregation job at plan-CONSTRUCTION time, breaking the catalog
        # convention that entries return lazy plans (the driver's
        # queries() enumeration and the plan-shape sweeps would each pay
        # a full lineitem scan just to build the plan)
        .localCheckpoint(eager=False)
    )
    mx = rev.agg(F.max("rev").alias("mx"))
    s = load(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("rev") == F.col("mx"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select(
            F.col("s_suppkey").alias("supplier_id"),
            F.col("s_name").alias("supplier_name"),
            F.col("rev").cast("double").alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS — arbitrary subtotal combinations (vs ROLLUP's
# hierarchy and CUBE's power set).
# ---------------------------------------------------------------------------

_GSETS_ORACLE = """
SELECT coalesce(l_returnflag, 'ALL') AS return_flag,
       coalesce(o_orderpriority, 'ALL') AS order_priority,
       cast(sum(cast(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY GROUPING SETS ((l_returnflag), (o_orderpriority))
"""


@register("groupingsets_flag_priority", oracle=_GSETS_ORACLE, tags=("agg", "grouping"))
def groupingsets_flag_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two independent 1-D subtotals in one pass via explicit GROUPING SETS.

    Neither ROLLUP (hierarchical) nor CUBE (power set — would add the
    detail and grand-total sets we don't want) expresses "just these two
    marginals"; GROUPING SETS does, still as a single Expand (2×) over
    one join, not two queries. Spark-side it's the SQL form over temp
    views — grouping-set choice is query shape, not API shape.
    """
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("__gs_lineitem")
    load(spark, sf_dir, "orders").createOrReplaceTempView("__gs_orders")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS return_flag,
               coalesce(o_orderpriority, 'ALL') AS order_priority,
               cast(sum(cast(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM __gs_lineitem l JOIN __gs_orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY GROUPING SETS ((l_returnflag), (o_orderpriority))
        """
    )


# ---------------------------------------------------------------------------
# Rank-family windows: ntile / percent_rank / cume_dist over customer spend.
# ---------------------------------------------------------------------------

_DECILE_ORACLE = """
WITH spend AS (
  SELECT o_custkey AS customer_id,
         cast(sum(cast(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
  FROM orders GROUP BY 1
)
SELECT customer_id, total_spend,
       cast(ntile(10) OVER w AS INTEGER) AS decile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM spend
WINDOW w AS (ORDER BY total_spend DESC, customer_id)
"""


@register("window_spend_deciles", oracle=_DECILE_ORACLE, tags=("window", "rank"))
def window_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-spend deciles with the rank family (ntile / percent_rank /
    cume_dist) — the segmentation shapes (top-decile cohorts, percentile
    cutoffs) the other window entries don't exercise.

    The unpartitioned ORDER BY makes rank-family windows a single-
    partition stage — correct but the known scale ceiling. Input here is
    post-aggregate (one row per customer); at 100 TB-grade cardinality
    swap exact global ranks for percentile_approx cutoffs or range
    partitioning (df.repartitionByRange + per-partition offsets). Spend
    is an exact decimal sum cast to double, and the window carries a
    customer_id tiebreak so every rank value is engine-deterministic.
    """
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    spend = o.groupBy(F.col("o_custkey").alias("customer_id")).agg(
        F.sum(dec2("o_totalprice")).cast("double").alias("total_spend")
    )
    w = Window.orderBy(F.col("total_spend").desc(), F.col("customer_id"))
    return spend.select(
        "customer_id",
        "total_spend",
        F.ntile(10).over(w).alias("decile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register("window_spend_deciles_ranged", oracle=_DECILE_ORACLE, tags=("window", "rank", "scale"))
def window_spend_deciles_ranged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale form of ``window_spend_deciles`` — same rows, same oracle, no
    single-partition stage. The exact twin's unpartitioned rank window
    coalesces every customer into one task; here the global rank comes
    from functions/ranks.py::with_global_rank (repartitionByRange + per-
    partition row_number + broadcast P-row offsets), and the rank family
    is derived in closed form: with the (spend DESC, customer_id) total
    order there are no ORDER BY ties, so percent_rank = (r-1)/(n-1),
    cume_dist = r/n, and ntile(10) is ntile_from_rank's exact bucket
    arithmetic. Survives 100× because nothing downstream of the range
    shuffle sees more than one partition's rows.
    """
    from live_data_spark.functions.ranks import ntile_from_rank, with_global_rank

    o = load(spark, sf_dir, "orders")
    spend = o.groupBy(F.col("o_custkey").alias("customer_id")).agg(
        F.sum(dec2("o_totalprice")).cast("double").alias("total_spend")
    )
    ranked = with_global_rank(
        spend,
        [F.col("total_spend").desc(), F.col("customer_id").asc()],
        rank_col="__r",
        total_col="__n",
    )
    r, n = F.col("__r"), F.col("__n")
    # n == 1 guard: the closed form (r-1)/(n-1) is 0/0 on a single-row
    # frame — an ANSI-mode job abort — where percent_rank() (both
    # engines, and this entry's shared oracle) defines it as 0.0.
    pct = F.when(n > 1, F.round((r - 1) / (n - 1), 6)).otherwise(F.lit(0.0))
    return ranked.select(
        "customer_id",
        "total_spend",
        ntile_from_rank(r, n, 10).alias("decile"),
        pct.alias("pct_rank"),
        F.round(r / n, 6).alias("cume"),
    )


# ---------------------------------------------------------------------------
# Forward as-of join — first event strictly after an anchor.
# ---------------------------------------------------------------------------

_ASOF_FWD_ORACLE = f"""
WITH e AS (SELECT * FROM events WHERE event_type = 'error'),
     n AS (SELECT * FROM events WHERE event_type <> 'error')
SELECT
  e.event_id AS error_id,
  e.user_id AS user_id,
  strftime(e.ts, '{_TS_FMT_DUCK}') AS error_ts,
  strftime(n.ts, '{_TS_FMT_DUCK}') AS next_event_ts
FROM e ASOF LEFT JOIN n
  ON e.user_id = n.user_id AND n.ts > e.ts
"""


@register("asof_next_event_after_error", oracle=_ASOF_FWD_ORACLE, tags=("join", "events", "asof"))
def asof_next_event_after_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each error paired with the user's FIRST event
    strictly after it ("what did they do next") — the mirror of
    ``asof_last_view_before_purchase``, same single-window linear plan,
    opposite direction.

    Running min over the FOLLOWING frame (rows (1, ∞)) of the unioned,
    user-partitioned stream. Strictly-after semantics from the sort:
    same-timestamp non-errors order BEFORE the error row, so the frame
    starting at the next row only ever sees ts strictly greater (or
    later-sorted errors, which the CASE masks out).
    """
    e = (
        load(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            "ts",
            (F.col("event_type") == "error").cast("int").alias("is_error"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_error").asc(), F.col("event_id").asc())
        .rowsBetween(1, Window.unboundedFollowing)
    )
    next_ts = F.min(F.when(F.col("is_error") == 0, F.col("ts"))).over(w)
    return (
        e.withColumn("next_ts", next_ts)
        .where(F.col("is_error") == 1)
        .select(
            F.col("event_id").alias("error_id"),
            "user_id",
            F.date_format("ts", _TS_FMT_SPARK).alias("error_ts"),
            F.date_format("next_ts", _TS_FMT_SPARK).alias("next_event_ts"),
        )
    )


# ---------------------------------------------------------------------------
# Z-score outliers — per-group standardization.
# ---------------------------------------------------------------------------

_OUTLIER_ORACLE = """
WITH stats AS (
  SELECT event_type, avg(value) AS mu, stddev(value) AS sd
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       round((e.value - s.mu) / s.sd, 4) AS z
FROM events e JOIN stats s USING (event_type)
WHERE abs((e.value - s.mu) / s.sd) > 2.5
"""


@register("events_value_outliers", oracle=_OUTLIER_ORACLE, tags=("events", "agg", "quality"))
def events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outliers (|z| > 2.5) — the standardize-and-flag
    shape behind data-quality gates and anomaly reports.

    Aggregate-then-broadcast-join rather than an unbounded window over
    every event: the stats side is |event types| rows, so the big side
    never shuffles — a window form would hash-partition the full stream
    by a 5-value key (skew by construction). stddev is the sample form
    on both engines; z rounds to 4 (float aggregates drift ~1e-12 across
    partition orders, far inside the rounding).
    """
    e = load(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev("value").alias("sd")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        e.join(F.broadcast(stats), "event_type")
        .where(F.abs(z) > 2.5)
        .select("event_id", "event_type", "value", F.round(z, 4).alias("z"))
    )


# ---------------------------------------------------------------------------
# RFM segmentation — quantile-cut customer segments over orders.
# ---------------------------------------------------------------------------

_RFM_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey,
         date_diff('day', max(o_orderdate), (SELECT max(o_orderdate) FROM orders)) AS r,
         count(*) AS f,
         cast(sum(cast(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS m
  FROM orders GROUP BY o_custkey
), cuts AS (
  SELECT quantile_cont(r, 1.0/3) AS r33, quantile_cont(r, 2.0/3) AS r66,
         quantile_cont(f, 1.0/3) AS f33, quantile_cont(f, 2.0/3) AS f66,
         quantile_cont(m, 1.0/3) AS m33, quantile_cont(m, 2.0/3) AS m66
  FROM per_cust
)
SELECT
  1 + CASE WHEN r >= r33 THEN 1 ELSE 0 END + CASE WHEN r >= r66 THEN 1 ELSE 0 END AS r_seg,
  1 + CASE WHEN f >= f33 THEN 1 ELSE 0 END + CASE WHEN f >= f66 THEN 1 ELSE 0 END AS f_seg,
  1 + CASE WHEN m >= m33 THEN 1 ELSE 0 END + CASE WHEN m >= m66 THEN 1 ELSE 0 END AS m_seg,
  count(*) AS n_customers,
  round(cast(sum(cast(m AS DECIMAL(18,2))) AS DOUBLE) / count(*), 2) AS avg_monetary
FROM per_cust CROSS JOIN cuts
GROUP BY 1, 2, 3
"""


@register("rfm_segments", oracle=_RFM_ORACLE, tags=("agg", "quantile", "segmentation"))
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) tercile segmentation — the
    classic customer-value grid, as the cut-frame pattern: one customer
    aggregate (the only pass over orders), a 1-row quantile frame
    broadcast back, integer segment arithmetic, then a ≤27-row rollup.

    Monetary sums run in DECIMAL(18,2) everywhere (per-customer and
    per-segment) so engine summation order can't flip a tercile
    boundary or the rounded segment average. Recency is an integer day
    diff against the corpus max order date — a 1-row subquery that
    rides the same broadcast.
    """
    o = load(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("maxd"))
    per_cust = (
        o.crossJoin(F.broadcast(anchor))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.first("maxd"), F.max("o_orderdate")).alias("r"),
            F.count(F.lit(1)).alias("f"),
            money_sum("o_totalprice").alias("m"),
        )
    )
    cuts = per_cust.agg(
        F.percentile("r", F.lit(1.0 / 3)).alias("r33"),
        F.percentile("r", F.lit(2.0 / 3)).alias("r66"),
        F.percentile("f", F.lit(1.0 / 3)).alias("f33"),
        F.percentile("f", F.lit(2.0 / 3)).alias("f66"),
        F.percentile("m", F.lit(1.0 / 3)).alias("m33"),
        F.percentile("m", F.lit(2.0 / 3)).alias("m66"),
    )
    seg = lambda v, lo, hi: (  # noqa: E731
        F.lit(1)
        + F.when(F.col(v) >= F.col(lo), 1).otherwise(0)
        + F.when(F.col(v) >= F.col(hi), 1).otherwise(0)
    )
    return (
        per_cust.crossJoin(F.broadcast(cuts))
        .select(
            seg("r", "r33", "r66").alias("r_seg"),
            seg("f", "f33", "f66").alias("f_seg"),
            seg("m", "m33", "m66").alias("m_seg"),
            "m",
        )
        .groupBy("r_seg", "f_seg", "m_seg")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum(F.col("m").cast("decimal(18,2)")).cast("double") / F.count(F.lit(1)), 2
            ).alias("avg_monetary"),
        )
    )


# ---------------------------------------------------------------------------
# Market-basket affinity — part co-occurrence with lift.
# ---------------------------------------------------------------------------

_BASKET_ORACLE = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n_orders AS (
  SELECT count(DISTINCT l_orderkey) AS n FROM items
), part_count AS (
  SELECT l_partkey, count(*) AS c FROM items GROUP BY l_partkey
), pairs AS (
  SELECT a.l_partkey AS part_1, b.l_partkey AS part_2, count(*) AS n_both
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 3
)
SELECT p.part_1, p.part_2, p.n_both,
       round(p.n_both * n.n / cast(c1.c * c2.c AS DOUBLE), 4) AS lift
FROM pairs p
JOIN part_count c1 ON c1.l_partkey = p.part_1
JOIN part_count c2 ON c2.l_partkey = p.part_2
CROSS JOIN n_orders n
ORDER BY lift DESC, part_1, part_2
LIMIT 50
"""


@register("basket_part_pairs", oracle=_BASKET_ORACLE, tags=("join", "affinity"))
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: part pairs co-ordered in ≥3 orders, ranked
    by lift = P(a,b)·N / (P(a)·P(b)) — the co-occurrence mining shape
    (self-join on the basket key) behind recommendations.

    Scale shape: the pair extraction is keyed on l_orderkey where
    baskets are small (≤7 items), so per-order pair fan-out is bounded
    at items²/2 ≈ 25 rows — linear in orders, NOT all-pairs in parts.
    r12 (guide §2.4): pairs come from the shared per-order sorted-set
    explode (``graph.order_pair_counts`` — one exchange on the basket
    key) instead of the DISTINCT + self-join shape (three exchanges +
    SMJ); the marginals (per-part order counts, order total) derive
    from the same baskets frame, sharing its exchange via stage reuse.
    Support floor first (HAVING ≥3), lift math afterwards on the
    already-aggregated pair table; part marginals broadcast back;
    TakeOrderedAndProject for the top-50 with full tiebreaks. Measured
    at sf0.1: 1.43 → 0.98 s; oracle unchanged and green.
    """
    # call-time import: queries_analytics ↔ operators have no import
    # cycle at module load this way (the text.py idiom)
    from live_data_spark.operators.graph import order_baskets, order_pair_counts

    li = load(spark, sf_dir, "lineitem")
    baskets = order_baskets(li)
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n"))
    part_count = baskets.select(
        F.explode("ps").alias("l_partkey")
    ).groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    pairs = (
        order_pair_counts(baskets)
        .where(F.col("n_both") >= 3)
        .withColumnRenamed("p1", "part_1")
        .withColumnRenamed("p2", "part_2")
    )
    c1 = part_count.select(F.col("l_partkey").alias("part_1"), F.col("c").alias("c1"))
    c2 = part_count.select(F.col("l_partkey").alias("part_2"), F.col("c").alias("c2"))
    return (
        pairs.join(c1, "part_1")
        .join(c2, "part_2")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_1",
            "part_2",
            "n_both",
            F.round(
                F.col("n_both") * F.col("n") / (F.col("c1") * F.col("c2")).cast("double"), 4
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "part_1", "part_2")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Funnel latency — time-to-convert quantiles.
# ---------------------------------------------------------------------------

_FUNNEL_LATENCY_ORACLE = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON s1.user_id = e.user_id AND e.ts > s1.t1
  WHERE e.event_type = 'click' GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON s2.user_id = e.user_id AND e.ts > s2.t2
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
), lat AS (
  SELECT s1.user_id,
         epoch_us(s3.t3) - epoch_us(s1.t1) AS us_total,
         epoch_us(s2.t2) - epoch_us(s1.t1) AS us_to_click
  FROM s3 JOIN s2 USING (user_id) JOIN s1 USING (user_id)
)
SELECT count(*) AS n_converted,
       round(quantile_cont(us_to_click, 0.5) / 60000000.0, 4) AS p50_click_min,
       round(quantile_cont(us_total, 0.5) / 60000000.0, 4) AS p50_total_min,
       round(quantile_cont(us_total, 0.9) / 60000000.0, 4) AS p90_total_min
FROM lat
"""


@register("funnel_latency_quantiles", oracle=_FUNNEL_LATENCY_ORACLE, tags=("events", "funnel", "quantile"))
def funnel_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution for the view→click→purchase
    funnel: how long converting users took (first-touch to first
    qualifying purchase, and to the intermediate click) — the metric
    that turns funnel COUNTS (events_funnel) into funnel SPEED.

    Its stage frames are events_funnel's (``events_batch.funnel_stages``:
    min-agg per stage with the previous stage's time on the join
    condition); latencies are exact epoch-microsecond integers; one
    1-row quantile aggregate at the end. The stage joins are user-keyed
    over 1-row-per-user frames — the same linear shape as the funnel
    itself.
    """
    from live_data_spark.streaming.events_batch import funnel_stages

    s1, s2, s3 = funnel_stages(load(spark, sf_dir, "events"))
    lat = (
        s3.join(s2, "user_id")
        .join(s1, "user_id")
        .select(
            F.expr("timestampdiff(MICROSECOND, t1, t3)").alias("us_total"),
            F.expr("timestampdiff(MICROSECOND, t1, t2)").alias("us_to_click"),
        )
    )
    m = 60_000_000.0
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.percentile("us_to_click", F.lit(0.5)) / m, 4).alias("p50_click_min"),
        F.round(F.percentile("us_total", F.lit(0.5)) / m, 4).alias("p50_total_min"),
        F.round(F.percentile("us_total", F.lit(0.9)) / m, 4).alias("p90_total_min"),
    )


# ---------------------------------------------------------------------------
# Open-order backlog — interval accounting via +1/−1 boundary events.
# ---------------------------------------------------------------------------

_BACKLOG_ORACLE = """
WITH bounds AS (
  SELECT cast(o.o_orderdate AS DATE) AS d, 1 AS delta
  FROM orders o
  UNION ALL
  SELECT cast(done.dd AS DATE), -1
  FROM (SELECT l_orderkey, max(cast(l_shipdate AS DATE)) AS dd
        FROM lineitem GROUP BY l_orderkey) done
), daily AS (
  SELECT d, sum(delta) AS net FROM bounds GROUP BY d
)
SELECT strftime(d, '%Y-%m-%d') AS day,
       cast(sum(net) OVER (ORDER BY d
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open_orders
FROM daily
"""


@register("orders_open_backlog_daily", oracle=_BACKLOG_ORACLE, tags=("agg", "timeseries", "interval"))
def orders_open_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog — concurrent-interval accounting: each
    order contributes +1 at placement and −1 when its last line item
    ships; the running net is how many orders are in flight — the shape
    behind concurrency counts, inventory in transit, and active-session
    curves, with no per-day interval join anywhere.

    The only passes over facts are the per-order completion aggregate
    and the boundary-event union; everything after is a |days|-row
    frame. The running sum IS a single-partition window — over ~2500
    aggregated rows, not events (at 100 TB of orders this frame is
    still |days|; if the series ever needed sharding, prefix sums per
    year + year-offset broadcast is the standard split). Orders whose
    lines never ship stay open forever — visible as the tail plateau.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    starts = o.select(F.to_date("o_orderdate").alias("d"), F.lit(1).alias("delta"))
    done = (
        li.groupBy("l_orderkey")
        .agg(F.max(F.to_date("l_shipdate")).alias("d"))
        .select("d", F.lit(-1).alias("delta"))
    )
    daily = starts.unionByName(done).groupBy("d").agg(F.sum("delta").alias("net"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.sum("net").over(w).cast("bigint").alias("open_orders"),
    )


# ---------------------------------------------------------------------------
# Top-N WITH TIES — rank() semantics vs row_number's arbitrary cut.
# ---------------------------------------------------------------------------


@register(
    "window_top_orders_with_ties",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey AS customer_id, o_orderkey AS order_id,
             round(o_totalprice, 2) AS total_price,
             cast(rank() OVER (PARTITION BY o_custkey
                  ORDER BY cast(o_totalprice AS DECIMAL(18,2)) DESC) AS INTEGER) AS rnk
      FROM orders
    ) WHERE rnk <= 2
    """,
    tags=("window", "topk"),
)
def window_top_orders_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 orders per customer WITH TIES (``FETCH FIRST n WITH TIES`` /
    ``rank()`` semantics): price ties at the cut all survive, unlike
    ``window_top3_orders_per_customer``'s row_number, which breaks them
    arbitrarily-but-deterministically. The distinction matters wherever
    the ranked value is the business fact (equal-priced orders deserve
    equal treatment) — and it's the remaining rank-family semantic the
    catalog didn't pin. Ranking compares DECIMAL(18,2) money on both
    engines, so tie GROUPS are engine-identical (double representation
    of .99 prices differs in the 17th digit — enough to split a tie).

    Same scale shape as every per-group window: one customer-keyed hash
    partition, rank + filter inside it, no global stage.
    """
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").cast("decimal(18,2)").desc()
    )
    return (
        o.withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= 2)
        .select(
            F.col("o_custkey").alias("customer_id"),
            F.col("o_orderkey").alias("order_id"),
            F.round("o_totalprice", 2).alias("total_price"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# Period-over-period — weekly revenue with lag-based deltas.
# ---------------------------------------------------------------------------


@register(
    "revenue_week_over_week",
    oracle="""
    WITH weekly AS (
      SELECT strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week_start,
             cast(sum(cast(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             count(*) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT week_start, revenue, n_orders,
           round(revenue - lag(revenue) OVER (ORDER BY week_start), 2) AS wow_delta,
           round((revenue - lag(revenue) OVER (ORDER BY week_start))
                 / NULLIF(lag(revenue) OVER (ORDER BY week_start), 0) * 100, 4)
             AS wow_pct
    FROM weekly
    """,
    tags=("agg", "window"),
)
def revenue_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period: weekly order revenue with week-over-week delta
    and percent change — the dashboard shape behind every growth metric.
    Revenue sums in DECIMAL (exact money math, the house rule), deltas
    compare adjacent weeks via lag; the first week's deltas are NULL and
    a zero-revenue previous week yields NULL percent (NULLIF — the
    degenerate-frame guard class).

    The lag window is over the WEEKLY aggregate — dozens of rows, not
    orders — so the single-partition window frame is bounded by the
    calendar, never by data (the same reduced-frame contract as the
    hybrid-RRF ranking windows).
    """
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    weekly = o.groupBy(
        F.date_format(F.date_trunc("week", "o_orderdate"), "yyyy-MM-dd").alias(
            "week_start"
        )
    ).agg(
        money_sum("o_totalprice").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("week_start")
    prev = F.lag("revenue").over(w)
    return weekly.select(
        "week_start",
        "revenue",
        "n_orders",
        F.round(F.col("revenue") - prev, 2).alias("wow_delta"),
        F.round(
            (F.col("revenue") - prev) / F.when(prev != 0, prev) * 100, 4
        ).alias("wow_pct"),
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit — every FK edge's orphan count in one plan.
# ---------------------------------------------------------------------------

_FK_EDGES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)

_FK_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}.{ck}->{p}.{pk}' AS fk_edge,
       cast((SELECT count(*) FROM {c}) AS BIGINT) AS n_child_rows,
       cast((SELECT count(*) FROM {c} WHERE {ck} IS NOT NULL
             AND {ck} NOT IN (SELECT {pk} FROM {p})) AS BIGINT) AS n_orphans"""
    for c, ck, p, pk in _FK_EDGES
)


@register("audit_referential_integrity", oracle=_FK_ORACLE, tags=("agg", "join", "quality"))
def audit_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole schema's referential integrity in ONE result: orphan
    counts for all seven FK edges of the TPC-H-ish star — the audit a
    warehouse runs after every load (zero orphans everywhere is the
    invariant; the single-edge form with offending rows is
    ``test_relationships_orphans``). Each edge is a LEFT ANTI join
    (parent keys broadcast where small, dims always are), and the seven
    1-row summaries union in-plan, so the audit is one job.

    At 100 TB the fact-side edges dominate: anti joins shuffle only the
    child's key column, and AQE picks broadcast for every dim parent.
    """
    results = []
    for child, ck, parent, pk in _FK_EDGES:
        c = load(spark, sf_dir, child)
        p = load(spark, sf_dir, parent).select(F.col(pk).alias("__pk"))
        orphans = (
            c.where(F.col(ck).isNotNull())
            .join(p, F.col(ck) == F.col("__pk"), "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        total = c.agg(F.count(F.lit(1)).alias("n_child_rows"))
        results.append(
            total.crossJoin(orphans).select(
                F.lit(f"{child}.{ck}->{parent}.{pk}").alias("fk_edge"),
                "n_child_rows",
                "n_orphans",
            )
        )
    out = results[0]
    for r in results[1:]:
        out = out.unionAll(r)
    return out


# ---------------------------------------------------------------------------
# Cogrouped-map as-of — the applyInPandas(cogroup) API tier.
# ---------------------------------------------------------------------------


@register(
    "asof_view_purchase_cogroup",
    oracle=_ASOF_ORACLE,  # shares the windowed twin's ASOF LEFT JOIN oracle
    tags=("join", "events", "asof"),
)
def asof_view_purchase_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME as-of semantics as ``asof_last_view_before_purchase``,
    via ``cogroup(...).applyInPandas`` + ``pd.merge_asof`` — the
    cogrouped-map API tier: both streams hash-partition ONCE on a
    bucket of user_id and each bucket's (purchases, views) pair arrives
    as two aligned pandas frames, where ``merge_asof(by="user_id")``
    aligns every user in the bucket in one vectorized call. This is the
    shape for per-key merge logic the window trick can't express
    (multi-column tolerance joins, per-key model scoring against a
    reference series); for THIS query the pure-JVM window twin is the
    production path (no Python, same single shuffle), which is exactly
    why both share one oracle — the API tier is verified against the
    same ASOF LEFT JOIN truth.

    Scale: one shuffle per side on the bucket key, Arrow-batched
    per-BUCKET merges. Cogrouping directly on user_id invokes Python
    once per user — ~0.5 ms of interpreter overhead × |users| dominated
    the runtime (10.3 s at sf0.1; 1.6 s bucketed). The bucket count is
    the parallelism knob: size it to executors×cores at deploy scale;
    per-task state is bounded by bucket size, and a hot user still
    bounds the worst single task exactly as before.
    """
    import pandas as pd

    n_buckets = 64

    # The two sides are SEPARATE reads, not two filters of one DataFrame,
    # on purpose: a cogroup's sides must be attribute-disjoint. With
    # shared lineage both sides carry the SAME user_id/ts expression IDs,
    # and any downstream plan that discards the output columns
    # (``df.count()``) lets column pruning resolve the duplicated IDs
    # against the left side only — the right cogroup child silently loses
    # ``ts`` and the Python worker KeyErrors. ``collect()`` masked it;
    # tests/test_count_smoke.py now default-denies the whole class.
    p = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
        .withColumn("bucket", F.pmod("user_id", F.lit(n_buckets)))
    )
    v = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "view")
        .select("user_id", "ts")
        .withColumn("bucket", F.pmod("user_id", F.lit(n_buckets)))
    )

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not len(left):
            return pd.DataFrame(
                {
                    "purchase_id": pd.Series(dtype="int64"),
                    "user_id": pd.Series(dtype="int64"),
                    "purchase_ts": pd.Series(dtype="datetime64[ns]"),
                    "last_view_ts": pd.Series(dtype="datetime64[ns]"),
                }
            )
        # merge_asof(by=...) wants both sides sorted by the ON key only;
        # it aligns every user in the bucket in one pass. Stable sort so
        # equal timestamps keep a deterministic order (ties are resolved
        # by the backward-inclusive rule either way).
        left = left.sort_values("ts", kind="mergesort")
        if len(right):
            r = (
                right.sort_values("ts", kind="mergesort")[["user_id", "ts"]]
                .assign(view_ts=lambda d: d["ts"])
            )
            m = pd.merge_asof(
                left, r, on="ts", by="user_id", direction="backward"
            )
            view_ts = m["view_ts"]
        else:
            view_ts = pd.Series([pd.NaT] * len(left), dtype="datetime64[ns]")
        # Timestamps stay timestamps here — the oracle's strftime render
        # happens JVM-side below (date_format), not per-row in Python.
        return pd.DataFrame(
            {
                "purchase_id": left["event_id"].to_numpy(),
                "user_id": left["user_id"].to_numpy(),
                "purchase_ts": left["ts"].to_numpy(),
                "last_view_ts": view_ts.to_numpy(),
            }
        )

    merged = (
        p.groupBy("bucket")
        .cogroup(v.groupBy("bucket"))
        .applyInPandas(
            merge,
            "purchase_id long, user_id long, "
            "purchase_ts timestamp_ntz, last_view_ts timestamp_ntz",
        )
    )
    return merged.select(
        "purchase_id",
        "user_id",
        F.date_format("purchase_ts", _TS_FMT_SPARK).alias("purchase_ts"),
        F.date_format("last_view_ts", _TS_FMT_SPARK).alias("last_view_ts"),
    )


# ---------------------------------------------------------------------------
# Revenue concentration — Herfindahl index per nation.
# ---------------------------------------------------------------------------

_HHI_Q = 100000000

_HHI_ORACLE = f"""
WITH rev AS (
  SELECT s.s_nationkey AS nation_key,
         l.l_suppkey AS supp,
         sum(cast(l.l_extendedprice AS DECIMAL(18,2))) AS r
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
), tot AS (
  SELECT nation_key, sum(r) AS t, count(*) AS n_suppliers FROM rev GROUP BY 1
), q AS (
  SELECT rev.nation_key, tot.n_suppliers,
         cast(floor(power(rev.r / cast(tot.t AS DOUBLE), 2) * {_HHI_Q} + 0.5) AS BIGINT) AS sq
  FROM rev JOIN tot USING (nation_key)
)
SELECT n.n_name AS nation, any_value(q.n_suppliers) AS n_suppliers,
       round(sum(q.sq) / {_HHI_Q}.0, 6) AS hhi
FROM q JOIN nation n ON n.n_nationkey = q.nation_key
GROUP BY n.n_name
"""


@register("supplier_revenue_hhi", oracle=_HHI_ORACLE, tags=("agg", "join"))
def supplier_revenue_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier revenue concentration per nation as the Herfindahl–
    Hirschman index (Σ share² — 1/n for perfect competition, 1.0 for a
    monopoly): the market-structure audit shape, and in a data pipeline
    the "is one supplier/source dominating this partition" skew signal
    with an economics pedigree. Shares derive from EXACT decimal revenue
    sums; each share² quantizes to a 1e-8 integer before the cross-row
    sum (the surprisal recipe) so the index is engine-exact.

    One fact-side aggregate (supplier dim broadcast), a nation-sized
    totals frame joined back, and a nation-count-sized result.
    """
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nation_key"), F.col("l_suppkey").alias("supp"))
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("r"))
    )
    tot = rev.groupBy("nation_key").agg(
        F.sum("r").alias("t"), F.count(F.lit(1)).alias("n_suppliers")
    )
    q = rev.join(F.broadcast(tot), "nation_key").select(
        "nation_key",
        "n_suppliers",
        F.floor(
            F.pow(F.col("r").cast("double") / F.col("t").cast("double"), 2) * _HHI_Q + 0.5
        )
        .cast("bigint")
        .alias("sq"),
    )
    return (
        q.join(F.broadcast(n), q.nation_key == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.any_value("n_suppliers").alias("n_suppliers"),
            F.round(F.sum("sq") / float(_HHI_Q), 6).alias("hhi"),
        )
    )


# ---------------------------------------------------------------------------
# Percent-of-parent — nested revenue shares (nation→region→total).
# ---------------------------------------------------------------------------


@register(
    "revenue_share_of_parent",
    oracle="""
    WITH nat AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             sum(cast(o.o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    ), reg AS (
      SELECT region, sum(rev) AS reg_rev FROM nat GROUP BY 1
    ), tot AS (SELECT sum(reg_rev) AS t FROM reg)
    SELECT nat.region, nat.nation,
           cast(nat.rev AS DOUBLE) AS revenue,
           cast(round(nat.rev / reg.reg_rev, 6) AS DOUBLE) AS share_of_region,
           cast(round(reg.reg_rev / tot.t, 6) AS DOUBLE) AS region_share_of_total
    FROM nat JOIN reg USING (region), tot
    """,
    tags=("agg", "join"),
)
def revenue_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent at two levels in one result: each nation's share
    of its region's revenue AND each region's share of the total — the
    BI drill-down shape (treemaps, contribution analyses) that plain
    ROLLUP subtotals don't directly give. All revenue is exact DECIMAL;
    the two ratios are decimal/decimal divisions rounded identically, so
    the shares are engine-exact without quantization games.

    One fact aggregate (dims broadcast), then a region-sized and a 1-row
    frame joined back — no second pass over orders.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    nat = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    reg = nat.groupBy("region").agg(F.sum("rev").alias("reg_rev"))
    tot = reg.agg(F.sum("reg_rev").alias("t"))
    return (
        nat.join(F.broadcast(reg), "region")
        .crossJoin(F.broadcast(tot))
        .select(
            "region",
            "nation",
            F.col("rev").cast("double").alias("revenue"),
            # cast AFTER the decimal round: decimal scale-6 stringifies
            # with trailing zeros ('0.122410') while doubles don't
            F.round(F.col("rev") / F.col("reg_rev"), 6).cast("double").alias("share_of_region"),
            F.round(F.col("reg_rev") / F.col("t"), 6).cast("double").alias("region_share_of_total"),
        )
    )


# ---------------------------------------------------------------------------
# Revenue cohorts — first-order month × months-since revenue matrix.
# ---------------------------------------------------------------------------


@register(
    "orders_cohort_revenue",
    oracle="""
    WITH first_order AS (
      SELECT o_custkey, min(date_trunc('month', o_orderdate)) AS cohort
      FROM orders GROUP BY o_custkey
    ), placed AS (
      SELECT f.cohort,
             (extract(year FROM date_trunc('month', o.o_orderdate)) - extract(year FROM f.cohort)) * 12
               + (extract(month FROM date_trunc('month', o.o_orderdate)) - extract(month FROM f.cohort))
               AS months_since,
             cast(o.o_totalprice AS DECIMAL(18,2)) AS rev
      FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
    )
    SELECT strftime(cohort, '%Y-%m') AS cohort_month,
           cast(months_since AS INTEGER) AS months_since,
           cast(count(*) AS BIGINT) AS n_orders,
           cast(sum(rev) AS DOUBLE) AS revenue
    FROM placed GROUP BY cohort, months_since
    """,
    tags=("agg", "join", "window"),
)
def orders_cohort_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue cohort matrix: customers grouped by FIRST-order month,
    revenue tracked by months-since-acquisition — the LTV-curve input
    (read along a row for a cohort's lifetime value, down a column for
    acquisition-quality drift). Month arithmetic is integer
    year/month components — no day-diff division, engine-exact; revenue
    sums in DECIMAL.

    Two aggregates sharing the customer key: first-order month per
    customer (map-side combined), broadcast back onto orders, then the
    (cohort, months_since)-keyed rollup — calendar² sized output.
    """
    o = load(spark, sf_dir, "orders")
    first = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    placed = o.join(first, "o_custkey").select(
        "cohort",
        (
            (F.year(F.date_trunc("month", "o_orderdate")) - F.year("cohort")) * 12
            + (F.month(F.date_trunc("month", "o_orderdate")) - F.month("cohort"))
        ).alias("months_since"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("rev"),
    )
    return placed.groupBy(
        F.date_format("cohort", "yyyy-MM").alias("cohort_month"),
        F.col("months_since").cast("int").alias("months_since"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("rev").cast("double").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Repeat-purchase profile — retention economics per nation.
# ---------------------------------------------------------------------------


@register(
    "customer_repeat_profile",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_nationkey, o.o_custkey, count(*) AS n_orders
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    )
    SELECT n.n_name AS nation,
           cast(count(*) AS BIGINT) AS n_buyers,
           cast(count(CASE WHEN p.n_orders >= 2 THEN 1 END) AS BIGINT) AS n_repeat,
           round(count(CASE WHEN p.n_orders >= 2 THEN 1 END) / cast(count(*) AS DOUBLE), 4)
             AS repeat_rate,
           round(sum(p.n_orders) / cast(count(*) AS DOUBLE), 4) AS orders_per_buyer
    FROM per_cust p JOIN nation n ON n.n_nationkey = p.c_nationkey
    GROUP BY n.n_name
    """,
    tags=("agg", "join"),
)
def customer_repeat_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase economics per nation: how many buyers come back
    (≥2 orders) and the mean order frequency — the unit-economics split
    (acquisition vs retention revenue) every commerce dashboard leads
    with. Integer counts and count ratios only — engine-exact without
    quantization.

    One fact aggregate keyed on (nation, customer) with the customer
    dim broadcast, then a nation-sized rollup.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    repeat = F.count(F.when(F.col("n_orders") >= 2, 1))
    return (
        per_cust.join(F.broadcast(n), per_cust.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_buyers"),
            repeat.alias("n_repeat"),
            F.round(repeat / F.count(F.lit(1)).cast("double"), 4).alias("repeat_rate"),
            F.round(F.sum("n_orders") / F.count(F.lit(1)).cast("double"), 4).alias(
                "orders_per_buyer"
            ),
        )
    )


# ---------------------------------------------------------------------------
# MAD anomalies — the robust twin of the z-score outlier gate.
# ---------------------------------------------------------------------------

MAD_K = 0.6745  # Gaussian consistency constant (Iglewicz–Hoaglin)
MAD_CUT = 3.5  # modified-z threshold from the same reference

_MAD_ORACLE = f"""
WITH daily AS (
  SELECT event_type, cast(ts AS DATE) AS day, count(*) AS n
  FROM events GROUP BY 1, 2
), med AS (
  SELECT event_type, quantile_cont(n, 0.5) AS med FROM daily GROUP BY 1
), mad AS (
  SELECT d.event_type, quantile_cont(abs(d.n - m.med), 0.5) AS mad
  FROM daily d JOIN med m USING (event_type) GROUP BY 1
)
SELECT event_type, day, n_events, robust_z, is_anomaly
FROM (
  SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day,
         cast(d.n AS BIGINT) AS n_events,
         round({MAD_K} * (d.n - m.med) / NULLIF(a.mad, 0), 4) AS robust_z,
         CASE WHEN abs({MAD_K} * (d.n - m.med) / NULLIF(a.mad, 0)) > {MAD_CUT}
              THEN 1 ELSE 0 END AS is_anomaly,
         row_number() OVER (
           ORDER BY abs({MAD_K} * (d.n - m.med) / NULLIF(a.mad, 0)) DESC NULLS LAST,
                    d.event_type, d.day
         ) AS rnk
  FROM daily d JOIN med m USING (event_type) JOIN mad a USING (event_type)
)
WHERE rnk <= 10
"""


@register("events_daily_anomaly_mad", oracle=_MAD_ORACLE, tags=("events", "timeseries", "quality"))
def events_daily_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomalous traffic days per event type by MODIFIED z-score —
    0.6745·(n − median)/MAD with the 3.5 cut (Iglewicz–Hoaglin) — the
    robust twin of ``events_value_outliers``: mean/stddev get dragged by
    the very anomalies being hunted (one 10× ingest spike inflates σ
    enough to hide a 3× one), while median/MAD have a 50% breakdown
    point, which is why monitoring pipelines standardize on MAD.

    Exactness: daily counts are integers; both medians interpolate
    identically (percentile_cont); MAD-zero types yield NULL scores
    (NULLIF both sides) and drop out of the cut rather than aborting.
    Shuffle shape: one daily aggregate of events, then every join runs
    on the (types × days)-bounded frame with type-keyed broadcasts.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    med = daily.groupBy("event_type").agg(
        F.percentile("n", F.lit(0.5)).alias("med")
    )
    mad = (
        daily.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.percentile(F.abs(F.col("n") - F.col("med")), F.lit(0.5)).alias("mad"))
    )
    rz = MAD_K * (F.col("n") - F.col("med")) / F.nullif(F.col("mad"), F.lit(0.0))
    # top-10 by |modified z| with the 3.5 cut as a FLAG: thresholded-only
    # output is empty on calm corpora (sf0.01 has no >3.5σ* day), and an
    # always-empty entry is a trivially-green oracle; ranking keeps the
    # screen non-degenerate while the flag preserves the decision rule.
    w = Window.orderBy(F.abs(rz).desc_nulls_last(), "event_type", "day")
    return (
        daily.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 10)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n").cast("bigint").alias("n_events"),
            F.round(rz, 4).alias("robust_z"),
            F.when(F.abs(rz) > MAD_CUT, 1).otherwise(0).alias("is_anomaly"),
        )
    )


# ---------------------------------------------------------------------------
# Kaplan–Meier reorder survival — time-to-next-order with censoring.
# ---------------------------------------------------------------------------

_KM_ORACLE = """
WITH seq AS (
  SELECT o_custkey, o_orderdate,
         lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
           AS next_date
  FROM orders
), anchor AS (
  SELECT max(o_orderdate) AS a FROM orders
), obs AS (
  SELECT CASE WHEN next_date IS NULL THEN datediff('day', o_orderdate, (SELECT a FROM anchor))
              ELSE datediff('day', o_orderdate, next_date) END AS dur,
         CASE WHEN next_date IS NULL THEN 0 ELSE 1 END AS ev
  FROM seq
), per_t AS (
  SELECT dur AS t, sum(ev) AS d, count(*) AS m FROM obs GROUP BY dur
), risk AS (
  SELECT t, d, m,
         sum(m) OVER (ORDER BY t DESC) AS n_at_risk
  FROM per_t
), terms AS (
  SELECT t, d, n_at_risk,
         CASE WHEN d < n_at_risk
              THEN CAST(floor(ln(1 - d / CAST(n_at_risk AS DOUBLE)) * 100000000 + 0.5) AS BIGINT)
              ELSE 0 END AS q,
         CASE WHEN d >= n_at_risk THEN 1 ELSE 0 END AS dies
  FROM risk
), curve AS (
  SELECT t, d, n_at_risk,
         sum(q) OVER (ORDER BY t) AS qsum,
         max(dies) OVER (ORDER BY t) AS dead
  FROM terms
)
SELECT CAST(t AS BIGINT) AS t_days,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       CAST(d AS BIGINT) AS n_events,
       round(CASE WHEN dead = 1 THEN 0.0 ELSE exp(qsum / 100000000.0) END, 4) AS survival
FROM curve WHERE d > 0 ORDER BY t
"""


@register("customer_reorder_survival", oracle=_KM_ORACLE, tags=("orders", "survival", "window"))
def customer_reorder_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve of time-to-next-order (Kaplan & Meier
    1958): each consecutive-order gap is an observed reorder event, each
    customer's tail (last order → corpus end) is right-CENSORED — the
    estimator every churn/LTV model needs, because naive mean-gap stats
    silently drop the censored tails and understate retention. Output:
    at every gap length with ≥1 reorder, the at-risk count, event count,
    and S(t) = Π(1 − d_i/n_i) — "probability a customer goes ≥ t days
    before reordering".

    Engine determinism: d and n are integers; each KM factor enters as
    ln(1 − d/n) quantized to 1e-8 INTEGER units and the running product
    is exp of the integer cumsum (the surprisal recipe applied to a
    cumulative product) — bit-identical on both engines, including the
    terminal d = n point where S hits exactly 0 (flagged, not ln(0)).

    Scale: one lead() window per customer (orders already shuffle on
    o_custkey for every per-customer analytic — shared partitioning),
    then all remaining frames are |distinct gap|-sized — calendar-
    bounded, broadcast-scale. The descending-cumsum at-risk trick turns
    "count obs with dur ≥ t" into one window over that tiny frame
    instead of a range self-join.
    """
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey", "o_orderdate", F.lead("o_orderdate").over(w).alias("next_date")
    )
    anchor = o.agg(F.max("o_orderdate").alias("a"))
    obs = seq.crossJoin(F.broadcast(anchor)).select(
        F.when(
            F.col("next_date").isNull(), F.datediff("a", "o_orderdate")
        )
        .otherwise(F.datediff("next_date", "o_orderdate"))
        .alias("dur"),
        F.when(F.col("next_date").isNull(), 0).otherwise(1).alias("ev"),
    )
    per_t = obs.groupBy(F.col("dur").alias("t")).agg(
        F.sum("ev").alias("d"), F.count(F.lit(1)).alias("m")
    )
    risk = per_t.withColumn(
        "n_at_risk",
        F.sum("m").over(
            Window.orderBy(F.col("t").desc()).rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    q = F.when(
        F.col("d") < F.col("n_at_risk"),
        F.floor(
            F.ln(1 - F.col("d") / F.col("n_at_risk").cast("double")) * 100000000 + 0.5
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    terms = risk.select(
        "t",
        "d",
        "n_at_risk",
        q.alias("q"),
        F.when(F.col("d") >= F.col("n_at_risk"), 1).otherwise(0).alias("dies"),
    )
    wt = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    curve = terms.select(
        "t",
        "d",
        "n_at_risk",
        F.sum("q").over(wt).alias("qsum"),
        F.max("dies").over(wt).alias("dead"),
    )
    return (
        curve.where(F.col("d") > 0)
        .select(
            F.col("t").cast("bigint").alias("t_days"),
            F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
            F.col("d").cast("bigint").alias("n_events"),
            F.round(
                F.when(F.col("dead") == 1, F.lit(0.0)).otherwise(
                    F.exp(F.col("qsum") / 100000000.0)
                ),
                4,
            ).alias("survival"),
        )
        .orderBy("t_days")
    )


# ---------------------------------------------------------------------------
# Skyline (Pareto front) — non-dominated parts on (price ↓, size ↑).
# ---------------------------------------------------------------------------

_SKYLINE_ORACLE = """
WITH g AS (
  SELECT p_retailprice AS price, max(p_size) AS gmax
  FROM part GROUP BY p_retailprice
), cm AS (
  SELECT price, gmax,
         max(gmax) OVER (ORDER BY price ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_cummax
  FROM g
)
SELECT p.p_partkey, p.p_name, p.p_retailprice, CAST(p.p_size AS INT) AS p_size
FROM part p JOIN cm ON cm.price = p.p_retailprice
WHERE NOT (coalesce(cm.prev_cummax >= p.p_size, FALSE) OR cm.gmax > p.p_size)
ORDER BY p.p_retailprice, p.p_partkey
"""


@register("part_price_size_skyline", oracle=_SKYLINE_ORACLE, tags=("part", "skyline"))
def part_price_size_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-front query (Börzsönyi et al. 2001): the parts
    not dominated on (retail price ↓ better, size ↑ better) — another
    part is never both cheaper-or-equal AND bigger-or-equal with one
    strict. The multi-objective shortlist shape ("best tradeoffs, no
    scalarized weights") that product search, supplier choice, and
    config tuning all ask for, and that plain ORDER BY cannot express.

    2-D skyline in closed form, no pairwise join: collapse to one row
    per distinct price (max size), take the running max of size over
    strictly-cheaper prices (ROWS .. 1 PRECEDING on the per-price frame
    — "strictly cheaper" without a range predicate), then a row is
    dominated iff a cheaper row reaches its size, or a same-price row
    strictly exceeds it. Ties on BOTH axes are mutually non-dominating
    and both survive (pinned in pytest). All comparisons are on exact
    input values — no derived floats.

    Scale: the window runs over the DISTINCT-price frame. If the price
    domain is data-sized at 100 TB, the running max is the prefix-
    aggregation shape of functions/ranks.py (repartitionByRange +
    per-partition max + P-row broadcast offsets) — same swap as the
    ranged rank twins; the join back is a broadcast when the skyline
    frame fits, shuffle-on-price otherwise.
    """
    p = load(spark, sf_dir, "part")
    g = p.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.max("p_size").alias("gmax")
    )
    cm = g.withColumn(
        "prev_cummax",
        F.max("gmax").over(
            Window.orderBy("price").rowsBetween(Window.unboundedPreceding, -1)
        ),
    )
    joined = p.join(cm, p["p_retailprice"] == cm["price"])
    dominated = (
        F.coalesce(F.col("prev_cummax") >= F.col("p_size"), F.lit(False))
        | (F.col("gmax") > F.col("p_size"))
    )
    return (
        joined.where(~dominated)
        .select("p_partkey", "p_name", "p_retailprice", F.col("p_size").cast("int"))
        .orderBy("p_retailprice", "p_partkey")
    )


# ---------------------------------------------------------------------------
# Classical seasonal decomposition — monthly revenue = trend + seasonal + resid.
# ---------------------------------------------------------------------------

_DECOMP_ORACLE = """
WITH m AS (
  SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS idx,
         strftime(date_trunc('month', o_orderdate), '%Y-%m') AS ym,
         month(o_orderdate) AS moy,
         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2, 3
), w AS (
  SELECT idx, ym, moy, c,
         sum(c)   OVER win13 AS s13,
         count(*) OVER win13 AS k13,
         max(idx) OVER win13 - min(idx) OVER win13 AS spread,
         lag(c, 6)  OVER (ORDER BY idx) AS cm6,
         lead(c, 6) OVER (ORDER BY idx) AS cp6
  FROM m
  WINDOW win13 AS (ORDER BY idx ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)
), t AS (
  SELECT idx, ym, moy, c,
         CASE WHEN k13 = 13 AND spread = 12 THEN 2 * s13 - cm6 - cp6 END AS w24
  FROM w
), season AS (
  SELECT moy,
         CAST(floor(sum(24 * c - w24) / (count(*) * 2400.0) * 100000000 + 0.5) AS BIGINT) AS sq
  FROM t WHERE w24 IS NOT NULL GROUP BY moy
), adj AS (
  SELECT sum(sq) / CAST(count(*) AS DOUBLE) AS a FROM season
)
SELECT t.ym AS month,
       round(t.c / 100.0, 2) AS revenue,
       round(t.w24 / 2400.0, 4) AS trend,
       round((s.sq - adj.a) / 100000000.0, 4) AS seasonal,
       round(t.c / 100.0 - t.w24 / 2400.0 - (s.sq - adj.a) / 100000000.0, 4) AS residual
FROM t JOIN season s ON s.moy = t.moy CROSS JOIN adj
ORDER BY t.idx
"""


@register("orders_seasonal_decomposition", oracle=_DECOMP_ORACLE, tags=("orders", "timeseries"))
def orders_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of monthly order revenue
    (the moving-average method behind every "decompose()" call):
    trend = centered 13-point MA with half-weight ends (the even-period
    estimator for 12-month seasonality), seasonal = mean detrended
    deviation per month-of-year re-centered to sum ~0, residual = the
    rest. Edge months (< 6 neighbors each side) carry NULL trend — and a
    contiguity check (index spread = 12 across the window) refuses to
    average across a gap in the month series rather than smearing it.

    Everything is integer-exact until the final rounds: revenue in
    cents (decimal→BIGINT), the weighted MA as W = 2·Σ₁₃ − c₋₆ − c₊₆
    (integer, units of 1/24 cent), detrended deviations summed as
    integers per month-of-year, and the re-centering mean taken over
    1e-8-quantized seasonal values — no float addition whose order an
    engine could choose.

    Scale: one monthly aggregate from the scan (map-side combined,
    calendar-bounded output); every window runs ROWS-framed over the
    |months| frame. The month-of-year join is a 12-row broadcast.
    """
    o = load(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("idx"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("ym"),
        F.month("o_orderdate").alias("moy"),
    ).agg(
        F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint"))
        .cast("bigint")
        .alias("c")
    )
    win13 = Window.orderBy("idx").rowsBetween(-6, 6)
    wseq = Window.orderBy("idx")
    w = m.select(
        "idx",
        "ym",
        "moy",
        "c",
        F.sum("c").over(win13).alias("s13"),
        F.count(F.lit(1)).over(win13).alias("k13"),
        (F.max("idx").over(win13) - F.min("idx").over(win13)).alias("spread"),
        F.lag("c", 6).over(wseq).alias("cm6"),
        F.lead("c", 6).over(wseq).alias("cp6"),
    )
    t = w.select(
        "idx",
        "ym",
        "moy",
        "c",
        F.when(
            (F.col("k13") == 13) & (F.col("spread") == 12),
            2 * F.col("s13") - F.col("cm6") - F.col("cp6"),
        ).alias("w24"),
    )
    season = (
        t.where(F.col("w24").isNotNull())
        .groupBy("moy")
        .agg(
            F.floor(
                F.sum(24 * F.col("c") - F.col("w24"))
                / (F.count(F.lit(1)) * 2400.0)
                * 100000000
                + 0.5
            )
            .cast("bigint")
            .alias("sq")
        )
    )
    adj = season.agg((F.sum("sq") / F.count(F.lit(1)).cast("double")).alias("a"))
    return (
        t.join(F.broadcast(season), "moy")
        .crossJoin(F.broadcast(adj))
        .select(
            F.col("ym").alias("month"),
            F.round(F.col("c") / 100.0, 2).alias("revenue"),
            F.round(F.col("w24") / 2400.0, 4).alias("trend"),
            F.round((F.col("sq") - F.col("a")) / 100000000.0, 4).alias("seasonal"),
            F.round(
                F.col("c") / 100.0
                - F.col("w24") / 2400.0
                - (F.col("sq") - F.col("a")) / 100000000.0,
                4,
            ).alias("residual"),
            "idx",
        )
        .orderBy("idx")
        .drop("idx")
    )


# ---------------------------------------------------------------------------
# One-way ANOVA — does line price differ across return flags?
# ---------------------------------------------------------------------------

_ANOVA_ORACLE = """
WITH x AS (
  SELECT l_returnflag AS grp,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
  FROM lineitem
), g AS (
  SELECT grp, count(*) AS n, CAST(sum(c) AS DECIMAL(38,0)) AS s,
         sum(CAST(c AS DECIMAL(38,0)) * c) AS ss
  FROM x GROUP BY grp
), t AS (
  SELECT CAST(sum(n) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
         CAST(sum(s) AS DOUBLE) AS s_all,
         CAST(sum(ss) AS DOUBLE) AS ss_all,
         list_reduce(
           list_transform(list_sort(list(struct_pack(grp := grp,
                           t := CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n))),
                          e -> e.t),
           (a, b) -> a + b
         ) AS sum_s2n
  FROM g
)
SELECT n AS n_rows, k AS n_groups,
       round((sum_s2n - s_all * s_all / n) / (k - 1)
             / ((ss_all - sum_s2n) / (n - k)), 4) AS f_stat,
       round((sum_s2n - s_all * s_all / n)
             / (ss_all - s_all * s_all / n), 6) AS eta_squared
FROM t WHERE n > k AND k > 1
"""


@register("lineitem_price_anova", oracle=_ANOVA_ORACLE, tags=("lineitem", "stats"))
def lineitem_price_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of line price across return flags: F = (SSB/(k−1)) /
    (SSW/(n−k)) plus effect size η² = SSB/SST — the continuous-outcome
    member of the statistical-testing family beside the χ² drift test
    (corpus_lang_source_chi2). The pairing matters at this row count:
    everything is "significant" at 600k lines, only η² says whether
    returned lines actually price differently.

    Numeric discipline: per-group Σx and Σx² in DECIMAL(38,0) cents
    (Σx² overflows BIGINT at sf ≥ 0.1; decimal sums are exact and
    order-free). The only float additions — the k per-group (Σx)²/n
    terms — run as a SEQUENTIAL fold over the grp-sorted group frame
    (Spark F.aggregate ≡ DuckDB list_reduce, the EWMA-fold recipe), so
    even their 1-ulp association is engine-identical and the 1-row
    output hash-matches without any quantization of 1e26-scale terms.
    Degenerate inputs (k ≤ 1, n ≤ k) drop the row rather than abort.
    """
    x = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("c"),
    )
    g = x.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("ss"),
    ).select(
        "grp",
        "n",
        "s",
        "ss",
        (F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")).alias("t"),
    )
    tot = g.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("s").cast("double").alias("s_all"),
        F.sum("ss").cast("double").alias("ss_all"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("grp", "t"))),
            F.lit(0.0),
            lambda a, e: a + e["t"],
        ).alias("sum_s2n"),
    )
    ssb = F.col("sum_s2n") - F.col("s_all") * F.col("s_all") / F.col("n")
    ssw = F.col("ss_all") - F.col("sum_s2n")
    sst = F.col("ss_all") - F.col("s_all") * F.col("s_all") / F.col("n")
    return (
        tot.where((F.col("n") > F.col("k")) & (F.col("k") > 1))
        .select(
            F.col("n").alias("n_rows"),
            F.col("k").alias("n_groups"),
            F.round(ssb / (F.col("k") - 1) / (ssw / (F.col("n") - F.col("k"))), 4).alias(
                "f_stat"
            ),
            F.round(ssb / sst, 6).alias("eta_squared"),
        )
    )


# ---------------------------------------------------------------------------
# Kolmogorov–Smirnov fit test — is ship latency exponential?
# ---------------------------------------------------------------------------

_KS_ORACLE = """
WITH lat AS (
  SELECT datediff('day', o.o_orderdate, l.l_shipdate) AS x
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE l.l_shipdate >= o.o_orderdate
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx FROM lat
), per_x AS (
  SELECT x, count(*) AS c FROM lat GROUP BY x
), cum AS (
  SELECT x, c,
         sum(c) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
  FROM per_x
), dev AS (
  SELECT greatest(
           abs(cum.cumc / CAST(s.n AS DOUBLE) - (1 - exp(-(cum.x * s.n / CAST(s.sx AS DOUBLE))))),
           abs((cum.cumc - cum.c) / CAST(s.n AS DOUBLE)
               - (1 - exp(-(cum.x * s.n / CAST(s.sx AS DOUBLE)))))
         ) AS d,
         s.n AS n, s.sx AS sx
  FROM cum CROSS JOIN s
)
SELECT CAST(n AS BIGINT) AS n_lines,
       round(sx / CAST(n AS DOUBLE), 4) AS mean_days,
       round(max(d), 6) AS ks_stat,
       CAST(CASE WHEN max(d) > 1.358 / sqrt(n) THEN 1 ELSE 0 END AS INT) AS reject_exp_5pct
FROM dev GROUP BY n, sx
"""


@register("orders_ship_latency_ks", oracle=_KS_ORACLE, tags=("orders", "stats", "fit"))
def orders_ship_latency_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov–Smirnov goodness-of-fit: does order→ship latency follow
    the exponential distribution an M/M/-style fulfillment model
    assumes? D = sup|F_emp − F_exp(λ=1/mean)|, with the both-sides
    (pre/post step) deviation at every distinct latency — the tie-aware
    form integer day counts require — and the asymptotic 5% critical
    value 1.358/√n as the reject flag. The distribution-FIT member of
    the testing family (χ²: categorical; ANOVA: group means; KS:
    whole-shape), and the principled upgrade over eyeballing quantiles
    when choosing simulation/SLA models.

    Stated approximation: 1.358/√n is the critical value for a FULLY
    SPECIFIED null; here λ is estimated from the same sample, which
    shrinks D under H₀ and makes the flag CONSERVATIVE (the Lilliefors
    situation — his exponential-case 5% value is ≈1.08/√n, smaller).
    The D statistic itself is exact either way; a raised flag is
    therefore a safe rejection ("exceeds even the stricter classical
    bound"), while an unraised flag does not certify exponentiality.

    Exactness: counts and the latency sum are integers; λx = x·n/Σx,
    F_exp, and each deviation are identical doubles from identical
    integers; the max over the |distinct latencies| frame (calendar-
    bounded) compares identical doubles. The only data-sized steps are
    the fact join (orderkey-partitioned — the same co-location story as
    every lineitem⋈orders plan here) and one per-value count.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    lat = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .where(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(F.datediff("l_shipdate", "o_orderdate").alias("x"))
    )
    s = lat.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
    )
    per_x = lat.groupBy("x").agg(F.count(F.lit(1)).alias("c"))
    cum = per_x.withColumn(
        "cumc",
        F.sum("c").over(Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)),
    )
    f_exp = 1 - F.exp(-(F.col("x") * F.col("n") / F.col("sx").cast("double")))
    dev = cum.crossJoin(F.broadcast(s)).select(
        "n",
        "sx",
        F.greatest(
            F.abs(F.col("cumc") / F.col("n").cast("double") - f_exp),
            F.abs((F.col("cumc") - F.col("c")) / F.col("n").cast("double") - f_exp),
        ).alias("d"),
    )
    return dev.groupBy("n", "sx").agg(
        F.round(F.max("d"), 6).alias("ks_stat"),
        F.when(F.max("d") > 1.358 / F.sqrt(F.col("n")), 1)
        .otherwise(0)
        .cast("int")
        .alias("reject_exp_5pct"),
    ).select(
        F.col("n").alias("n_lines"),
        F.round(F.col("sx") / F.col("n").cast("double"), 4).alias("mean_days"),
        "ks_stat",
        "reject_exp_5pct",
    )


# ---------------------------------------------------------------------------
# Mann–Whitney U — do returned lines price differently? (rank-based)
# ---------------------------------------------------------------------------

_MWU_ORACLE = """
WITH x AS (
  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS g1
  FROM lineitem WHERE l_returnflag IN ('R', 'N')
), per_v AS (
  SELECT v, count(*) AS t, sum(g1) AS t1 FROM x GROUP BY v
), ranked AS (
  SELECT v, t, t1,
         sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM per_v
), agg AS (
  SELECT CAST(sum(t1) AS BIGINT) AS n1, CAST(sum(t - t1) AS BIGINT) AS n2,
         CAST(sum(t1 * (2 * (cum - t + 1) + (t - 1))) AS BIGINT) AS r1x2,
         CAST(sum(CAST(t AS BIGINT) * t * t - t) AS BIGINT) AS tie3
  FROM ranked
)
SELECT n1, n2,
       round((r1x2 - n1 * (n1 + 1)) / 2.0 - 0.0, 4) AS u_stat,
       round(((r1x2 - n1 * (n1 + 1)) / 2.0 - n1 * n2 / 2.0)
             / sqrt(n1 * CAST(n2 AS DOUBLE) / 12.0
                    * ((n1 + n2 + 1) - tie3 / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))),
             4) AS z_stat,
       CAST(CASE WHEN abs(((r1x2 - n1 * (n1 + 1)) / 2.0 - n1 * n2 / 2.0)
                      / sqrt(n1 * CAST(n2 AS DOUBLE) / 12.0
                             * ((n1 + n2 + 1) - tie3 / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))))
                  > 1.96
            THEN 1 ELSE 0 END AS INT) AS reject_5pct
FROM agg WHERE n1 > 0 AND n2 > 0
"""


@register("lineitem_price_mannwhitney", oracle=_MWU_ORACLE, tags=("lineitem", "stats"))
def lineitem_price_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U: do RETURNED lines (flag R) stochastically dominate
    non-returned (N) on price? The rank-based two-sample test that needs
    no normality assumption — the nonparametric seat in the testing
    family (ANOVA compares means under normality; U compares whole rank
    distributions). Tie-aware midranks via the distinct-value frame:
    rank sums accumulate in 2× INTEGER units (midrank·2 = 2·start+(t−1)
    is always integral) and the tie term Σ(t³−t) corrects the variance,
    so everything before the final sqrt is exact integer arithmetic.

    Scale: one distinct-cents aggregate (map-side combined), the
    ranking cumsum over the |distinct prices| frame, a 1-row result.
    The guards (either group empty) drop the row rather than abort.
    """
    x = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag").isin("R", "N"))
        .select(
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("v"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("g1"),
        )
    )
    per_v = x.groupBy("v").agg(F.count(F.lit(1)).alias("t"), F.sum("g1").alias("t1"))
    ranked = per_v.withColumn(
        "cum",
        F.sum("t").over(Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)),
    )
    agg = ranked.agg(
        F.sum("t1").cast("bigint").alias("n1"),
        F.sum(F.col("t") - F.col("t1")).cast("bigint").alias("n2"),
        F.sum(F.col("t1") * (2 * (F.col("cum") - F.col("t") + 1) + (F.col("t") - 1)))
        .cast("bigint")
        .alias("r1x2"),
        F.sum(F.col("t").cast("bigint") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tie3"),
    )
    u = (F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)) / 2.0
    mu = F.col("n1") * F.col("n2") / 2.0
    n = F.col("n1") + F.col("n2")
    var = (
        F.col("n1") * F.col("n2").cast("double") / 12.0
        * ((n + 1) - F.col("tie3") / (n.cast("double") * (n - 1)))
    )
    z = (u - mu) / F.sqrt(var)
    return (
        agg.where((F.col("n1") > 0) & (F.col("n2") > 0))
        .select(
            "n1",
            "n2",
            F.round(u, 4).alias("u_stat"),
            F.round(z, 4).alias("z_stat"),
            F.when(F.abs(z) > 1.96, 1).otherwise(0).cast("int").alias("reject_5pct"),
        )
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation — monotone association, tie-aware, exact.
# ---------------------------------------------------------------------------

_SPEARMAN_ORACLE = """
WITH x AS (
  SELECT CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS xv,
         CAST(l_quantity AS BIGINT) AS yv
  FROM lineitem
), rx AS (
  SELECT xv, 2 * (sum(c) OVER (ORDER BY xv ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - c + 1) + (c - 1) AS r2
  FROM (SELECT xv, count(*) AS c FROM x GROUP BY xv)
), ry AS (
  SELECT yv, 2 * (sum(c) OVER (ORDER BY yv ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - c + 1) + (c - 1) AS r2
  FROM (SELECT yv, count(*) AS c FROM x GROUP BY yv)
), j AS (
  SELECT CAST(rx.r2 AS DECIMAL(38,0)) AS a, CAST(ry.r2 AS DECIMAL(38,0)) AS b
  FROM x JOIN rx ON rx.xv = x.xv JOIN ry ON ry.yv = x.yv
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(a) AS DOUBLE) AS sa, CAST(sum(b) AS DOUBLE) AS sb,
         CAST(sum(a * a) AS DOUBLE) AS saa, CAST(sum(b * b) AS DOUBLE) AS sbb,
         CAST(sum(a * b) AS DOUBLE) AS sab
  FROM j
)
SELECT n AS n_rows,
       round((n * sab - sa * sb)
             / sqrt((n * saa - sa * sa) * (n * sbb - sb * sb)), 6) AS spearman_rho
FROM s WHERE n > 1 AND (n * saa - sa * sa) > 0 AND (n * sbb - sb * sb) > 0
"""


@register("discount_quantity_spearman", oracle=_SPEARMAN_ORACLE, tags=("lineitem", "stats"))
def discount_quantity_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between discount and quantity — the
    monotone-association companion to discount_quantity_elasticity's
    linear regression (a saturating or stepped discount schedule shows
    up here even when the linear fit washes out). Tie-aware midranks in
    doubled integer units (both variables are heavily tied: ~11 discount
    levels, ~50 quantities), then Pearson's formula over the exact rank
    sums — DECIMAL(38,0) accumulators because Σr² crosses int64 near
    sf1, doubles only at the final ratio. Degenerate variance (either
    variable constant) drops the row rather than dividing by zero.

    Scale: two tiny distinct-value rank frames broadcast back onto the
    fact, one map-side-combined sum pass — no row-level window anywhere.
    """
    x = load(spark, sf_dir, "lineitem").select(
        (F.col("l_discount").cast("decimal(18,2)") * 100).cast("bigint").alias("xv"),
        F.col("l_quantity").cast("bigint").alias("yv"),
    )

    def rank2(col: str):
        per = x.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
        return per.select(
            col,
            (
                2 * (F.sum("c").over(w) - F.col("c") + 1) + (F.col("c") - 1)
            ).alias("r2"),
        )

    rx = rank2("xv").withColumnRenamed("r2", "a")
    ry = rank2("yv").withColumnRenamed("r2", "b")
    j = (
        x.join(F.broadcast(rx), "xv")
        .join(F.broadcast(ry), "yv")
        .select(
            F.col("a").cast("decimal(38,0)").alias("a"),
            F.col("b").cast("decimal(38,0)").alias("b"),
        )
    )
    s = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("a").cast("double").alias("sa"),
        F.sum("b").cast("double").alias("sb"),
        F.sum(F.col("a") * F.col("a")).cast("double").alias("saa"),
        F.sum(F.col("b") * F.col("b")).cast("double").alias("sbb"),
        F.sum(F.col("a") * F.col("b")).cast("double").alias("sab"),
    )
    vx = F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")
    vy = F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")
    num = F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")
    return (
        s.where((F.col("n") > 1) & (vx > 0) & (vy > 0))
        .select(
            F.col("n").alias("n_rows"),
            F.round(num / F.sqrt(vx * vy), 6).alias("spearman_rho"),
        )
    )


# ---------------------------------------------------------------------------
# ABC/XYZ classification — revenue concentration × demand variability.
# ---------------------------------------------------------------------------

_ABCXYZ_ORACLE = """
WITH rev AS (
  SELECT l_partkey,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY l_partkey
), tot AS (
  SELECT CAST(sum(cents) AS BIGINT) AS t FROM rev
), abc AS (
  SELECT l_partkey, cents,
         sum(cents) OVER (ORDER BY cents DESC, l_partkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM rev
), wk AS (
  SELECT l_partkey, CAST(floor(epoch(l_shipdate) / 604800) AS BIGINT) AS w,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY 1, 2
), nw AS (
  SELECT max(w) - min(w) + 1 AS n FROM wk
), xyz AS (
  SELECT l_partkey, CAST(sum(q) AS BIGINT) AS s, CAST(sum(q * q) AS BIGINT) AS ss
  FROM wk GROUP BY l_partkey
), cls AS (
  SELECT a.l_partkey, a.cents,
         CASE WHEN 20 * a.cum <= 16 * tot.t THEN 'A'
              WHEN 20 * a.cum <= 19 * tot.t THEN 'B' ELSE 'C' END AS abc,
         CASE WHEN 4 * (nw.n * x.ss - x.s * x.s) <= x.s * x.s THEN 'X'
              WHEN nw.n * x.ss - x.s * x.s <= x.s * x.s THEN 'Y' ELSE 'Z' END AS xyz
  FROM abc a JOIN xyz x ON x.l_partkey = a.l_partkey
  CROSS JOIN tot CROSS JOIN nw
)
SELECT abc, xyz,
       CAST(count(*) AS BIGINT) AS n_parts,
       round(sum(cents) / CAST((SELECT t FROM tot) AS DOUBLE), 6) AS revenue_share
FROM cls GROUP BY abc, xyz ORDER BY abc, xyz
"""


@register("part_abc_xyz_classification", oracle=_ABCXYZ_ORACLE, tags=("part", "inventory"))
def part_abc_xyz_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/XYZ inventory grid: parts classed by revenue concentration
    (A = within the top 80% of cumulative revenue, B = to 95%, C = tail)
    × weekly-demand variability (X: CV ≤ 0.5 steady, Y: CV ≤ 1, Z:
    erratic) — the planning matrix behind stocking policy (AX:
    automate; CZ: make-to-order). Zero-demand weeks COUNT in the CV
    (absence is variability), via the global week-span denominator.

    Every class boundary is a pure INTEGER comparison: the ABC cut
    cross-multiplies cumulative cents against the total (20·cum ≤ 16·T
    ⇔ share ≤ 0.8 — no division, no float near a boundary), and the CV
    cut compares n·Σq²−S² against S² scaled by 4 (CV² ≤ ¼ ⇔ 4·var·n² ≤
    mean²·n² cross-multiplied) — so a part lands in the same cell on
    every engine, always. Frames: two part-keyed aggregates off the
    scan, one |parts| ranking window (at 100 TB: the ranged-rank
    recipe), a ≤9-row output.
    """
    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum((F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    tot = rev.agg(F.sum("cents").cast("bigint").alias("t"))
    cum = rev.withColumn(
        "cum",
        F.sum("cents").over(
            Window.orderBy(F.col("cents").desc(), "l_partkey").rowsBetween(
                Window.unboundedPreceding, 0
            )
        ),
    )
    wk = li.groupBy(
        "l_partkey",
        F.floor(F.unix_timestamp(F.col("l_shipdate").cast("timestamp")) / 604800)
        .cast("long")
        .alias("w"),
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("q"))
    nw = wk.agg((F.max("w") - F.min("w") + 1).alias("n"))
    xyz = wk.groupBy("l_partkey").agg(
        F.sum("q").cast("bigint").alias("s"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("ss"),
    )
    var_n2 = F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    cls = (
        cum.join(xyz, "l_partkey")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(nw))
        .select(
            "cents",
            F.when(20 * F.col("cum") <= 16 * F.col("t"), "A")
            .when(20 * F.col("cum") <= 19 * F.col("t"), "B")
            .otherwise("C")
            .alias("abc"),
            F.when(4 * var_n2 <= F.col("s") * F.col("s"), "X")
            .when(var_n2 <= F.col("s") * F.col("s"), "Y")
            .otherwise("Z")
            .alias("xyz"),
            "t",
        )
    )
    return (
        cls.groupBy("abc", "xyz")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.round(F.sum("cents") / F.first("t").cast("double"), 6).alias(
                "revenue_share"
            ),
        )
        .orderBy("abc", "xyz")
    )


# ---------------------------------------------------------------------------
# Laspeyres price index — base-quantity-weighted monthly price level.
# ---------------------------------------------------------------------------

_LASPEYRES_ORACLE = """
WITH pm AS (
  SELECT l_partkey,
         (year(l_shipdate) * 12 + month(l_shipdate)) AS idx,
         strftime(date_trunc('month', l_shipdate), '%Y-%m') AS ym,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY 1, 2, 3
), b AS (
  SELECT l_partkey, cents AS c0, qty AS q0
  FROM pm WHERE idx = (SELECT min(idx) FROM pm)
), terms AS (
  SELECT pm.idx, pm.ym,
         CAST(floor(b.q0 * (pm.cents / CAST(pm.qty AS DOUBLE)) * 10000 + 0.5) AS BIGINT) AS num_q,
         CAST(floor(b.q0 * (b.c0 / CAST(b.q0 AS DOUBLE)) * 10000 + 0.5) AS BIGINT) AS den_q
  FROM pm JOIN b ON b.l_partkey = pm.l_partkey
  WHERE pm.qty > 0 AND b.q0 > 0
)
SELECT ym AS month,
       CAST(count(*) AS BIGINT) AS n_matched_parts,
       round(sum(num_q) / CAST(sum(den_q) AS DOUBLE), 4) AS laspeyres_index
FROM terms GROUP BY idx, ym ORDER BY idx
"""


@register("part_price_index_laspeyres", oracle=_LASPEYRES_ORACLE, tags=("lineitem", "economics"))
def part_price_index_laspeyres(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matched-sample Laspeyres price index by ship month: Σ q₀·p_m /
    Σ q₀·p₀ over the parts traded in both the base (first) month and
    month m, with unit prices from the exact cents/quantity ratios —
    "what would the base month's basket cost at month-m prices", the
    inflation-tracking construction (CPI-style) that separates price
    movement from mix shift, which a raw revenue-per-unit trend
    conflates. Both sums restrict to the matched part set per month, so
    entering/exiting parts never fake a price move.

    Determinism: per-part basket terms q₀·p are quantized to 1e-4-cent
    integers before the cross-part sums (identical rationals → identical
    doubles → identical integers), so each month's index is a ratio of
    exact integer sums. One (part, month) aggregate off the scan; the
    base-month frame is small enough for Spark's broadcast threshold;
    output is |months| rows.
    """
    li = load(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        "l_partkey",
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("idx"),
        F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias("ym"),
    ).agg(
        F.sum((F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty"),
    )
    # the base month as a scalar subquery, not a cross join with a 1-row
    # frame: Catalyst sizes a cross join as the PRODUCT of its sides
    # (32 MB at sf0.1, past the 64 MB broadcast threshold near 2×), while
    # a filter keeps pm's own estimate (3 MB at sf0.1, 24 MB at 10×)
    base_idx = pm.agg(F.min("idx")).scalar()
    b = pm.where(F.col("idx") == base_idx).select(
        "l_partkey", F.col("cents").alias("c0"), F.col("qty").alias("q0")
    )
    terms = (
        pm.join(b, "l_partkey")
        .where((F.col("qty") > 0) & (F.col("q0") > 0))
        .select(
            "idx",
            "ym",
            F.floor(
                F.col("q0") * (F.col("cents") / F.col("qty").cast("double")) * 10000 + 0.5
            )
            .cast("bigint")
            .alias("num_q"),
            F.floor(
                F.col("q0") * (F.col("c0") / F.col("q0").cast("double")) * 10000 + 0.5
            )
            .cast("bigint")
            .alias("den_q"),
        )
    )
    return (
        terms.groupBy("idx", "ym")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matched_parts"),
            F.round(F.sum("num_q") / F.sum("den_q").cast("double"), 4).alias(
                "laspeyres_index"
            ),
        )
        .orderBy("idx")
        .select(F.col("ym").alias("month"), "n_matched_parts", "laspeyres_index")
    )
