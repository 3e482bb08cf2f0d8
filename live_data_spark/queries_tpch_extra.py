"""TPC-H shapes 7/9/10/11/14/17/20/21 over the driver testdata.

Completes the TPC-H-shaped coverage started in ``queries_analytics`` (which
carries Q1-Q6, Q8, Q12, Q13, Q15, Q16, Q18, Q19, Q22). The testdata schema
has no ``partsupp`` and no commit/receipt dates, so Q11/Q20/Q21 are
*reshaped* onto ``lineitem`` keeping their defining plan structure (global
scalar HAVING, nested semi-join chain, exists/not-exists lateness audit) —
each docstring states the reshape. Engine-parity conventions follow
catalog.py: decimal money math, double at the output boundary, explicit
tiebreaks on anything ranked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from live_data_spark.catalog import load, register
from live_data_spark.functions.dialect import dec2

# ---------------------------------------------------------------------------
# Q7: volume shipping between two nations, by direction and year.
# ---------------------------------------------------------------------------

_Q7_ORACLE = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       cast(year(l.l_shipdate) AS INTEGER) AS l_year,
       cast(sum(cast(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - cast(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
JOIN nation cn ON cn.n_nationkey = c.c_nationkey
WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1, 2, 3
"""


@register("q7_volume_shipping", oracle=_Q7_ORACLE, tags=("join", "tpch"))
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped: bilateral trade volume between two nations by year.

    Two branches of the nation dim join the same fact row (supplier's
    nation and customer's nation) — both broadcast (25 rows), so the
    cross-nation predicate evaluates map-side; the only shuffles are the
    orderkey join and the final 3-key aggregate. The shipdate filter
    pushes to the lineitem scan.
    """
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    rev = dec2("l_extendedprice") * (1 - dec2("l_discount"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q9: product-line profit by supplier nation and year.
# ---------------------------------------------------------------------------

_Q9_ORACLE = """
SELECT n.n_name AS nation_name,
       cast(year(l.l_shipdate) AS INTEGER) AS o_year,
       cast(sum(cast(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - cast(l.l_discount AS DECIMAL(18,2)))
              - cast(p.p_retailprice * l.l_quantity * 0.5 AS DECIMAL(18,2))
           ) AS DOUBLE) AS profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%gear%'
GROUP BY 1, 2
"""


@register("q9_product_profit", oracle=_Q9_ORACLE, tags=("join", "tpch"))
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped: profit on a part-name family by nation and year.

    Reshape: the schema has no ``partsupp``, so unit cost is
    ``0.5 × p_retailprice`` (reference Q9 uses ps_supplycost) — the plan
    shape is identical: pattern-filtered part dim broadcast into the
    fact, supplier→nation broadcast chain, two-key aggregate. The
    ``LIKE '%gear%'`` filter cannot push below the join (it's on the dim)
    but the broadcast hash join applies it before any fact shuffle.
    """
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").where(F.col("p_name").like("%gear%"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    # cost multiplies in DOUBLE then casts to decimal ONCE: both engines
    # do the identical IEEE multiply and round the identical double —
    # chained decimal×decimal×decimal would overflow precision 38 and
    # engines differ on overflow scale reduction (see engine-parity notes)
    cost = (F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.5)).cast("decimal(18,2)")
    profit = dec2("l_extendedprice") * (1 - dec2("l_discount")) - cost
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation_name"), F.year("l_shipdate").alias("o_year"))
        .agg(F.sum(profit).cast("double").alias("profit"))
    )


# ---------------------------------------------------------------------------
# Q10: top returned-revenue customers in a quarter.
# ---------------------------------------------------------------------------

_Q10_ORACLE = """
WITH r AS (
  SELECT c.c_custkey AS customer_id, c.c_name AS customer_name,
         n.n_name AS nation_name,
         cast(sum(cast(l.l_extendedprice AS DECIMAL(18,2))
                  * (1 - cast(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY 1, 2, 3
)
SELECT * FROM r ORDER BY revenue DESC, customer_id LIMIT 20
"""


@register("q10_returned_items", oracle=_Q10_ORACLE, tags=("join", "tpch", "topk"))
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: top-20 customers by returned revenue in a quarter.

    Filters push to both scans (returnflag on lineitem, date on orders);
    the orderBy+limit compiles to TakeOrderedAndProject (per-partition
    partial top-20, 20-row driver merge — no global sort shuffle).
    Revenue ties break on customer_id, keeping the limit deterministic
    across engines.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    rev = dec2("l_extendedprice") * (1 - dec2("l_discount"))
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .groupBy(
            F.col("c_custkey").alias("customer_id"),
            F.col("c_name").alias("customer_name"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("customer_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q11: parts whose traded value exceeds a global-share threshold.
# ---------------------------------------------------------------------------

_Q11_ORACLE = """
WITH pv AS (
  SELECT l_partkey AS part_id,
         sum(cast(l_extendedprice AS DECIMAL(18,2))
             * (1 - cast(l_discount AS DECIMAL(18,2)))) AS value_dec
  FROM lineitem GROUP BY 1
)
SELECT part_id, cast(value_dec AS DOUBLE) AS part_value
FROM pv
WHERE cast(value_dec AS DOUBLE)
      > 1.5 * (SELECT cast(sum(value_dec) AS DOUBLE) / count(*) FROM pv)
"""


@register("q11_important_parts", oracle=_Q11_ORACLE, tags=("agg", "tpch", "subquery"))
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped: groups filtered against a GLOBAL scalar aggregate.

    Reshape: no ``partsupp``, so "stock value" is lineitem traded value
    per part; the defining shape survives — an aggregate HAVING-compared
    to a scalar subquery over the same aggregate. Spark plan: one
    partkey aggregate, re-aggregated to a 1-row global sum that
    broadcast-crosses back onto the per-part rows (the per-part subtree
    is shared, so the fact scan+shuffle happens once with exchange
    reuse, not twice). Threshold compares in double on both engines
    (identical operands → identical comparison).
    """
    li = load(spark, sf_dir, "lineitem")
    rev = dec2("l_extendedprice") * (1 - dec2("l_discount"))
    pv = li.groupBy(F.col("l_partkey").alias("part_id")).agg(F.sum(rev).alias("value_dec"))
    # threshold = 1.5× the mean per-part value: scale-stable (a fixed
    # share-of-total threshold goes empty as the part count grows)
    mean = pv.agg(
        (F.sum("value_dec").cast("double") / F.count(F.lit(1))).alias("mean_value")
    )
    return (
        pv.crossJoin(F.broadcast(mean))
        .where(F.col("value_dec").cast("double") > 1.5 * F.col("mean_value"))
        .select("part_id", F.col("value_dec").cast("double").alias("part_value"))
    )


# ---------------------------------------------------------------------------
# Q14: promotion revenue share in one month.
# ---------------------------------------------------------------------------

_Q14_ORACLE = """
SELECT round(
  100.0 * cast(sum(CASE WHEN p.p_type = 'PROMO'
        THEN cast(l.l_extendedprice AS DECIMAL(18,2))
             * (1 - cast(l.l_discount AS DECIMAL(18,2)))
        ELSE cast(0 AS DECIMAL(18,2)) END) AS DOUBLE)
  / cast(sum(cast(l.l_extendedprice AS DECIMAL(18,2))
             * (1 - cast(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4)
  AS promo_revenue_pct
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
"""


@register("q14_promo_effect", oracle=_Q14_ORACLE, tags=("join", "tpch", "conditional"))
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped: conditional-share aggregate (promo % of revenue).

    Single-pass CASE aggregation over the month's lineitems with the
    part type riding a broadcast join — numerator and denominator in one
    aggregate, no second scan. Both sums are exact decimals; the ratio
    divides as double and rounds to 4 on both engines.
    """
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-09-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-10-01 00:00:00").cast("timestamp_ntz"))
    )
    p = load(spark, sf_dir, "part")
    rev = dec2("l_extendedprice") * (1 - dec2("l_discount"))
    zero = F.lit(0).cast("decimal(18,2)")
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0 * F.sum(promo).cast("double") / F.sum(rev).cast("double"), 4
            ).alias("promo_revenue_pct")
        )
    )


# ---------------------------------------------------------------------------
# Q17: small-quantity-order revenue (correlated per-group average).
# ---------------------------------------------------------------------------

_Q17_ORACLE = """
WITH pa AS (
  SELECT l_partkey,
         cast(sum(cast(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
  FROM lineitem GROUP BY 1
)
SELECT round(cast(sum(cast(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 2)
       AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN pa ON pa.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1'
  AND l.l_quantity < 0.2 * pa.avg_qty
"""


@register("q17_small_quantity", oracle=_Q17_ORACLE, tags=("join", "tpch", "subquery"))
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped: rows below their group's average (correlated
    subquery decorrelated into an aggregate + re-join).

    The classic correlated ``l_quantity < 0.2 * avg(per part)`` runs as:
    per-part average (exact decimal sum / count, identical on both
    engines) joined back to the fact on partkey, then the brand filter
    via broadcast part dim. One partkey shuffle for the average, one for
    the re-join; the brand dim filters before the aggregate output joins.
    """
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    pa = li.groupBy(F.col("l_partkey").alias("pa_key")).agg(
        (F.sum(dec2("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(pa, li.l_partkey == F.col("pa_key"))
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.round(F.sum(dec2("l_extendedprice")).cast("double") / 7.0, 2).alias("avg_yearly")
        )
    )


# ---------------------------------------------------------------------------
# Q20: suppliers who moved an outsized share of a part family.
# ---------------------------------------------------------------------------

_Q20_ORACLE = """
WITH red AS (
  SELECT p_partkey FROM part WHERE p_name LIKE 'red %'
), shipped AS (
  SELECT l_partkey, l_suppkey,
         sum(cast(l_quantity AS DECIMAL(18,2))) AS qty_dec
  FROM lineitem JOIN red ON red.p_partkey = lineitem.l_partkey
  GROUP BY 1, 2
), part_avg AS (
  SELECT l_partkey,
         cast(sum(qty_dec) AS DOUBLE) / count(*) AS avg_supp_qty
  FROM shipped GROUP BY 1
)
SELECT DISTINCT s.s_suppkey AS supplier_id, s.s_name AS supplier_name
FROM shipped sh
JOIN part_avg pa ON pa.l_partkey = sh.l_partkey
JOIN supplier s ON s.s_suppkey = sh.l_suppkey
WHERE cast(sh.qty_dec AS DOUBLE) > 1.5 * pa.avg_supp_qty
"""


@register("q20_outsized_suppliers", oracle=_Q20_ORACLE, tags=("join", "tpch", "subquery"))
def q20_outsized_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped: nested semi-join chain (parts → shipped volumes →
    qualifying suppliers).

    Reshape: no ``partsupp``/availqty, so a supplier qualifies by having
    shipped >1.5× the part's per-supplier average of a name-filtered part
    family — the same three-level nesting (dim filter → per-(part,supp)
    aggregate → per-part scalar → semi-join to the supplier dim).
    The name-filtered part set broadcasts into the fact before any
    shuffle; both aggregates reuse one (part,supp) shuffle.
    """
    p = load(spark, sf_dir, "part").where(F.col("p_name").like("red %"))
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    shipped = (
        li.join(p.select("p_partkey"), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(dec2("l_quantity")).alias("qty_dec"))
    )
    part_avg = shipped.groupBy(F.col("l_partkey").alias("pa_key")).agg(
        (F.sum("qty_dec").cast("double") / F.count(F.lit(1))).alias("avg_supp_qty")
    )
    return (
        shipped.join(part_avg, shipped.l_partkey == F.col("pa_key"))
        .where(F.col("qty_dec").cast("double") > 1.5 * F.col("avg_supp_qty"))
        .join(s, shipped.l_suppkey == s.s_suppkey)
        .select(F.col("s_suppkey").alias("supplier_id"), F.col("s_name").alias("supplier_name"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Q21: the one supplier who held up a multi-supplier order.
# ---------------------------------------------------------------------------

_Q21_ORACLE = """
WITH per_supp AS (
  SELECT l.l_orderkey, l.l_suppkey,
         max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
             THEN 1 ELSE 0 END) AS is_late
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderstatus = 'F'
  GROUP BY 1, 2
), blamed AS (
  SELECT l_orderkey,
         max(CASE WHEN is_late = 1 THEN l_suppkey END) AS late_supp
  FROM per_supp
  GROUP BY l_orderkey
  HAVING count(*) > 1 AND sum(is_late) = 1
)
SELECT s.s_suppkey AS supplier_id, s.s_name AS supplier_name,
       count(*) AS numwait
FROM blamed b
JOIN supplier s ON s.s_suppkey = b.late_supp
GROUP BY 1, 2
ORDER BY numwait DESC, supplier_id
LIMIT 20
"""


@register("q21_waiting_suppliers", oracle=_Q21_ORACLE, tags=("join", "tpch", "exists"))
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped: suppliers solely responsible for late
    multi-supplier orders.

    Reshape: lateness is ``l_shipdate > o_orderdate + 60 days`` (no
    commit/receipt dates in the schema). The reference's
    EXISTS/NOT-EXISTS pair decorrelates into one two-level aggregation:
    per-(order, supplier) lateness, then per-order supplier/lateness
    counts — "some other supplier shipped" ⇔ count > 1, "no other
    supplier was late" ⇔ late-count = 1 with this supplier late. Two
    shuffles on aligned keys (orderkey prefix) instead of two
    correlated self-joins of the fact; the blame aggregate recovers the
    single late supplier with MAX(CASE) so no extra join back.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"), 1
    ).otherwise(0)
    per_supp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("is_late"))
    )
    blamed = (
        per_supp.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum("is_late").alias("n_late"),
            F.max(F.when(F.col("is_late") == 1, F.col("l_suppkey"))).alias("late_supp"),
        )
        .where((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    s = load(spark, sf_dir, "supplier")
    return (
        blamed.join(s, blamed.late_supp == s.s_suppkey)
        .groupBy(F.col("s_suppkey").alias("supplier_id"), F.col("s_name").alias("supplier_name"))
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("supplier_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Fuzzy string matching — edit-distance pairs over a dictionary.
# ---------------------------------------------------------------------------

_FUZZY_ORACLE = """
WITH names AS (
  SELECT DISTINCT p_name FROM part
), t AS (
  SELECT p_name, split_part(p_name, ' ', -1) AS blk FROM names
)
SELECT a.p_name AS name_1, b.p_name AS name_2,
       cast(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
FROM t a JOIN t b ON a.blk = b.blk AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 3
"""


@register("fuzzy_part_names", oracle=_FUZZY_ORACLE, tags=("text", "fuzzy", "join"))
def fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching over the part-name dictionary
    (levenshtein ≤ 3) — the typo/variant-merging rung of entity
    resolution, blocked so it never goes quadratic in the corpus.

    Two scale decisions: (1) match on the DISTINCT name dictionary, not
    the rows — the dictionary is bounded by the vocabulary, so the pair
    space is independent of row count; matched names join back to rows
    by equality when needed. (2) block on the name's last token — only
    same-noun names compare, the classic blocking-key trick; recall is
    exact within the block and the block key is domain knowledge
    (reference part names are 'adjective noun'). levenshtein is
    JVM-side; both engines implement the same unit-cost edit distance.
    """
    names = load(spark, sf_dir, "part").select("p_name").distinct()
    t = names.select("p_name", F.element_at(F.split("p_name", " "), -1).alias("blk"))
    a = t.select(F.col("p_name").alias("name_1"), F.col("blk").alias("blk_a"))
    b = t.select(F.col("p_name").alias("name_2"), F.col("blk").alias("blk_b"))
    dist = F.levenshtein("name_1", "name_2")
    return (
        a.join(b, (F.col("blk_a") == F.col("blk_b")) & (F.col("name_1") < F.col("name_2")))
        .where(dist <= 3)
        .select("name_1", "name_2", dist.cast("int").alias("edit_dist"))
    )


# ---------------------------------------------------------------------------
# Supplier fulfillment speed — delay distribution per supplier.
# ---------------------------------------------------------------------------


@register(
    "supplier_fulfillment_speed",
    oracle="""
    WITH li AS (
      SELECT l.l_suppkey,
             date_diff('day', o.o_orderdate, l.l_shipdate) AS delay
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), per_supp AS (
      SELECT l_suppkey AS supp_key, count(*) AS n_lines,
             cast(sum(CASE WHEN delay > 60 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
             cast(sum(delay) AS BIGINT) AS delay_days_total
      FROM li GROUP BY 1 HAVING count(*) >= 10
    )
    SELECT s.s_name AS supplier, p.n_lines, p.n_late,
           round(p.n_late / cast(p.n_lines AS DOUBLE), 4) AS late_share,
           round(p.delay_days_total / cast(p.n_lines AS DOUBLE), 4) AS avg_delay_days
    FROM per_supp p JOIN supplier s ON s.s_suppkey = p.supp_key
    ORDER BY late_share DESC, supplier LIMIT 25
    """,
    tags=("agg", "join", "topk"),
)
def supplier_fulfillment_speed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worst-25 suppliers by slow-fulfillment share (order-to-ship lag
    over 60 days), with a 10-line volume floor so one unlucky shipment
    can't top the list — the vendor scorecard procurement actually runs
    (Q21 counts waiting suppliers; this ranks chronic lag and its mean).
    Lags are integer day differences; shares and means are integer
    ratios — engine-exact; the cut is TakeOrdered with a name tiebreak.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = li.join(o, li.l_orderkey == o.o_orderkey)
    delay = F.datediff("l_shipdate", "o_orderdate")
    per_supp = (
        li.select(F.col("l_suppkey").alias("supp_key"), delay.alias("delay"))
        .groupBy("supp_key")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(F.col("delay") > 60, 1).otherwise(0)).alias("n_late"),
            F.sum("delay").alias("delay_days_total"),
        )
        .where(F.col("n_lines") >= 10)
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_supp.join(s, per_supp.supp_key == s.s_suppkey)
        .select(
            F.col("s_name").alias("supplier"),
            "n_lines",
            "n_late",
            F.round(F.col("n_late") / F.col("n_lines").cast("double"), 4).alias("late_share"),
            F.round(F.col("delay_days_total") / F.col("n_lines").cast("double"), 4).alias(
                "avg_delay_days"
            ),
        )
        .orderBy(F.col("late_share").desc(), "supplier")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Nation trade balance — supply revenue vs demand spend per nation.
# ---------------------------------------------------------------------------


@register(
    "nation_trade_balance",
    oracle="""
    WITH supply AS (
      SELECT s.s_nationkey AS nk,
             sum(cast(l.l_extendedprice AS DECIMAL(18,2))) AS supply_rev
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1
    ), demand AS (
      SELECT c.c_nationkey AS nk,
             sum(cast(o.o_totalprice AS DECIMAL(18,2))) AS demand_spend
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1
    )
    SELECT n.n_name AS nation,
           cast(coalesce(s.supply_rev, 0) AS DOUBLE) AS supply_rev,
           cast(coalesce(d.demand_spend, 0) AS DOUBLE) AS demand_spend,
           cast(coalesce(s.supply_rev, 0) - coalesce(d.demand_spend, 0) AS DOUBLE)
             AS trade_balance
    FROM nation n
    LEFT JOIN supply s ON s.nk = n.n_nationkey
    LEFT JOIN demand d ON d.nk = n.n_nationkey
    """,
    tags=("agg", "join"),
)
def nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each nation's position in the trade network: revenue its suppliers
    EARN vs what its customers SPEND, and the balance — the two-
    perspective join (one fact read per side, different dim paths) that
    Q7's bilateral flows aggregate away. Nations with no suppliers or
    customers zero-fill through the LEFT joins rather than dropping.
    All money stays DECIMAL until the final double cast.

    Two independent fact aggregates (dims broadcast) meet at a
    nation-sized join — no fact-to-fact shuffle anywhere.
    """
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supply = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("supply_rev"))
    )
    demand = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("demand_spend"))
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        n.join(supply, n.n_nationkey == supply.nk, "left")
        .join(demand, n.n_nationkey == demand.nk, "left")
        .select(
            F.col("n_name").alias("nation"),
            F.coalesce("supply_rev", zero).cast("double").alias("supply_rev"),
            F.coalesce("demand_spend", zero).cast("double").alias("demand_spend"),
            (F.coalesce("supply_rev", zero) - F.coalesce("demand_spend", zero))
            .cast("double")
            .alias("trade_balance"),
        )
    )


# ---------------------------------------------------------------------------
# Price dispersion — exact second moments from integer cents.
# ---------------------------------------------------------------------------


@register(
    "brand_price_dispersion",
    oracle="""
    WITH c AS (
      SELECT p_brand, cast(round(p_retailprice * 100) AS BIGINT) AS cents
      FROM part
    ), s AS (
      SELECT p_brand,
             cast(count(*) AS BIGINT) AS n,
             cast(sum(cents) AS BIGINT) AS sc,
             cast(sum(cents * cents) AS BIGINT) AS scc
      FROM c GROUP BY p_brand
    )
    SELECT p_brand AS brand, n,
           round(sc / (n * 100.0), 4) AS mean_price,
           round(sqrt(greatest(n * scc - sc * sc, 0) / cast(n * n AS DOUBLE)) / 100.0, 4)
             AS stdev_price,
           round(sqrt(greatest(n * scc - sc * sc, 0) / cast(n * n AS DOUBLE)) / (sc / cast(n AS DOUBLE)), 4)
             AS cv
    FROM s
    """,
    tags=("agg", "profiling"),
)
def brand_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price dispersion per brand — mean, population stdev, and the
    coefficient of variation (the catalog-hygiene signal: a brand whose
    CV explodes has mispriced SKUs or mixed units). Deliberately NOT
    ``stddev()``: engines disagree on streaming-variance accumulation
    order, so both sides compute the second moment from EXACT integer
    CENTS sums (2-dp money → integers, the decimal twin of the
    integer-sums regression recipe) and take one identical sqrt.

    One map-side-combined aggregate; brand-count-sized output.
    """
    p = load(spark, sf_dir, "part")
    cents = F.round(F.col("p_retailprice") * 100).cast("bigint")
    s = p.select(F.col("p_brand"), cents.alias("cents")).groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sc"),
        F.sum(F.col("cents") * F.col("cents")).alias("scc"),
    )
    var_cents2 = F.greatest(
        F.col("n") * F.col("scc") - F.col("sc") * F.col("sc"), F.lit(0)
    ) / (F.col("n") * F.col("n")).cast("double")
    stdev = F.sqrt(var_cents2)
    mean_cents = F.col("sc") / F.col("n").cast("double")
    return s.select(
        F.col("p_brand").alias("brand"),
        "n",
        F.round(F.col("sc") / (F.col("n") * 100.0), 4).alias("mean_price"),
        F.round(stdev / 100.0, 4).alias("stdev_price"),
        F.round(stdev / mean_cents, 4).alias("cv"),
    )


# ---------------------------------------------------------------------------
# Reorder intervals — demand periodicity per part.
# ---------------------------------------------------------------------------

REORDER_TOP = 20
REORDER_MIN = 5  # a part needs ≥5 reorder gaps for a meaningful profile

_REORDER_ORACLE = f"""
WITH pd AS (
  SELECT DISTINCT l.l_partkey, cast(o.o_orderdate AS DATE) AS d
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
), gaps AS (
  SELECT l_partkey,
         date_diff('day', lag(d) OVER (PARTITION BY l_partkey ORDER BY d), d) AS gap
  FROM pd
)
SELECT l_partkey AS part_id,
       cast(count(gap) AS BIGINT) AS n_gaps,
       round(quantile_cont(gap, 0.5), 4) AS median_days,
       round(quantile_cont(gap, 0.9), 4) AS p90_days
FROM gaps WHERE gap IS NOT NULL
GROUP BY l_partkey HAVING count(gap) >= {REORDER_MIN}
ORDER BY count(gap) DESC, l_partkey
LIMIT {REORDER_TOP}
"""


@register("part_reorder_intervals", oracle=_REORDER_ORACLE, tags=("tpch", "timeseries"))
def part_reorder_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demand periodicity: for the most-reordered parts, the median and
    p90 days between consecutive DISTINCT order dates — the inter-
    arrival profile behind inventory/replenishment planning (a tight
    median means steady demand; a long p90 tail means bursty demand the
    median alone would hide). Distinct dates, not orders, so same-day
    multi-orders don't inject zero gaps.

    Plan: one join pruned to two columns each side, distinct on
    (part, date), then lag windows PARTITIONED BY part — per-part frames
    distribute across the cluster (no global sort anywhere) and the
    exact percentile sorts only within each part's handful of gaps. At
    100 TB the same shape holds; swap percentile → percentile_approx if
    per-part date cardinality ever stops being bounded. Integer ranking
    keys (gap count, part id): the cut cannot drift.
    """
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_orderkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    pd_ = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("l_partkey", F.col("o_orderdate").cast("date").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("l_partkey").orderBy("d")
    gaps = pd_.select(
        "l_partkey", F.datediff(F.col("d"), F.lag("d").over(w)).alias("gap")
    ).where(F.col("gap").isNotNull())
    return (
        gaps.groupBy("l_partkey")
        .agg(
            F.count("gap").alias("n_gaps"),
            F.round(F.percentile("gap", F.lit(0.5)), 4).alias("median_days"),
            F.round(F.percentile("gap", F.lit(0.9)), 4).alias("p90_days"),
        )
        .where(F.col("n_gaps") >= REORDER_MIN)
        .orderBy(F.col("n_gaps").desc(), "l_partkey")
        .limit(REORDER_TOP)
        .select(
            F.col("l_partkey").alias("part_id"),
            F.col("n_gaps").cast("bigint").alias("n_gaps"),
            "median_days",
            "p90_days",
        )
    )


# ---------------------------------------------------------------------------
# Discount elasticity — does a deeper discount move quantity?
# ---------------------------------------------------------------------------

_ELASTICITY_ORACLE = """
WITH li AS (
  SELECT p.p_brand AS brand,
         cast(round(l.l_discount * 100) AS BIGINT) AS x,
         cast(round(l.l_quantity) AS BIGINT) AS y
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), s AS (
  SELECT brand, count(*) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM li GROUP BY brand
)
SELECT brand, cast(n AS BIGINT) AS n_lines,
       round((n * sxy - sx * sy)
             / cast(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE), 6) AS qty_per_point,
       round(sy / cast(n AS DOUBLE), 4) AS mean_qty
FROM s
"""


@register("discount_quantity_elasticity", oracle=_ELASTICITY_ORACLE, tags=("tpch", "agg"))
def discount_quantity_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand OLS slope of quantity on discount points — "does a
    deeper discount actually move volume for this brand?", the pricing
    team's first regression. ``qty_per_point`` is units gained per extra
    discount percentage point; near-zero slope says the discount is
    margin given away (on uniform-random TPC-H data that IS the expected
    reading — the operator exists for the closed-form-regression shape).

    Both variables quantize exactly (discounts are 2-decimal, quantities
    integral), so the five sums are exact integers and the slope is one
    IEEE division — the profile_metric_correlation discipline. One
    broadcast part join, one brand aggregate; O(brands) rows move after
    the map-side combine.
    """
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_discount", "l_quantity")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(p, li.l_partkey == p.p_partkey).select(
        F.col("p_brand").alias("brand"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("x"),
        F.round("l_quantity").cast("bigint").alias("y"),
    )
    s = j.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    denom = F.nullif(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"), F.lit(0.0)
    )
    return s.select(
        "brand",
        F.col("n").cast("bigint").alias("n_lines"),
        F.round((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / denom, 6).alias(
            "qty_per_point"
        ),
        F.round(F.col("sy") / F.col("n").cast("double"), 4).alias("mean_qty"),
    )


# ---------------------------------------------------------------------------
# Supply concentration — single-sourcing risk per part.
# ---------------------------------------------------------------------------

CONC_TOP = 25

_CONC_ORACLE = f"""
WITH ps AS (
  SELECT l_partkey, l_suppkey, count(*) AS n
  FROM lineitem GROUP BY 1, 2
), agg AS (
  SELECT l_partkey,
         count(*) AS n_suppliers,
         sum(n) AS n_lines,
         max(n) AS top_n
  FROM ps GROUP BY 1
)
SELECT l_partkey AS part_id,
       cast(n_suppliers AS BIGINT) AS n_suppliers,
       cast(n_lines AS BIGINT) AS n_lines,
       round(top_n / cast(n_lines AS DOUBLE), 4) AS top_supplier_share
FROM agg
ORDER BY n_lines DESC, l_partkey
LIMIT {CONC_TOP}
"""


@register("part_supply_concentration", oracle=_CONC_ORACLE, tags=("tpch", "agg"))
def part_supply_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-sourcing risk screen: for the highest-volume parts, how
    many suppliers actually ship them and what share the top supplier
    holds — n_suppliers=1 or a share near 1.0 is the procurement red
    flag (one supplier failure stops the line); the per-part complement
    of ``supplier_revenue_hhi``'s market-wide concentration.

    Two stacked aggregates on keys the data wants anyway ((part,supp) →
    part; the second rides the first's partitioning) and an integer-
    keyed TakeOrdered cut. ``max(n)`` stands in for the top share
    numerator without a window — per-part supplier counts are already
    the aggregation state.
    """
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(F.count(F.lit(1)).alias("n"))
    agg = ps.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("n").alias("n_lines"),
        F.max("n").alias("top_n"),
    )
    return (
        agg.orderBy(F.col("n_lines").desc(), "l_partkey")
        .limit(CONC_TOP)
        .select(
            F.col("l_partkey").alias("part_id"),
            F.col("n_suppliers").cast("bigint").alias("n_suppliers"),
            F.col("n_lines").cast("bigint").alias("n_lines"),
            F.round(F.col("top_n") / F.col("n_lines").cast("double"), 4).alias(
                "top_supplier_share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Churn risk — who has gone quiet relative to their own cadence?
# ---------------------------------------------------------------------------

CHURN_MIN_ORDERS = 5
CHURN_TOP = 25

_CHURN_ORACLE = f"""
WITH mx AS (SELECT max(cast(o_orderdate AS DATE)) AS anchor FROM orders),
g AS (
  SELECT o_custkey,
         date_diff('day',
                   lag(cast(o_orderdate AS DATE))
                     OVER (PARTITION BY o_custkey ORDER BY cast(o_orderdate AS DATE), o_orderkey),
                   cast(o_orderdate AS DATE)) AS gap,
         cast(o_orderdate AS DATE) AS d
  FROM orders
), s AS (
  SELECT o_custkey,
         count(*) AS n_orders,
         quantile_cont(gap, 0.5) AS median_gap,
         max(d) AS last_order
  FROM g GROUP BY o_custkey HAVING count(*) >= {CHURN_MIN_ORDERS}
)
SELECT o_custkey AS customer_id,
       cast(n_orders AS BIGINT) AS n_orders,
       round(median_gap, 4) AS median_gap_days,
       cast(date_diff('day', last_order, (SELECT anchor FROM mx)) AS BIGINT) AS days_quiet,
       CASE WHEN date_diff('day', last_order, (SELECT anchor FROM mx)) > 2 * median_gap
            THEN 1 ELSE 0 END AS churn_flag
FROM s
ORDER BY date_diff('day', last_order, (SELECT anchor FROM mx)) / NULLIF(median_gap, 0)
         DESC NULLS LAST,
         o_custkey
LIMIT {CHURN_TOP}
"""


@register("customer_churn_risk", oracle=_CHURN_ORACLE, tags=("tpch", "timeseries"))
def customer_churn_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn screen relative to each customer's OWN cadence: rank repeat
    customers by days-quiet ÷ their median inter-order gap (quiet for 2×
    your personal rhythm flags churn; a fixed 90-day cutoff misflags
    both weekly and yearly buyers). The anchor is the corpus max order
    date, so the screen is reproducible rather than wall-clock-bound.

    One customer-partitioned lag window (frames distribute), one
    customer aggregate, a 1-row anchor scalar, and an integer-ratio-
    ordered cut — the ratio is one IEEE division of a day count by an
    exactly-interpolated median, identical on both engines.
    """
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.col("o_orderdate").cast("date").alias("d")
    )
    mx = o.agg(F.max("d").alias("anchor"))
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    g = o.select("o_custkey", "d", F.datediff(F.col("d"), F.lag("d").over(w)).alias("gap"))
    s = (
        g.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.percentile("gap", F.lit(0.5)).alias("median_gap"),
            F.max("d").alias("last_order"),
        )
        .where(F.col("n_orders") >= CHURN_MIN_ORDERS)
    )
    quiet = F.datediff(F.col("anchor"), F.col("last_order"))
    ratio = quiet / F.nullif(F.col("median_gap"), F.lit(0.0))
    return (
        s.crossJoin(F.broadcast(mx))
        .orderBy(ratio.desc_nulls_last(), "o_custkey")
        .limit(CHURN_TOP)
        .select(
            F.col("o_custkey").alias("customer_id"),
            F.col("n_orders").cast("bigint").alias("n_orders"),
            F.round("median_gap", 4).alias("median_gap_days"),
            quiet.cast("bigint").alias("days_quiet"),
            F.when(quiet > 2 * F.col("median_gap"), 1).otherwise(0).alias("churn_flag"),
        )
    )
