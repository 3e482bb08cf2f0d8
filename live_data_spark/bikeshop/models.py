"""The 8 dbt models + 20 declared tests, on the engine.

1:1 with the reference's dbt_sao project:

- staging (views): stg_bike_shop__{customers,orders,products,order_products}
  — rename projections + decode/initcap/round
  (dbt_sao/models/staging/*.sql).
- mart (tables): dim_customer, dim_order, dim_product (SELECT * EXCLUDE),
  fct_order_products (two left joins + projection)
  (dbt_sao/models/mart/*.sql; materialization override
  dbt_project.yml:35-36).
- tests: the complete 20-test inventory from the three YAML files
  (SURVEY.md §5 lists every citation).

Scale posture: staging stays lazy (views = unexecuted plans — Catalyst
collapses them into the mart queries exactly like Snowflake inlines dbt
views). The fact's products/orders joins broadcast the dimension side when
small; at 100 TB the orders join shuffles on order_id and AQE handles skew,
or both sides are bucketed by order_id to eliminate the shuffle entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from live_data_spark.bikeshop.schema import RAW_SCHEMAS
from live_data_spark.functions.dialect import decode, exclude
from live_data_spark.plans import (
    Project,
    SourceDef,
    accepted_values,
    not_null,
    relationships,
    singular,
    unique,
)


def register_sources(project: Project, raw_root: str) -> None:
    """Declare the four raw tables (models/sources/_bike_shop.yml:3-55)."""
    for table, schema in RAW_SCHEMAS.items():
        project.add_source(
            SourceDef("bike_shop", table, f"{raw_root}/{table}", schema=schema)
        )


def register_models(project: Project) -> None:
    # -- staging (dbt default materialization: view) -----------------------

    @project.model(materialized="view", schema="staging")
    def stg_bike_shop__customers(ctx) -> DataFrame:
        """stg_bike_shop__customers.sql:1-28 — rename + decode(gender)."""
        src = ctx.source("bike_shop", "customers")
        return src.select(
            F.col("id").alias("customer_id"),
            F.col("first_name").alias("customer_first_name"),
            F.col("last_name").alias("customer_last_name"),
            F.col("email").alias("customer_email"),
            decode("gender", "F", "Female", "M", "Male", "X", "Non-binary").alias(
                "customer_gender"
            ),
            F.col("city").alias("customer_city"),
            F.col("loaded_at"),
        )

    @project.model(materialized="view", schema="staging")
    def stg_bike_shop__orders(ctx) -> DataFrame:
        """stg_bike_shop__orders.sql:1-24 — rename + initcap(order_status)."""
        src = ctx.source("bike_shop", "orders")
        return src.select(
            F.col("id").alias("order_id"),
            F.col("customer_id"),
            F.initcap("order_status").alias("order_status"),
            F.col("order_date"),
            F.col("loaded_at"),
        )

    @project.model(materialized="view", schema="staging")
    def stg_bike_shop__products(ctx) -> DataFrame:
        """stg_bike_shop__products.sql:1-30 — rename + round(product_cost, 2)."""
        src = ctx.source("bike_shop", "products")
        return src.select(
            F.col("id").alias("product_id"),
            F.col("model").alias("product_name"),
            F.col("frame").alias("product_material"),
            F.col("category").alias("product_category"),
            F.col("subcategory").alias("product_subcategory"),
            F.col("price").alias("product_price"),
            F.round("product_cost", 2).alias("product_cost"),
            F.col("loaded_at"),
        )

    @project.model(materialized="view", schema="staging")
    def stg_bike_shop__order_products(ctx) -> DataFrame:
        """stg_bike_shop__order_products.sql:1-22 — rename projection."""
        src = ctx.source("bike_shop", "order_products")
        return src.select(
            F.col("id").alias("order_product_id"),
            F.col("product_id"),
            F.col("order_id"),
            F.col("quantity").alias("order_product_quantity"),
            F.col("loaded_at"),
        )

    # -- mart (materialization override: table) ----------------------------

    @project.model(materialized="table", schema="mart")
    def dim_customer(ctx) -> DataFrame:
        """dim_customer.sql:1-7 — SELECT * EXCLUDE loaded_at (P2)."""
        return exclude(ctx.ref("stg_bike_shop__customers"), "loaded_at")

    @project.model(materialized="table", schema="mart")
    def dim_order(ctx) -> DataFrame:
        """dim_order.sql:1-7 — EXCLUDE (customer_id, loaded_at) (P3)."""
        return exclude(ctx.ref("stg_bike_shop__orders"), "customer_id", "loaded_at")

    @project.model(materialized="table", schema="mart")
    def dim_product(ctx) -> DataFrame:
        """dim_product.sql:1-7 — EXCLUDE (product_cost, product_price, loaded_at)."""
        return exclude(
            ctx.ref("stg_bike_shop__products"), "product_cost", "product_price", "loaded_at"
        )

    @project.model(
        materialized="table",
        schema="mart",
        partition_by=["order_date"],
        observe={
            "n_rows": "count(1)",
            "n_orphan_products": "sum(cast(product_price IS NULL AS BIGINT))",
            "n_orphan_orders": "sum(cast(customer_id IS NULL AS BIGINT))",
        },
    )
    def fct_order_products(ctx) -> DataFrame:
        """fct_order_products.sql:1-33 — two left equi-joins + fact projection.

        Products is the tiny static dim (97 rows) → explicit broadcast
        (J1); orders is bounded per batch — AQE picks broadcast vs
        shuffle (J2). The fact hive-partitions by order_date (SURVEY §4
        scale posture): date-ranged reads prune partitions at the file
        listing, and date-keyed joins get dynamic partition pruning.
        Write metrics (row count + orphan counts from each left join)
        ride the materialization job via ``observe`` — the relationships
        data test still runs as the declared gate, but dashboards get
        the same signal without a second fact scan.
        """
        op = ctx.ref("stg_bike_shop__order_products")
        products = ctx.ref("stg_bike_shop__products")
        orders = ctx.ref("stg_bike_shop__orders")
        joined = op.join(F.broadcast(products), "product_id", "left").join(
            orders, "order_id", "left"
        )
        return joined.select(
            "order_product_id",
            "product_id",
            "order_id",
            "customer_id",
            "order_date",
            "order_product_quantity",
            "product_price",
            "product_cost",
        )


# -- singular (SQL) test bodies ----------------------------------------------
# dbt: these would be tests/*.sql files; each is a violation query — rows
# returned are failures (reference dir dbt_sao/tests/ is declared empty;
# plans.testing.SingularTest docstring has the full mapping).


def _fact_margin_violations(project: Project) -> DataFrame:
    """Fact rows selling below cost. The generator guarantees
    cost = price × U(0.3, 0.5) (reference mock_data.py:31), so any
    violation means a join brought the wrong product row. NULL
    price/cost (orphan products) pass — the relationships test owns
    those. One fact scan, no shuffle."""
    return (
        project.relation("fct_order_products")
        .where(F.col("product_cost") > F.col("product_price"))
        .select("order_product_id", "product_id", "product_price", "product_cost")
    )


def _fact_line_parity_violations(project: Project) -> DataFrame:
    """Per-order line-count parity between the fact and its staging
    grain: the two left joins in fct_order_products must neither fan
    out (a dup key in products/orders multiplies lines) nor drop rows.
    Two key-only aggregates + one full-outer join on order_id. The join
    key compares eqNullSafe too: a NULL order_id forms its own group on
    BOTH sides (the not_null test owns flagging it), and a plain
    equi-join can never match NULL to NULL — the two NULL-key groups
    would arrive as separate half-rows and report spurious parity
    violations even when the line counts agree exactly."""
    fct = (
        project.relation("fct_order_products")
        .groupBy(F.col("order_id").alias("f_order_id"))
        .agg(F.count(F.lit(1)).alias("n_fact"))
    )
    stg = (
        project.relation("stg_bike_shop__order_products")
        .groupBy(F.col("order_id").alias("s_order_id"))
        .agg(F.count(F.lit(1)).alias("n_staged"))
    )
    return (
        fct.join(stg, F.col("f_order_id").eqNullSafe(F.col("s_order_id")), "full_outer")
        .where(~F.col("n_fact").eqNullSafe(F.col("n_staged")))
        .select(
            F.coalesce(F.col("f_order_id"), F.col("s_order_id")).alias("order_id"),
            "n_fact",
            "n_staged",
        )
    )


def register_tests(project: Project) -> None:
    """The complete 20-test reference inventory (SURVEY.md §5, 1:1) plus
    two singular tests for the reference's declared-empty tests/ dir."""
    src = "source:bike_shop."
    tests = [
        # sources/_bike_shop.yml
        not_null(src + "customers", "id"),          # :13-15
        unique(src + "customers", "id"),
        not_null(src + "orders", "id"),             # :20-22
        unique(src + "orders", "id"),
        not_null(src + "orders", "customer_id"),    # :23-29
        unique(src + "orders", "customer_id"),      # §8.1 quirk: per-batch-true
        relationships(src + "orders", "customer_id", src + "customers", "id"),
        not_null(src + "order_products", "id"),     # :34-36
        unique(src + "order_products", "id"),
        not_null(src + "order_products", "product_id"),  # :38-42
        relationships(src + "order_products", "product_id", src + "products", "id"),
        not_null(src + "order_products", "order_id"),    # :44-48
        relationships(src + "order_products", "order_id", src + "orders", "id"),
        not_null(src + "products", "id"),           # :52-55
        unique(src + "products", "id"),
        # staging/_stg_bike_shop.yml:5-11
        accepted_values(
            "stg_bike_shop__customers", "customer_gender", ["Male", "Female", "Non-binary"]
        ),
        # mart/_mart_bike_shop.yml
        not_null("fct_order_products", "order_product_id"),  # :4-7
        unique("fct_order_products", "order_product_id"),
        not_null("fct_order_products", "order_id"),          # :8-10
        not_null("fct_order_products", "customer_id"),       # :11-13
        # singular (SQL) tests — the reference reserves dbt_sao/tests/
        # (.gitkeep, declared empty) for these; two real ones its data
        # supports, run through the same runner/severity path:
        singular(
            "assert_fact_margin_nonnegative",
            "fct_order_products",
            _fact_margin_violations,
        ),
        singular(
            "assert_fact_conserves_order_lines",
            "fct_order_products",
            _fact_line_parity_violations,
        ),
    ]
    for t in tests:
        project.add_test(t)


def build_project(spark, warehouse_dir: str, raw_root: str) -> Project:
    """Assemble the full bike-shop project (sources + models + tests)."""
    project = Project(spark, warehouse_dir=warehouse_dir)
    register_sources(project, raw_root)
    register_models(project)
    register_tests(project)
    return project
