"""The jaffle-shop pipeline: 3 staging views + 2 mart tables + 20 tests.

Each model mirrors one reference SQL file, re-expressed with the
DataFrame API (cited per function). The Jinja compile-time loop that
generates the payment pivot (/root/reference/models/orders.sql:1,20-22)
becomes a plain Python list comprehension (SURVEY §2.2 R12).

Semantics pinned per SURVEY §1.3:
- `amount / 100` is true double division (stg_payments);
- customers with no orders keep NULL aggregates — the aggregation runs
  *before* the left join, never coalesced to 0;
- the orders pivot emits 0 for unused methods within a paying order but
  NULL for an order with no payments at all (left join, not inner).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.registry import ModelContext, Project
from ..sources.seeds import DEFAULT_SEED_DIR, load_seeds
from ..testing import checks

# /root/reference/models/orders.sql:1 — the compile-time pivot list
PAYMENT_METHODS = ["credit_card", "coupon", "bank_transfer", "gift_card"]

ORDER_STATUSES = ["placed", "shipped", "completed", "return_pending", "returned"]


def build_project(warehouse_dir: str | None = None) -> Project:
    project = Project(warehouse_dir=warehouse_dir)

    @project.model(
        name="stg_customers",
        materialized="view",  # dbt_project.yml:25-26
        deps=("raw_customers",),
        description="Staged customers: renamed keys.",
        columns={"customer_id": "Primary key (unique, not null)."},
    )
    def stg_customers(ctx: ModelContext) -> DataFrame:
        # /root/reference/models/staging/stg_customers.sql:13-16
        return ctx.ref("raw_customers").select(
            F.col("id").alias("customer_id"),
            "first_name",
            "last_name",
        )

    @project.model(
        name="stg_orders",
        materialized="view",
        deps=("raw_orders",),
        description="Staged orders: renamed keys, status enum.",
        columns={
            "order_id": "Primary key (unique, not null).",
            "status": "One of " + ", ".join(ORDER_STATUSES) + ".",
        },
    )
    def stg_orders(ctx: ModelContext) -> DataFrame:
        # /root/reference/models/staging/stg_orders.sql:13-17
        return ctx.ref("raw_orders").select(
            F.col("id").alias("order_id"),
            F.col("user_id").alias("customer_id"),
            "order_date",
            "status",
        )

    @project.model(
        name="stg_payments",
        materialized="view",
        deps=("raw_payments",),
        description="Staged payments: cents converted to dollars.",
        columns={"payment_id": "Primary key (unique, not null)."},
    )
    def stg_payments(ctx: ModelContext) -> DataFrame:
        # /root/reference/models/staging/stg_payments.sql:13-19
        # `amount / 100` — double division, SURVEY §1.3
        return ctx.ref("raw_payments").select(
            F.col("id").alias("payment_id"),
            "order_id",
            "payment_method",
            (F.col("amount") / 100).alias("amount"),
        )

    @project.model(
        name="customers",
        materialized="table",  # dbt_project.yml:24
        deps=("stg_customers", "stg_orders", "stg_payments"),
        description="One row per customer with order stats and lifetime value.",
        # full column docs mirroring models/schema.yml:7-30 — including
        # the PII annotations downstream redaction/governance reads
        columns={
            "customer_id": "This is a unique identifier for a customer.",
            "first_name": "Customer's first name. PII.",
            "last_name": "Customer's last name. PII.",
            "first_order": "Date (UTC) of a customer's first order; "
            "NULL for customers with no orders.",
            "most_recent_order": "Date (UTC) of a customer's most recent order.",
            "number_of_orders": "Count of the number of orders a customer "
            "has placed.",
            "customer_lifetime_value": "Total value (AUD) of a customer's "
            "orders; NULL if no orders. (schema.yml documents this column "
            "under its stale name total_order_amount — the model is the "
            "truth, SURVEY §0.)",
        },
    )
    def customers(ctx: ModelContext) -> DataFrame:
        # /root/reference/models/customers.sql:1-69
        cust = ctx.ref("stg_customers")
        orders = ctx.ref("stg_orders")
        payments = ctx.ref("stg_payments")

        # customers.sql:20-31
        customer_orders = orders.groupBy("customer_id").agg(
            F.min("order_date").alias("first_order"),
            F.max("order_date").alias("most_recent_order"),
            F.count("order_id").alias("number_of_orders"),
        )
        # customers.sql:33-46 — aggregate over a many-to-one left join
        customer_payments = (
            payments.join(orders.select("order_id", "customer_id"), "order_id", "left")
            .groupBy("customer_id")
            .agg(F.sum("amount").alias("total_amount"))
        )
        # customers.sql:48-67 — two chained left joins; NULLs preserved
        return (
            cust.join(customer_orders, "customer_id", "left")
            .join(customer_payments, "customer_id", "left")
            .select(
                "customer_id",
                "first_name",
                "last_name",
                "first_order",
                "most_recent_order",
                "number_of_orders",
                F.col("total_amount").alias("customer_lifetime_value"),
            )
        )

    @project.model(
        name="orders",
        materialized="table",
        deps=("stg_orders", "stg_payments"),
        description="One row per order with per-method payment amounts.",
        # full column docs mirroring models/schema.yml:31-90
        columns={
            "order_id": "This is a unique identifier for an order.",
            "customer_id": "Foreign key to the customers table.",
            "order_date": "Date (UTC) that the order was placed.",
            "status": "Order lifecycle state (see docs block "
            "orders_status): placed, shipped, completed, "
            "return_pending, returned.",
            "amount": "Total amount (AUD) of the order.",
            "credit_card_amount": "Amount of the order (AUD) paid for by "
            "credit card.",
            "coupon_amount": "Amount of the order (AUD) paid for by coupon.",
            "bank_transfer_amount": "Amount of the order (AUD) paid for by "
            "bank transfer.",
            "gift_card_amount": "Amount of the order (AUD) paid for by "
            "gift card.",
        },
    )
    def orders(ctx: ModelContext) -> DataFrame:
        # /root/reference/models/orders.sql:3-56
        orders_df = ctx.ref("stg_orders")
        payments = ctx.ref("stg_payments")

        # orders.sql:15-28 — conditional-aggregate pivot (Jinja loop -> Python)
        pivot_cols = [
            F.sum(
                F.when(F.col("payment_method") == m, F.col("amount")).otherwise(F.lit(0))
            ).alias(f"{m}_amount")
            for m in PAYMENT_METHODS
        ]
        order_payments = payments.groupBy("order_id").agg(
            *pivot_cols, F.sum("amount").alias("total_amount")
        )
        # orders.sql:32-54 — LEFT join (an order with no payments -> NULLs)
        return orders_df.join(order_payments, "order_id", "left").select(
            "order_id",
            "customer_id",
            "order_date",
            "status",
            *[f"{m}_amount" for m in PAYMENT_METHODS],
            F.col("total_amount").alias("amount"),
        )

    return project


def build_snapshots(project: Project) -> Project:
    """dbt `snapshot` analog — registered separately from the model DAG
    (dbt keeps snapshots/ outside models/ and runs them via their own
    verb). Tracks order status history: one SCD2 row per (order,
    status-era), closed when the status advances between snapshot runs.
    """

    @project.model(
        name="orders_status_snapshot",
        materialized="snapshot",
        deps=("stg_orders",),
        unique_key=("order_id",),
        check_cols=("status",),
        description="SCD2 history of each order's status (check strategy).",
    )
    def orders_status_snapshot(ctx: ModelContext) -> DataFrame:
        return ctx.ref("stg_orders").select("order_id", "status")

    return project


def load_jaffle_sources(
    project: Project, spark, seed_dir: str = DEFAULT_SEED_DIR, reload: bool = True
) -> None:
    """`dbt seed`: attach the 3 seed CSVs as sources. With
    ``reload=False`` (every verb but `seed`) a seed already stored in the
    project's warehouse and no older than its CSV is read from there."""
    seeds = load_seeds(spark, seed_dir, project.warehouse_dir, reload, project.written)
    for name, df in seeds.items():
        project.add_source(name, df)


def jaffle_checks(built: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """All 20 declarative test instances of the reference (SURVEY §2.3).

    Staging tests: /root/reference/models/staging/schema.yml:1-31.
    Mart tests:    /root/reference/models/schema.yml:1-82.
    Keys are `<test>__<model>__<column>`; each value is a violation
    DataFrame that must be empty.
    """
    c: dict[str, DataFrame] = {}

    # staging/schema.yml:7-9
    c["unique__stg_customers__customer_id"] = checks.unique(built["stg_customers"], "customer_id")
    c["not_null__stg_customers__customer_id"] = checks.not_null(
        built["stg_customers"], "customer_id"
    )
    # staging/schema.yml:13-20
    c["unique__stg_orders__order_id"] = checks.unique(built["stg_orders"], "order_id")
    c["not_null__stg_orders__order_id"] = checks.not_null(built["stg_orders"], "order_id")
    c["accepted_values__stg_orders__status"] = checks.accepted_values(
        built["stg_orders"], "status", ORDER_STATUSES
    )
    # staging/schema.yml:24-31
    c["unique__stg_payments__payment_id"] = checks.unique(built["stg_payments"], "payment_id")
    c["not_null__stg_payments__payment_id"] = checks.not_null(built["stg_payments"], "payment_id")
    c["accepted_values__stg_payments__payment_method"] = checks.accepted_values(
        built["stg_payments"], "payment_method", PAYMENT_METHODS
    )
    # schema.yml:7-12 (customers)
    c["unique__customers__customer_id"] = checks.unique(built["customers"], "customer_id")
    c["not_null__customers__customer_id"] = checks.not_null(built["customers"], "customer_id")
    # schema.yml:33-57 (orders keys/FK/status)
    c["unique__orders__order_id"] = checks.unique(built["orders"], "order_id")
    c["not_null__orders__order_id"] = checks.not_null(built["orders"], "order_id")
    c["not_null__orders__customer_id"] = checks.not_null(built["orders"], "customer_id")
    c["relationships__orders__customer_id"] = checks.relationships(
        built["orders"], "customer_id", built["customers"], "customer_id"
    )
    c["accepted_values__orders__status"] = checks.accepted_values(
        built["orders"], "status", ORDER_STATUSES
    )
    # schema.yml:58-82 (amount + 4 pivot columns not_null)
    c["not_null__orders__amount"] = checks.not_null(built["orders"], "amount")
    for m in PAYMENT_METHODS:
        c[f"not_null__orders__{m}_amount"] = checks.not_null(built["orders"], f"{m}_amount")
    return c
