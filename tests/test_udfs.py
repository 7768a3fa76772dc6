"""Value-level tests for ``operators/udfs.py``: the Python UDF and UDTF
entries.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from jaffle_shop_classic_spark.operators.catalog import load_catalog


def test_udtf_installments_conserve_total(spark, sf_dir):
    """Every order's 3 installments sum back to its exact cent total —
    the UDTF neither drops nor invents cents."""
    out = load_catalog()["udtf_installment_plan"].fn(spark, sf_dir)
    per_order = out.groupBy("order_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("amount_cents").alias("cents")
    )
    from jaffle_shop_classic_spark.sources.parquet import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_id"),
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias("expect"),
    )
    joined = per_order.join(orders, "order_id")
    assert joined.filter("n != 3 OR cents != expect").count() == 0
    assert per_order.count() == orders.count()
