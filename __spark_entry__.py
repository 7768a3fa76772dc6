"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``jaffle_shop_classic_spark``; this module just
exposes its query catalog in the driver's shape.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from jaffle_shop_classic_spark.operators.catalog import driver_catalog, load_catalog  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (customers-mart analog) on /root/testdata/sf0.001."""
    catalog = load_catalog()
    return catalog["jaffle_customers"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in driver order."""
    return {name: spec.fn for name, spec in driver_catalog().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB twin for each SQL-expressible query (others: rows-only check)."""
    return {
        name: spec.oracle
        for name, spec in driver_catalog().items()
        if spec.oracle is not None
    }
