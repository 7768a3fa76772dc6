"""Seed loader — the `dbt seed` analog (SURVEY §3.1).

Reads headered CSVs with pinned schemas and materializes them as
Parquet-backed tables (columnar from the first hop; at scale the CSV ->
Parquet rewrite is the shuffle-free parallel ingest path), then
registers temp views so downstream models resolve them by name.

With a warehouse, ``reload=False`` (every verb but `seed`) reads a
seed's stored parquet instead while it is complete and no older than
its CSV (sources/warehouse.py), so only `seed` and a changed CSV pay
for the rewrite. The three seeds load side by side.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession

from ..schemas import SEED_SCHEMAS
from ..session import run_concurrently
from .warehouse import is_fresh, write_relation

# The reference project's seed CSVs (read-only); override per-project.
DEFAULT_SEED_DIR = os.environ.get("JAFFLE_SEED_DIR", "/root/reference/seeds")


def load_seed(
    spark: SparkSession,
    name: str,
    seed_dir: str = DEFAULT_SEED_DIR,
    warehouse_dir: str | None = None,
    reload: bool = True,
    written: dict[str, int] | None = None,
) -> DataFrame:
    """Load one seed; with a warehouse, ``written[name]`` records the
    rows stored when the CSV is (re)written."""
    schema = SEED_SCHEMAS[name]
    csv = f"{seed_dir}/{name}.csv"
    if warehouse_dir is None:
        df = _read_csv(spark, csv, schema)
    else:
        path = f"{warehouse_dir}/{name}"
        if reload or not is_fresh(path, [csv]):
            rows = write_relation(_read_csv(spark, csv, schema), path)
            if written is not None:
                written[name] = rows
        df = spark.read.schema(schema).parquet(path)  # no schema-inference job
    df.createOrReplaceTempView(name)
    return df


def _read_csv(spark: SparkSession, csv: str, schema) -> DataFrame:
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "FAILFAST")  # bad rows are load errors, not silent NULLs
        .csv(csv)
    )


def load_seeds(
    spark: SparkSession,
    seed_dir: str = DEFAULT_SEED_DIR,
    warehouse_dir: str | None = None,
    reload: bool = True,
    written: dict[str, int] | None = None,
) -> dict[str, DataFrame]:
    loads = [
        functools.partial(load_seed, spark, name, seed_dir, warehouse_dir, reload, written)
        for name in SEED_SCHEMAS
    ]
    return dict(zip(SEED_SCHEMAS, run_concurrently(spark, loads)))
