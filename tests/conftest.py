from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jaffle_shop_classic_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("JAFFLE_TEST_SF_DIR", "/root/testdata/sf0.001")
SEED_DIR = os.environ.get("JAFFLE_SEED_DIR", "/root/reference/seeds")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("pytest", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def seed_dir():
    return SEED_DIR


def write_docs(spark, path, rows):
    """Write a ``documents`` table under ``path``: ``rows`` are full
    (doc_id, text, lang, source, n_chars) tuples, or {doc_id: text}."""
    if isinstance(rows, dict):
        rows = [(i, t, "en", "src0", len(t)) for i, t in rows.items()]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def write_events(spark, path, rows):
    """Write an ``events`` table under ``path``; ``ts`` is given as a string."""
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode("overwrite").parquet(
        f"{path}/events.parquet"
    )
