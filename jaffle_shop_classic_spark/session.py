"""SparkSession factory.

Tuned for the driver's harness (local[N], single JVM) while keeping every
setting cluster-portable: AQE handles runtime re-planning (partition
coalescing, skew joins) on a real cluster; UTC session timezone pins
timestamp semantics so results compare exactly against the DuckDB oracle
(DuckDB timestamps are UTC-naive).

``run_concurrently`` overlaps independent Spark actions on a few Python
threads: at small scale an action is mostly fixed scheduling cost, so
independent ones are cheaper side by side than in a row.

``pinned_conf`` sets session confs for the length of a block and puts
them back as they were on every exit path.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator, Mapping, Sequence
from contextlib import contextmanager
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

T = TypeVar("T")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "jaffle_shop_classic_spark",
    shuffle_partitions: int | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the local core count: at local test
    scale (sf<=0.1) Spark's 200-partition default just adds scheduling
    overhead, while on a real cluster this is sized to ~2-3x total cores.
    AQE coalesces small post-shuffle partitions either way, so the value
    is a ceiling, not a hard choice.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def run_concurrently(spark: SparkSession, fns: Sequence[Callable[[], T]]) -> list[T]:
    """Call each of ``fns`` (independent Spark actions) on a pool of at
    most ``defaultParallelism`` threads; return their results in input
    order. Every call runs to completion, then the first failure in input
    order is re-raised, so callers see the exception the serial loop
    would have raised first. Each call inherits the caller's local
    properties (job group, scheduler pool) as they are at submission."""
    if len(fns) <= 1:
        return [fn() for fn in fns]
    workers = min(len(fns), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(fn)) for fn in fns]
    return [f.result() for f in futures]


@contextmanager
def pinned_conf(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set each of ``confs`` on the session for the block, then restore
    every key as it was before: its old value, or unset if it was unset.
    The restore runs however the block exits, exceptions included."""
    saved = {key: spark.conf.get(key, None) for key in confs}
    try:
        for key, value in confs.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, value in saved.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
