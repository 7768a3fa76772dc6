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

``CODEGEN_CACHE_MAX_ENTRIES`` sizes Spark's cache of compiled generated
classes (``spark.sql.codegen.cache.maxEntries``, default 100) to the
catalog's working set, so a warm query in the long-lived session finds
its classes compiled. Guava splits the limit over 4 LRU segments of ~25
classes, so at 100 any working set past ~100 classes evicts and
recompiles on every pass: a ``catalog_mix`` benchmark pass generates
~210. A miss costs a Janino compile inside the task plus a fresh class
that starts out interpreted. A cold pass over the full catalog at
sf0.001 compiles ~4,600 classes (220-250 of them differ between runs
and miss at any size); 8192 gives each segment ~1.7x its mean share.
SCALING.md has the measurements.

- The cache is per JVM: the driver and each executor keep their own
  copy (in local mode they share one JVM and one cache).
- It is a static SQL conf, read once when a JVM first generates code.
  It is set on the SparkConf here, before the context starts, and
  executors get it with the SparkConf they are launched with.
- Cost, after a full GC on a 4-core VM: two full-catalog passes leave
  43 MB more metaspace and compressed class space in use than at 100
  entries (284 against 241 MB, ~9 KB per cached class), which bounds
  the extra at ~75 MB for 8192 classes. JVM RSS was 2.4 against 2.1 GB,
  mostly heap. On the ``catalog_mix`` working set the two differ by
  ~1 MB of metaspace.
- Sessions built elsewhere keep Spark's default of 100: a harness that
  creates its own session and hands it to ``__spark_entry__.entry(spark)``
  or ``queries()``, and any session that existed before ``get_spark()``
  was first called in the process (``getOrCreate`` applies no static
  conf to a running context).
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

# spark.sql.codegen.cache.maxEntries: the full catalog's ~4,600 distinct
# generated classes with headroom for Guava's 4 segments (module docstring)
CODEGEN_CACHE_MAX_ENTRIES = 8192


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
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
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
