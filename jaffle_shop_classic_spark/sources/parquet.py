"""Parquet source: the driver's star-schema test tables.

Columnar scans with Catalyst predicate pushdown + column pruning are the
100 TB path: every operator in the catalog expresses filters/projections
declaratively so the parquet reader only materializes the needed columns
and row groups (check ``PushedFilters`` / ``ReadSchema`` in .explain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)



# Per-session DataFrame cache: a DataFrame is an immutable plan, so
# reusing it skips Py4J base-relation rebuilding and parquet file
# re-listing on every query call (~0.15s/query at bench scale — the
# analog of a warehouse caching catalog metadata). Keyed by Spark
# application id so a new session never sees another session's plans.
# Bounded: stale (app, sf_dir) generations are evicted wholesale when
# the cache outgrows a few generations' worth of tables, so long-lived
# processes cycling sessions/sf_dirs don't accumulate dead plans.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}
_TABLE_CACHE_MAX = 4 * len(TABLES)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    df = _load_table_uncached(spark, sf_dir, name)
    if len(_TABLE_CACHE) >= _TABLE_CACHE_MAX:
        current_gen = key[:2]
        for k in [k for k in _TABLE_CACHE if k[:2] != current_gen]:
            del _TABLE_CACHE[k]
    _TABLE_CACHE[key] = df
    return df


def load_table_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """load_table + repartition to core count — for queries whose
    HEAVIEST map stage (gram explosion, minhash lanes, per-row vector
    math, Python UDTF/UDF kernels) sits directly on the scan.

    The bench files are single-row-group parquet, so such a stage runs
    on ONE core without this; sizing compute-bound map stages by cores
    rather than input bytes is the general rule, and the repartition
    shuffle moves only the raw input rows (cheap relative to the stage
    it parallelizes — every adoption below was gated on an interleaved
    A/B median at sf0.1, wins ranged 20-68%). At cluster scale the scan
    arrives pre-split and spark.sql.files.maxPartitionBytes does this
    job; the explicit repartition is bench-scale insurance that also
    documents WHERE the compute-bound stages are. NOT for queries whose
    first stage is a cheap filter/project feeding a shuffle — measured
    regressions there (corpus_token_ids, cf_item_cosine,
    lang_nb_classifier, text_heavy_hitters_mg stay on plain
    load_table). Round-10 heavy-tier audit (tools/ab_scan.py, last
    present at commit 8b08e99;
    interleaved medians at sf0.1): ADOPTED sim_pairs_blocked (0.19x),
    sim_ml_lsh_bucketed (0.25x) — per-pair vector math on the scan —
    and table_stats_profile (0.36x, multi-distinct expand on the
    scan); REGRESS eval_pass_at_k (1.47x, stays plain — its first
    stage is a cheap keyed aggregate); NEUTRAL (stay plain, ratios
    0.92-1.06) for text_char_entropy_gate, rank_bradley_terry,
    dedup_keep_best_representative, dedup_cluster_components_star,
    quality_lr_classifier, tokenizer_bpe_encode, graph_pagerank,
    entity_resolution_clusters — their first stages aggregate or
    shuffle before the heavy work, so the scan split buys nothing."""
    return load_table(spark, sf_dir, name).repartition(
        spark.sparkContext.defaultParallelism
    )


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events.ts column to zoned TIMESTAMP (µs) regardless
    of which physical encoding the testdata generation used.

    - TIMESTAMP(NANOS) parquet is surfaced as LongType under
      ``spark.sql.legacy.parquet.nanosAsLong``; floor-divide to µs (the
      same truncation DuckDB applies) with integer `div`, not `/` —
      double division rounds at 1e18-nano magnitudes, shifting some
      stamps by 1 µs vs DuckDB's floor.
    - timestamp[us] with no zone reads as TIMESTAMP_NTZ, which
      unix_micros() et al. reject. The session runs in UTC (session.py),
      so casting to the zoned TIMESTAMP type preserves every microsecond
      value exactly and keeps oracle parity (DuckDB is zoneless too).
    """
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_events_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL API surface)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
