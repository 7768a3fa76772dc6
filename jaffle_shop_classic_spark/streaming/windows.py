"""Structured Streaming operators X15 (SURVEY §2.4) over the events table.

Batch-first design (SURVEY §2.4 X14 note): every windowed aggregation in
operators/extensions.py has identical semantics here — `F.window` /
`F.session_window` produce the same buckets in batch and streaming, so
the batch queries are the oracle-checked surface and these streaming
twins add watermarking/late-data handling on top.

The file source streams the same parquet the batch path reads (one file
= one micro-batch in tests). In production the source is Kafka etc.;
only `stream_events` changes. Watermarks bound state: a 1-hour watermark
means window state older than (max event time - 1h) is evicted, so state
size is O(active windows), not O(stream length) — the property that
makes these plans run indefinitely at cluster scale.
"""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from jaffle_shop_classic_spark.operators.catalog import register
from jaffle_shop_classic_spark.session import pinned_conf
from jaffle_shop_classic_spark.sources.parquet import normalize_events_ts

_SCHEMA_CACHE: dict[tuple[str, str, str], StructType] = {}


def _file_schema(spark: SparkSession, sf_dir: str, file: str) -> StructType:
    """Footer schema of ``file`` in ``sf_dir``, read once per
    (application, sf_dir, file) — the key sources.parquet's table cache
    uses — since every drain re-reads it and a read costs ~0.1 s warm."""
    key = (spark.sparkContext.applicationId, sf_dir, file)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = _SCHEMA_CACHE[key] = spark.read.parquet(f"{sf_dir}/{file}").schema
    return schema


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream twin of sources.parquet.load_table(..., 'events').

    The testdata's physical ts encoding has varied across generations
    (TIMESTAMP(NANOS) -> long under nanosAsLong, later timestamp[us] ->
    TIMESTAMP_NTZ), so take the readStream schema from a batch peek of
    the same file (footer-only, no data scan) and normalize ts through
    the shared sources.parquet.normalize_events_ts shim — keeping the
    stream byte-identical to the batch surface the oracles certify.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = _file_schema(spark, sf_dir, "events.parquet")
    # the file source requires a *directory*; select just events.parquet
    # out of the shared sf_dir via a glob filter
    raw = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return normalize_events_ts(raw)


def tumbling_counts_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of operators.extensions.q_tumbling_window."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def sliding_counts_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of operators.extensions.q_sliding_window: 10-min
    windows sliding every 5 — each event lands in 2 overlapping windows;
    state is O(open windows), eviction per the same watermark rule."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def interval_join_streams(
    views: DataFrame, purchases: DataFrame, window_sec: int = 3600
) -> DataFrame:
    """Stream-stream INNER interval join: every purchase matched with the
    views in its preceding hour.

    Structured Streaming rejects joins with no equality predicate, so
    this reuses the batch range-join design (extensions.py
    q_range_join_bucketed): both sides get an hour-bucket equi-key, the
    purchase side probes its 2 candidate buckets (a W-second lookback
    spans exactly 2 W-wide buckets; each matching pair lands in exactly
    one, so no dedup), and the exact range predicate filters inside the
    bucket. Both sides are watermarked and the time predicate bounds
    event-time distance, so each side's buffered state is evicted once
    the other side's watermark passes the bound — state is O(1h of
    stream) regardless of stream length, and the bucket key carries the
    state-store partitioning.

    The watermark delay is derived from window_sec: a fixed delay
    shorter than the join bound would let Spark evict buffered rows
    before the event-time bound closes, silently dropping matches in a
    multi-batch stream (masked in availableNow single-batch runs)."""
    w_us = window_sec * 1_000_000
    wm = f"{window_sec} seconds"
    v = (
        views.withWatermark("ts", wm)
        .select(
            F.col("event_id").alias("v_id"),
            F.col("ts").alias("v_ts"),
            F.expr(f"unix_micros(ts) div {w_us}").alias("bucket"),
        )
    )
    p = (
        purchases.withWatermark("ts", wm)
        .select(
            F.col("event_id").alias("p_id"),
            F.col("ts").alias("p_ts"),
            # the two probe buckets differ by exactly 1 for every row
            # (lookback == bucket width), so no distinct-wrapper needed
            F.explode(
                F.array(
                    F.expr(f"(unix_micros(ts) - {w_us}) div {w_us}"),
                    F.expr(f"unix_micros(ts) div {w_us}"),
                )
            ).alias("bucket"),
        )
    )
    return v.join(
        p,
        (v.bucket == p.bucket)
        & (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {window_sec} SECONDS"))
        & (F.col("v_ts") < F.col("p_ts")),
        "inner",
    ).select("p_id", "v_id")


def chained_windows_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Two stateful operators chained in ONE streaming query (the
    multiple-stateful-operator capability, Spark 3.4+): 10-minute
    tumbling counts feed a second window aggregate that rolls them into
    per-hour peaks. The outer groupBy windows over the INNER WINDOW
    COLUMN (window-of-window), so Spark tracks the derived event time
    through both state stores; each stage's state is bounded by the one
    shared watermark."""
    inner = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes").alias("w10"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        inner.groupBy(F.window(F.col("w10"), "1 hour").alias("w60"), "event_type")
        .agg(
            F.max("n").alias("max_10min_events"),
            F.count(F.lit(1)).alias("n_buckets"),
        )
        .select(
            F.col("w60.start").alias("hour_start"),
            "event_type",
            "max_10min_events",
            "n_buckets",
        )
    )


def window_top_type_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming per-window top-1: window counts feed a second stateful
    aggregate whose argmax is a struct-max — (count, event_type) max is
    deterministic on ties (largest count, then lexicographically last
    type), which is what makes the result oracle-checkable. A general
    top-k keeps a k-element sorted-array state the same way."""
    inner = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        inner.groupBy("w")
        .agg(
            F.max(F.struct("n", "event_type")).alias("top"),
            F.sum("n").alias("total_events"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("top.event_type").alias("top_type"),
            F.col("top.n").alias("top_n"),
            "total_events",
        )
    )


def left_outer_join_streams(
    purchases: DataFrame, views: DataFrame, window_sec: int = 3600
) -> DataFrame:
    """Stream-stream LEFT OUTER join: every purchase matched with the
    same user's views in its preceding window, or emitted null-padded
    once the engine can prove no match will arrive.

    Unlike the inner interval join (which needed a synthetic bucket
    key), user_id is a natural equality key, so the join is a plain
    keyed stream-stream join with an event-time range predicate. The
    null-padded row for an unmatched purchase emits when the purchase
    leaves the state store — only then is "no match" provable. Both
    watermark delays derive from window_sec, same rationale as
    interval_join_streams."""
    wm = f"{window_sec} seconds"
    p = purchases.withWatermark("ts", wm).select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    v = views.withWatermark("ts", wm).select(
        F.col("event_id").alias("v_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    return p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {window_sec} SECONDS"))
        & (F.col("v_ts") < F.col("p_ts")),
        "leftOuter",
    ).select("p_id", "v_id")


def session_window_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Streaming sessionization via the native session_window operator —
    merging-window state per user, bounded by the watermark.

    NOTE: the 1-hour watermark and the registered oracle both assume the
    default 30-minute gap; a caller passing a larger gap must widen the
    watermark to match (sessions can only close once the watermark
    passes end+gap) and cannot reuse q_stream_session_windows' SQL twin.
    """
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream twin of the documents table (schema from a batch
    footer peek, like stream_events). The corpus has no ingest
    timestamp, so a deterministic one is derived from doc_id (1 doc/sec
    arrival clock) — the stand-in for the pipeline's real ingest time."""
    raw = (
        spark.readStream.schema(_file_schema(spark, sf_dir, "documents.parquet"))
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )
    # base 2024-01-01 (not epoch 0: an event time equal to the initial
    # watermark is treated as late and silently dropped)
    return raw.withColumn(
        "ingest_ts", F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id"))
    )


def _simhash16_py(texts: pd.Series) -> pd.Series:
    """Pandas-batch SimHash, bit-for-bit identical to the portable SQL
    form in operators/dedup.py (_bit_pm1_sql): distinct whitespace
    tokens vote +/-1 per bit of their md5; sign vector -> 16-bit string.
    Lives here as a plain function so tests can call it directly."""
    import hashlib
    import re

    out = []
    for text in texts:
        if text is None:
            # mirror the SQL twins: trim(NULL)/split(NULL) vote nothing
            out.append("1" * 16)
            continue
        sums = [0] * 16
        # ASCII-only strip/split to match F.trim (spaces) and the Java/
        # RE2 \s class — Python's unicode-aware str.strip()/\s would
        # diverge on tabs/NBSP at the text boundary
        for t in set(re.split(r"[ \t\n\x0b\f\r]+", text.strip(" "))):
            h = hashlib.md5(t.encode()).hexdigest()
            for b in range(16):
                bit = (int(h[b // 4], 16) >> (3 - b % 4)) & 1
                sums[b] += bit * 2 - 1
        out.append("".join("1" if s >= 0 else "0" for s in sums))
    return pd.Series(out)


def neardup_dedup_stream(docs: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming NEAR-duplicate dedup: SimHash fingerprint computed
    map-side (Arrow-batched pandas UDF — no pre-shuffle, the shape a
    stream needs; the batch path's explode+aggregate form would be a
    second stateful operator), then dropDuplicatesWithinWatermark on
    the fingerprint — later documents whose token sets SimHash-collide
    with one seen inside the horizon are dropped. State is O(distinct
    fingerprints per horizon). The firehose-side gate that runs BEFORE
    storage, complementing the batch LSH pipeline behind it."""
    @F.pandas_udf("string")
    def simhash_udf(texts: pd.Series) -> pd.Series:
        return _simhash16_py(texts)

    keyed = docs.select(
        "doc_id", "ingest_ts", simhash_udf(F.col("text")).alias("simhash")
    )
    return keyed.withWatermark("ingest_ts", watermark).dropDuplicatesWithinWatermark(
        ["simhash"]
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id with bounded state: duplicates
    arriving within the watermark horizon are dropped; older state is
    evicted (the streaming analog of X4)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


STREAM_PART_BYTES = 16 << 20  # source bytes per state partition
STREAM_MIN_PARTS = 8
STREAM_MAX_PARTS = 4096
NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


def _stream_state_parts(
    spark: SparkSession, sf_dir: str, source: str = "events.parquet"
) -> int:
    """State-partition count for a streaming query: one partition per
    STREAM_PART_BYTES (16 MiB) of its ``source`` file in ``sf_dir``,
    capped at STREAM_MAX_PARTS (4096), with a floor of
    min(STREAM_MIN_PARTS, defaultParallelism) — 8, or the task-slot
    count when there are fewer slots.

    Every stateful streaming operator keeps one state store per shuffle
    partition, and each store pays a fixed per-micro-batch cost
    (snapshot/delta write, maintenance, commit) however little state it
    holds. So the count follows the bytes a micro-batch carries, not the
    core count the session's `spark.sql.shuffle.partitions` follows: on
    one 32-core session at sf0.1 the interval join ran 12.1 / 3.97 /
    3.18 s at 32 / 8 / 2 partitions (commit 7059751). At cluster scale state is
    O(watermark horizon), so bytes per partition is the knob that holds.

    The floor lets per-batch compute (Python stateful kernels, window
    aggregates), which runs one task per state partition, spread over
    up to 8 task slots. It goes no higher than the slot count because a partition
    beyond it runs in a second wave of tasks: another round of
    per-store commits and no more parallelism. On 4 cores floor 4 beat
    8 on every entry measured, and floor 2 slowed the two pandas
    entries (SCALING.md, "Streaming state partitions")."""
    size = os.path.getsize(os.path.join(sf_dir, source))
    floor = min(STREAM_MIN_PARTS, spark.sparkContext.defaultParallelism)
    return max(
        floor,
        min(STREAM_MAX_PARTS, (size + STREAM_PART_BYTES - 1) // STREAM_PART_BYTES),
    )


def run_stream_to_batch(
    streaming_df: DataFrame, name: str, output_mode: str = "append",
    state_parts: int | None = None, emits_on_watermark: bool = True,
) -> DataFrame:
    """Drive a streaming query over the available data to completion and
    return the result as a batch DataFrame.

    Append mode drains through a PARQUET FILE SINK in a scratch dir and
    reads the directory back: executors write, executors read, and the
    driver never holds the result set — the memory sink serializes every
    output row into driver memory, which at sf1 pushed the interval
    join's ~hour-of-views x purchases output past
    spark.driver.maxResultSize (the round-12 scaling-curve crash).
    That is exactly how a production job lands append output, so the
    harness now exercises the real sink path. Update mode keeps the
    memory sink: the file sink is append-only by contract, and every
    update-mode entry here emits O(distinct keys) aggregate rows, not
    O(stream) rows.

    Two session confs are pinned for the drain (it is synchronous, so no
    other query sees them) and restored on every exit path:
    `state_parts` sets `spark.sql.shuffle.partitions`, which a streaming
    query captures at start as its state-store partition count; and
    `emits_on_watermark=False` turns off Spark's trailing no-data
    micro-batch. That batch only advances the watermark: it closes
    windows, sessions and outer-join rows, but a query whose rows leave
    as they arrive (inner join, dedup, update-mode state, stream-static
    join) emits nothing in it and pays one more round of state commits."""
    spark = streaming_df.sparkSession
    confs = {}
    if state_parts is not None:
        confs["spark.sql.shuffle.partitions"] = str(state_parts)
    if not emits_on_watermark:
        confs[NO_DATA_BATCHES] = "false"
    q = None
    with pinned_conf(spark, confs):
        try:
            if output_mode == "append":
                out_dir = tempfile.mkdtemp(prefix=f"{name}-")
                _SINK_DIRS[name] = out_dir
                q = (
                    streaming_df.writeStream.format("parquet")
                    .option("path", out_dir)
                    .option("checkpointLocation", os.path.join(out_dir, "_ckpt"))
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
            else:
                out_dir = None
                q = (
                    streaming_df.writeStream.format("memory")
                    .queryName(name)
                    .outputMode(output_mode)
                    .trigger(availableNow=True)
                    .start()
                )
            finished = q.awaitTermination(timeout=120)
        finally:
            if q is not None and q.isActive:  # pragma: no cover — safety net
                q.stop()
    if not finished:  # pragma: no cover — CI-load safety net
        # a silent timeout would hand the caller a PARTIALLY-filled
        # sink that masquerades as a semantics bug downstream
        raise RuntimeError(
            f"streaming drain '{name}' did not finish within 120s — "
            "partial results discarded"
        )
    if out_dir is not None:
        # schema pinned from the plan: an all-late/empty drain leaves no
        # part files and schema inference would fail on the bare dir
        return spark.read.schema(streaming_df.schema).parquet(out_dir)
    return spark.table(name)


# ------------------------------------------------------- custom stateful op
RUNNING_STATS_SCHEMA = "user_id long, n_events long, total_value double, max_value double"
_STATE_SCHEMA = "n long, total double, mx double"


def _running_stats_fn(key, pdf_iter, state):
    """applyInPandasWithState kernel: per-user running event stats.

    State = (count, sum, max) per user — O(1) per key, updated across
    micro-batches; the GroupState survives between triggers, which is
    what distinguishes this from a per-batch groupBy.
    """
    import pandas as pd

    (n, total, mx) = state.get if state.exists else (0, 0.0, float("-inf"))
    for pdf in pdf_iter:
        n += len(pdf)
        total += float(pdf["value"].sum())
        if len(pdf):
            mx = max(mx, float(pdf["value"].max()))
    state.update((n, total, mx))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [round(total, 2)],
            "max_value": [round(mx, 2)],
        }
    )


def running_user_stats_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator (X15): arbitrary per-key state via
    applyInPandasWithState — the escape hatch when built-in windowed
    aggregations can't express the state machine. Emits the updated
    per-user totals every micro-batch."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_stats_fn,
            outputStructType=RUNNING_STATS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


# ------------------------------------------------- catalog registrations
# Streaming has no DuckDB oracle (X15 — the driver records a rows-only
# check); semantic verification is tests/test_streaming.py, which diffs
# each twin against its oracle-green batch equivalent on the same data.
_SINK_SEQ = itertools.count()
_LAST_SINK: dict[str, str] = {}
_SINK_DIRS: dict[str, str] = {}  # sink name -> file-sink scratch dir


def _drain(
    df: DataFrame, base: str, output_mode: str = "append",
    sf_dir: str | None = None, source: str = "events.parquet",
    emits_on_watermark: bool = True,
) -> DataFrame:
    """Unique sink name per call so re-runs don't collide; the PREVIOUS
    generation's sink for the same base is dropped (memory-sink temp
    view and/or file-sink scratch dir) so repeated bench/parity rounds
    don't pin every past result set in driver memory or scratch disk.
    When `sf_dir` is given the drain runs under the state-partition
    count derived from the size of its `source` file there (see
    _stream_state_parts). An entry whose output leaves on arrival
    declares `emits_on_watermark=False` and skips the trailing no-data
    micro-batch (see run_stream_to_batch)."""
    name = f"{base}_{next(_SINK_SEQ)}"
    stale = _LAST_SINK.get(base)
    if stale is not None:
        df.sparkSession.catalog.dropTempView(stale)
        stale_dir = _SINK_DIRS.pop(stale, None)
        if stale_dir is not None:
            shutil.rmtree(stale_dir, ignore_errors=True)
    _LAST_SINK[base] = name
    parts = (
        _stream_state_parts(df.sparkSession, sf_dir, source) if sf_dir is not None else None
    )
    return run_stream_to_batch(
        df, name, output_mode, state_parts=parts, emits_on_watermark=emits_on_watermark
    )


@register(
    "stream_tumbling_counts",
    # availableNow + append mode is deterministic on a static file: the
    # final no-data batch advances the watermark to max(ts) - 1h (Spark
    # tracks event time at ms precision -> epoch_ms truncation below)
    # and emits exactly the windows whose end <= watermark, with full
    # counts (all data arrived in the single file micro-batch, so
    # nothing was late-dropped). That closed-window set is plain SQL.
    oracle="""
    WITH wm AS (
      SELECT make_timestamp(epoch_ms(max(ts)) * 1000) - INTERVAL 1 HOUR AS w
      FROM events
    )
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events, wm
    GROUP BY window_start, event_type, wm.w
    HAVING window_start + INTERVAL '10 minutes' <= wm.w
    """,
    doc="X15: streaming twin of tumbling_window — readStream parquet "
    "source, 1h watermark, 10-min tumbling count/sum, memory sink "
    "drained with availableNow. Append mode emits watermark-closed "
    "windows; state is O(open windows) regardless of stream length. "
    "Oracle: the closed-window set is deterministic for availableNow "
    "over a static file, so it is SQL-checkable, not rows-only.",
)
def q_stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _drain(
        tumbling_counts_stream(stream_events(spark, sf_dir)),
        "stream_tumbling",
        sf_dir=sf_dir,
    )


@register(
    "stream_sliding_counts",
    # Same closed-window determinism as the tumbling twin; each event
    # belongs to exactly 2 overlapping windows, enumerated in SQL as the
    # two 5-min-aligned starts covering its timestamp.
    oracle="""
    WITH wm AS (
      SELECT make_timestamp(epoch_ms(max(ts)) * 1000) - INTERVAL 1 HOUR AS w
      FROM events
    ),
    e AS (
      SELECT event_type,
             unnest([time_bucket(INTERVAL '5 minutes', ts),
                     time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'
                    ]) AS window_start
      FROM events
    )
    SELECT window_start, event_type, CAST(count(*) AS BIGINT) AS n_events
    FROM e, wm
    GROUP BY window_start, event_type, wm.w
    HAVING window_start + INTERVAL '10 minutes' <= wm.w
    """,
    doc="X15: streaming sliding-window counts (10-min window, 5-min "
    "slide) — the overlap means 2x window state vs tumbling, still "
    "O(open windows) under the watermark. Oracle enumerates each "
    "event's 2 covering windows and keeps the watermark-closed set.",
)
def q_stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _drain(
        sliding_counts_stream(stream_events(spark, sf_dir)),
        "stream_sliding",
        sf_dir=sf_dir,
    )


@register(
    "stream_interval_join",
    # Inner stream-stream joins emit a match in the micro-batch where
    # both rows are present; with availableNow over one file everything
    # is co-present in batch 1, so the emitted set is exactly the batch
    # join — SQL-deterministic. (Outer variants emit null-padded rows
    # only as the watermark closes buckets; the inner form needs no
    # such carve-out.)
    oracle="""
    SELECT p.event_id AS p_id, v.event_id AS v_id
    FROM events p JOIN events v
      ON v.event_type = 'view'
     AND v.ts >= p.ts - INTERVAL 3600 SECOND
     AND v.ts < p.ts
    WHERE p.event_type = 'purchase'
    """,
    doc="X15: stream-stream interval join — purchases matched to the "
    "views of their preceding hour, both sides watermarked so buffered "
    "state is evicted once the opposite watermark passes the time "
    "bound (the unbounded-join requirement). Streaming twin of "
    "range_join_bucketed's pair core.",
)
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view")
    purchases = stream_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    return _drain(
        interval_join_streams(views, purchases), "stream_ij",
        sf_dir=sf_dir, emits_on_watermark=False,
    )


@register(
    "stream_chained_windows",
    # Chained stateful determinism under availableNow: the inner 10-min
    # windows finalize as the watermark passes them and flow into the
    # outer hour aggregate; an hour window emits iff its end <= final
    # watermark, which (hour end >= every inner end it contains) also
    # finalizes all its inner buckets — so the emitted set is the plain
    # batch rollup filtered to closed hours. Verified symdiff-0 at
    # sf0.001 and sf0.01.
    oracle="""
    WITH wm AS (
      SELECT make_timestamp(epoch_ms(max(ts)) * 1000) - INTERVAL 3600 SECOND AS w
      FROM events
    ),
    b AS (
      SELECT time_bucket(INTERVAL '10 minutes', ts) AS w10, event_type,
             count(*) AS n
      FROM events GROUP BY w10, event_type
    )
    SELECT time_bucket(INTERVAL '1 hour', w10) AS hour_start, event_type,
           CAST(max(n) AS BIGINT) AS max_10min_events,
           CAST(count(*) AS BIGINT) AS n_buckets
    FROM b, wm
    GROUP BY hour_start, event_type, wm.w
    HAVING hour_start + INTERVAL '1 hour' <= wm.w
    """,
    doc="X15: two stateful aggregations chained in one streaming query "
    "(multiple-stateful-operator support): 10-min tumbling counts "
    "rolled into per-hour peak load via a window-over-window groupBy. "
    "Pre-aggregation at the finer grain is the streaming analog of "
    "partial aggregation — the hour stage sees 6 rows per key-hour "
    "instead of every event, so a 100x event-rate spike inflates only "
    "the first state store. Both stores share one watermark; emitted "
    "set is SQL-deterministic (see inline comment).",
)
def q_stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _drain(
        chained_windows_stream(stream_events(spark, sf_dir)),
        "stream_chain",
        sf_dir=sf_dir,
    )


@register(
    "stream_window_top_type",
    # Same chained-stateful determinism as stream_chained_windows: the
    # outer agg keys on the SAME window, so emission = closed windows;
    # the struct-max argmax breaks count ties by the lexicographically
    # last type in both engines. Symdiff-0 at sf0.001 and sf0.01.
    oracle="""
    WITH wm AS (
      SELECT make_timestamp(epoch_ms(max(ts)) * 1000) - INTERVAL 3600 SECOND AS w
      FROM events
    ),
    b AS (
      SELECT time_bucket(INTERVAL '10 minutes', ts) AS ws, event_type,
             count(*) AS n
      FROM events GROUP BY ws, event_type
    ),
    r AS (
      SELECT ws, event_type, n,
             row_number() OVER (PARTITION BY ws
                                ORDER BY n DESC, event_type DESC) AS rn,
             sum(n) OVER (PARTITION BY ws) AS total_events
      FROM b
    )
    SELECT ws AS window_start, event_type AS top_type,
           CAST(n AS BIGINT) AS top_n, CAST(total_events AS BIGINT) AS total_events
    FROM r, wm WHERE rn = 1 AND ws + INTERVAL '10 minutes' <= wm.w
    """,
    doc="X15: streaming per-window top type — the live 'trending now' "
    "query: window counts chained into a second stateful aggregate "
    "whose argmax is a deterministic struct-max. Outer state is one "
    "(top, total) pair per open window; a general top-k holds a "
    "k-element array the same way. Closed-window emission makes it "
    "value-hash-checkable like the other chained-stateful entries.",
)
def q_stream_window_top_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _drain(
        window_top_type_stream(stream_events(spark, sf_dir)),
        "stream_toptype",
        sf_dir=sf_dir,
    )


@register(
    "stream_left_outer_join",
    # Outer-join determinism under availableNow, pinned empirically at
    # sf0.001 AND sf0.01 (symdiff 0 at both): matched pairs emit in
    # batch 1 (all data co-present); a null-padded row emits for an
    # unmatched purchase iff its event time is at or below the FINAL
    # GLOBAL watermark. Each side's watermark node tracks max event
    # time over its own (post-filter) input, ms-truncated, minus the
    # delay; the global watermark is the MIN of the two sides — on this
    # data views and purchases end at different times, so using
    # max(all ts) is measurably wrong (off-by-one-row at both sfs).
    oracle="""
    WITH wm AS (
      SELECT make_timestamp(least(
               epoch_ms(max(ts) FILTER (event_type = 'purchase')),
               epoch_ms(max(ts) FILTER (event_type = 'view'))) * 1000)
             - INTERVAL 3600 SECOND AS w
      FROM events
    ),
    p AS (SELECT event_id AS p_id, user_id, ts FROM events
          WHERE event_type = 'purchase'),
    v AS (SELECT event_id AS v_id, user_id, ts AS v_ts FROM events
          WHERE event_type = 'view'),
    m AS (SELECT p.p_id, v.v_id FROM p JOIN v ON p.user_id = v.user_id
          AND v.v_ts >= p.ts - INTERVAL 3600 SECOND AND v.v_ts < p.ts)
    SELECT p_id, v_id FROM m
    UNION ALL
    SELECT p.p_id, NULL AS v_id FROM p, wm WHERE p.ts <= wm.w
      AND NOT EXISTS (SELECT 1 FROM m WHERE m.p_id = p.p_id)
    """,
    doc="X15: stream-stream LEFT OUTER join — purchases matched to the "
    "same user's views of the preceding hour; purchases provably "
    "matchless (watermark passed their event time) emit null-padded. "
    "The equality key (user_id) partitions both state stores; state "
    "per side is bounded by the watermark + range condition. The "
    "oracle encodes the per-side min-watermark rule (see inline "
    "comment), making the outer variant SQL-checkable, not rows-only.",
)
def q_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    purchases = stream_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    views = stream_events(spark, sf_dir).filter(F.col("event_type") == "view")
    return _drain(left_outer_join_streams(purchases, views), "stream_loj", sf_dir=sf_dir)


@register(
    "stream_session_windows",
    # Native session_window semantics: a session is [first_ts,
    # last_ts + gap), merging while the next event falls strictly
    # inside the current end (diff < gap). Append emits sessions whose
    # end <= final watermark (max event time, ms-truncated, - 1h).
    oracle="""
    WITH wm AS (
      SELECT make_timestamp(epoch_ms(max(ts)) * 1000) - INTERVAL 1 HOUR AS w
      FROM events
    ),
    m AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       < INTERVAL 30 MINUTE
                  THEN 0 ELSE 1 END AS new_s
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             sum(new_s) OVER (
               PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
             ) AS sid
      FROM m
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s, wm
    GROUP BY user_id, sid, wm.w
    HAVING max(ts) + INTERVAL 30 MINUTE <= wm.w
    """,
    doc="X15: streaming sessionization via F.session_window with merging "
    "window state per user, bounded by a 1h watermark — the streaming "
    "twin of session_window_batch. Oracle: lag/gap sessionization of "
    "the same file, filtered to sessions closed by the final watermark.",
)
def q_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _drain(
        session_window_stream(stream_events(spark, sf_dir)),
        "stream_sessions",
        sf_dir=sf_dir,
    )


@register(
    "stream_dedup_watermark",
    # The surviving ROW per duplicate key is engine-arbitrary, but the
    # surviving KEY SET is exactly the distinct keys — so the query
    # projects to event_id and the oracle is SQL-deterministic. Survivor
    # -row semantics are pytest-verified on crafted duplicate data
    # (tests/test_streaming.py).
    oracle="SELECT DISTINCT event_id FROM events",
    doc="X15: dropDuplicatesWithinWatermark on event_id — streaming exact "
    "dedup with bounded state (duplicates must arrive within the 1h "
    "watermark horizon; older keys are evicted). Projected to the key "
    "column so the emitted set is deterministic and oracle-checkable.",
)
def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    deduped = dedup_within_watermark(stream_events(spark, sf_dir)).select("event_id")
    return _drain(deduped, "stream_dedup", sf_dir=sf_dir, emits_on_watermark=False)


@register(
    "stream_neardup_dedup",
    # Deterministic on the survivor KEY set (distinct fingerprints), like
    # stream_dedup_watermark; which doc carries a shared fingerprint is
    # engine-arbitrary, so the query projects to the fingerprint. The
    # oracle reuses the batch SimHash SQL (identical md5-bit arithmetic).
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS t
      FROM documents
    ),
    hashed AS (SELECT doc_id, md5(t) AS h FROM tok),
    sums AS (
      SELECT doc_id,
             """
    + ", ".join(
        f"sum((CAST(floor((instr('0123456789abcdef', substr(h, {b // 4 + 1}, 1)) - 1) "
        f"/ {2 ** (3 - b % 4)}) AS INTEGER) % 2) * 2 - 1) AS s{b}"
        for b in range(16)
    )
    + """
      FROM hashed GROUP BY doc_id
    )
    SELECT DISTINCT concat("""
    + ", ".join(f"CASE WHEN s{b} >= 0 THEN '1' ELSE '0' END" for b in range(16))
    + """) AS simhash
    FROM sums
    """,
    doc="X15/X13: streaming near-duplicate dedup — map-side SimHash "
    "(Arrow-batched pandas UDF, bit-identical to the batch/SQL form) + "
    "dropDuplicatesWithinWatermark on the fingerprint. The ingest-side "
    "near-dup gate for a document firehose; state is O(distinct "
    "fingerprints within the watermark horizon).",
)
def q_stream_neardup_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    deduped = neardup_dedup_stream(stream_documents(spark, sf_dir)).select("simhash")
    return _drain(
        deduped, "stream_neardup",
        sf_dir=sf_dir, source="documents.parquet", emits_on_watermark=False,
    )


@register(
    "stream_running_user_stats",
    # availableNow over a single parquet file = one data micro-batch, so
    # update mode emits exactly one row per user holding the final
    # running stats — the same aggregate SQL computes directly. The
    # multi-batch accumulation path (state surviving across triggers) is
    # pytest-verified with a two-file source (tests/test_streaming.py).
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value,
           round(max(value), 2) AS max_value
    FROM events
    GROUP BY user_id
    """,
    doc="X15: custom stateful operator via applyInPandasWithState — "
    "per-user running (count, sum, max) state surviving across "
    "micro-batches; the escape hatch beyond built-in windowed aggs.",
)
def q_stream_running_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _drain(
        running_user_stats_stream(stream_events(spark, sf_dir)),
        "stream_running_stats",
        output_mode="update",
        sf_dir=sf_dir,
        emits_on_watermark=False,
    )


@register(
    "stream_static_enrich",
    # no watermark, no state: every micro-batch row is enriched and
    # appended, so availableNow over a static file emits exactly the
    # batch left-join result — plain SQL.
    oracle="""
    SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value,
           c.c_mktsegment
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
    doc="X15: stream-static enrichment join — each micro-batch of the "
    "event stream broadcast-joins a BATCH dimension (customer market "
    "segment). Spark re-resolves the static side per micro-batch, so "
    "dimension updates between triggers are picked up and the join "
    "itself holds ZERO streaming state — the standard shape for "
    "attaching reference data to an event firehose, and the one "
    "streaming join that needs no watermark at all. Oracle: the "
    "append-mode result is exactly the batch left join.",
)
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jaffle_shop_classic_spark.sources.parquet import load_table

    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return _drain(
        enrich_with_static_dim(stream_events(spark, sf_dir), dim),
        "stream_static_enrich",
        sf_dir=sf_dir,
        emits_on_watermark=False,
    )


def enrich_with_static_dim(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the event
    stream equi-joins a *batch* dimension table (here: customer market
    segment keyed by user_id). Spark re-plans the static side per
    micro-batch, so a small dimension rides a broadcast hash join with
    no streaming state at all — the standard shape for attaching
    slowly-changing reference data to a 100 TB/day event firehose.
    """
    return events.join(
        F.broadcast(dim), events.user_id == dim.c_custkey, "left"
    ).select("event_id", "ts", "user_id", "event_type", "value", "c_mktsegment")


def merge_stream_into_state(events: DataFrame, state_dir: str):
    """Streaming CDC merge via foreachBatch — the streaming twin of the
    batch `upsert_latest_state` compaction: every micro-batch unions the
    change set with the current state table and window-compacts to the
    latest row per key, writing a new state VERSION (readers take the
    highest version; a production deployment replaces the versioned
    parquet directories with Delta/Iceberg `MERGE INTO`, which makes the
    same read-modify-write transactional — the plan inside the batch is
    identical). foreachBatch is the escape hatch for sinks Structured
    Streaming doesn't natively support; the batch_id makes retries
    idempotent (a re-run of batch N overwrites v{N}, never duplicates).

    Returns a DataStreamWriter — caller starts/awaits it.
    """
    import os

    from pyspark.sql import Window

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession

        def _complete_versions() -> list[int]:
            # only versions with a _SUCCESS marker count: a crashed
            # attempt's partial directory must never be read as state
            if not os.path.isdir(state_dir):
                return []
            return sorted(
                int(p[1:])
                for p in os.listdir(state_dir)
                if p.startswith("v")
                and p[1:].isdigit()
                and os.path.exists(f"{state_dir}/{p}/_SUCCESS")
            )

        # version = base + batch_id, with base fixed once per writer at
        # one past the highest pre-existing COMPLETE version: a retried
        # batch N rewrites its own v{base+N} (idempotent), while a NEW
        # run over an old state_dir continues the version line instead
        # of overwriting v0 and serving stale state to highest-version
        # readers
        if "base" not in run_state:
            existing = _complete_versions()
            run_state["base"] = (existing[-1] + 1) if existing else 0
        target = run_state["base"] + batch_id
        cur = batch_df.select("user_id", "event_id", "ts", "event_type")
        # prev = newest complete version STRICTLY below the target — on
        # a replay of batch N the target itself (and anything a dead
        # attempt wrote above it) is excluded, so the merge never reads
        # the path it is about to overwrite
        prevs = [v for v in _complete_versions() if v < target]
        if prevs:
            prev = spark.read.parquet(f"{state_dir}/v{prevs[-1]}")
            cur = prev.unionByName(cur)
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        (
            cur.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
            .write.mode("overwrite")
            .parquet(f"{state_dir}/v{target}")
        )

    run_state: dict = {}
    return events.writeStream.foreachBatch(_merge).trigger(availableNow=True)


# ----------------------------------------- bounded-buffer stateful EWMA
EWMA_STATE_SCHEMA = "tss array<long>, eids array<long>, vals array<double>, n long"
EWMA_OUT_SCHEMA = "user_id long, n_events long, ewma double"
EWMA_WINDOW = 10


def _ewma_state_fn(key, pdf_iter, state):
    """applyInPandasWithState kernel: per-user EWMA over the LAST 10
    events by event time (alpha=0.5) — a bounded-BUFFER state machine,
    the shape running_user_stats' O(1) scalars can't express: state is
    the top-10 (ts, event_id, value) triples per key, merged with each
    micro-batch, re-sorted, truncated. O(window) state per key forever,
    the exact batch semantics of event_ewma_smoothing's final row.

    Spark 4's transformWithStateInPandas is the successor API for this
    (typed ValueState/ListState + timers); it requires protobuf at
    runtime, absent in this environment, and the GroupState form below
    is semantically identical for a buffer this small."""
    import pandas as pd

    recs, n = [], 0
    if state.exists:
        tss, eids, vals, n = state.get
        recs = list(zip(tss, eids, vals))
    for pdf in pdf_iter:
        n += len(pdf)
        recs.extend(
            zip(pdf["ts_us"].tolist(), pdf["event_id"].tolist(), pdf["value"].tolist())
        )
    recs.sort(key=lambda r: (r[0], r[1]), reverse=True)
    keep = recs[:EWMA_WINDOW]
    num = sum(v * 0.5**k for k, (_, _, v) in enumerate(keep))
    den = sum(0.5**k for k in range(len(keep)))
    state.update(
        ([r[0] for r in keep], [r[1] for r in keep], [r[2] for r in keep], n)
    )
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "ewma": [round(num / den, 6)]}
    )


def ewma_state_stream(events: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    return (
        events.select(
            "user_id", F.unix_micros("ts").alias("ts_us"), "event_id", "value"
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _ewma_state_fn,
            outputStructType=EWMA_OUT_SCHEMA,
            stateStructType=EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


@register(
    "stream_ewma_last10",
    # availableNow over a static file = ONE micro-batch, so update mode
    # emits exactly one row per user holding the full-history result:
    # the weighted mean of the last 10 events by (ts, event_id), weights
    # 0.5^k from most recent — plain SQL over the same file. The Python
    # fold runs in ascending weight order? No: descending recency, same
    # fixed order as the SQL sum over k — both bounded to 10 terms, 6dp
    # round absorbs fold-order noise.
    oracle=f"""
    WITH r AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) - 1 AS k,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events
    )
    SELECT user_id,
           CAST(max(n) AS BIGINT) AS n_events,
           round(sum(value * power(0.5, k)) / sum(power(0.5, k)), 6) AS ewma
    FROM r WHERE k < {EWMA_WINDOW}
    GROUP BY user_id
    """,
    doc="X15: custom BUFFER-state streaming operator — per-user EWMA "
    "over the last 10 events via applyInPandasWithState, the state "
    "shape (bounded sorted buffer, merged/truncated per micro-batch) "
    "that neither windowed aggregation nor O(1) running stats can "
    "express. State is O(window) per key regardless of stream "
    "length; late events within the buffer horizon fold in correctly "
    "because the buffer re-sorts on event time. The streaming twin "
    "of event_ewma_smoothing's final row per user, and oracle-backed "
    "(availableNow = one batch = deterministic update output).",
)
def q_stream_ewma_last10(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _drain(
        ewma_state_stream(stream_events(spark, sf_dir)),
        "stream_ewma",
        "update",
        sf_dir=sf_dir,
        emits_on_watermark=False,
    )
