"""Streaming twins must agree with their oracle-checked batch
equivalents on the same data (batch-first design, SURVEY §2.4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jaffle_shop_classic_spark.operators.catalog import load_catalog
from jaffle_shop_classic_spark.sources.parquet import load_table
from jaffle_shop_classic_spark.streaming import (
    dedup_within_watermark,
    run_stream_to_batch,
    running_user_stats_stream,
    session_window_stream,
    stream_events,
    tumbling_counts_stream,
)


def test_stream_schema_matches_batch(spark, sf_dir):
    batch = load_table(spark, sf_dir, "events")
    stream = stream_events(spark, sf_dir)
    assert stream.isStreaming
    assert stream.schema == batch.schema


def test_tumbling_stream_equals_batch(spark, sf_dir):
    stream = tumbling_counts_stream(stream_events(spark, sf_dir))
    got = run_stream_to_batch(stream, "tumbling_out")
    want = load_catalog()["tumbling_window"].fn(spark, sf_dir)
    g = {(r["window_start"], r["event_type"]): (r["n_events"], r["total_value"]) for r in got.collect()}
    w = {(r["window_start"], r["event_type"]): (r["n_events"], r["total_value"]) for r in want.collect()}
    # append mode emits only watermark-closed windows: every emitted
    # window must match batch exactly...
    assert g and all(w.get(k) == v for k, v in g.items())
    # ...and anything missing must be within the trailing watermark
    # horizon (1h) of the max event time, still held in state at EOS
    max_ts = max(k[0] for k in w)
    from datetime import timedelta
    missing = [k for k in w if k not in g]
    assert all(k[0] >= max_ts - timedelta(hours=1, minutes=10) for k in missing)


def test_session_window_stream_covers_closed_sessions(spark, sf_dir):
    got = run_stream_to_batch(
        session_window_stream(stream_events(spark, sf_dir)), "sessions_out"
    )
    # emitted (watermark-closed) sessions cover most of the stream; the
    # final open sessions per user stay in state at end-of-stream
    n_events = got.agg(F.sum("n_events")).collect()[0][0]
    total = load_table(spark, sf_dir, "events").count()
    assert 0 < n_events <= total
    assert n_events >= total * 0.9
    # session windows never overlap per user
    rows = sorted(
        ((r["user_id"], r["session_start"], r["session_end"]) for r in got.collect())
    )
    for (u1, s1, e1), (u2, s2, e2) in zip(rows, rows[1:]):
        if u1 == u2:
            assert e1 <= s2


def test_dedup_within_watermark_passthrough_on_unique_ids(spark, sf_dir):
    got = run_stream_to_batch(
        dedup_within_watermark(stream_events(spark, sf_dir)), "dedup_out"
    )
    n = load_table(spark, sf_dir, "events").count()
    assert got.count() == n
    assert got.select("event_id").distinct().count() == n


def _write_event_batches(tmp_path, batches):
    """Write one parquet file per micro-batch (nanos-as-long ts), mtimes
    ordered so the file source replays them oldest-first; returns a
    normalized streaming DataFrame reading them 1 file per trigger."""
    import os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "batch_src"
    src.mkdir()
    for i, rows in enumerate(batches):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.int64()),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows]),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        f = str(src / f"b{i}.parquet")
        pq.write_table(tbl, f)
        t = _time.time() - 100 + i * 30
        os.utime(f, (t, t))
    return src


def _stream_batches(spark, src):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def _ns(h, m):
    from datetime import datetime, timezone

    return int(datetime(2024, 1, 1, h, m, tzinfo=timezone.utc).timestamp() * 1_000_000_000)


def test_dedup_within_watermark_drops_crafted_duplicates(spark, tmp_path):
    """Survivor semantics on real duplicates, across micro-batches: a
    duplicate key arriving in a LATER batch but within the watermark
    horizon is dropped; distinct keys all survive exactly once."""
    src = _write_event_batches(
        tmp_path,
        [
            [(1, _ns(10, 0), 7, "x", 1.0), (2, _ns(10, 1), 7, "x", 1.0)],
            # id 1 again, 20 min later (inside the 1h horizon) + new id 3
            [(1, _ns(10, 20), 7, "x", 9.0), (3, _ns(10, 21), 7, "x", 1.0)],
        ],
    )
    got = run_stream_to_batch(
        dedup_within_watermark(_stream_batches(spark, src)).select("event_id"),
        "dedup_crafted",
    )
    ids = sorted(r["event_id"] for r in got.collect())
    assert ids == [1, 2, 3]


def test_running_stats_accumulates_across_batches(spark, tmp_path):
    """The GroupState must SURVIVE between triggers: user 7 appears in
    both micro-batches, so the second update-mode emit carries the
    cumulative (not per-batch) count/sum/max."""
    from jaffle_shop_classic_spark.streaming.windows import running_user_stats_stream

    src = _write_event_batches(
        tmp_path,
        [
            [(1, _ns(10, 0), 7, "x", 2.0), (2, _ns(10, 1), 8, "x", 5.0)],
            [(3, _ns(10, 30), 7, "x", 4.0)],
        ],
    )
    got = run_stream_to_batch(
        running_user_stats_stream(_stream_batches(spark, src)),
        "stateful_crafted",
        output_mode="update",
    )
    # update mode emits user 7 once per batch; the final emit must be
    # cumulative across both
    user7 = [
        (r["n_events"], r["total_value"], r["max_value"])
        for r in got.filter(F.col("user_id") == 7).collect()
    ]
    assert (2, 6.0, 4.0) in user7  # cumulative final state
    assert (1, 2.0, 2.0) in user7  # first-batch emit
    user8 = [
        (r["n_events"], r["total_value"], r["max_value"])
        for r in got.filter(F.col("user_id") == 8).collect()
    ]
    assert user8 == [(1, 5.0, 5.0)]


def test_custom_stateful_running_stats(spark, sf_dir):
    from jaffle_shop_classic_spark.streaming.windows import running_user_stats_stream

    got = run_stream_to_batch(
        running_user_stats_stream(stream_events(spark, sf_dir)),
        "stateful_out",
        output_mode="update",
    )
    # with one input file (one micro-batch) the final state equals the
    # batch aggregate per user
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.round(F.max("value"), 2).alias("max_value"),
        )
    )
    g = {r["user_id"]: (r["n_events"], r["total_value"], r["max_value"]) for r in got.collect()}
    w = {r["user_id"]: (r["n_events"], r["total_value"], r["max_value"]) for r in want.collect()}
    assert g == w


def test_stream_static_enrichment_equals_batch(spark, sf_dir):
    from jaffle_shop_classic_spark.sources.parquet import load_table
    from jaffle_shop_classic_spark.streaming.windows import (
        enrich_with_static_dim,
        run_stream_to_batch,
        stream_events,
    )

    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    streamed = run_stream_to_batch(
        enrich_with_static_dim(stream_events(spark, sf_dir), dim),
        "stream_static_enrich",
    )
    batch = enrich_with_static_dim(load_table(spark, sf_dir, "events"), dim)
    assert streamed.count() == batch.count()
    assert sorted(streamed.columns) == sorted(batch.columns)
    # value-level check on a deterministic slice
    s = {tuple(r) for r in streamed.filter("event_id < 100").collect()}
    b = {tuple(r) for r in batch.filter("event_id < 100").collect()}
    assert s == b

def test_watermark_contract_late_merge_then_drop(spark, tmp_path):
    """The watermark CONTRACT end-to-end: (1) a window's state is
    evicted+emitted once the watermark passes its end; (2) a late event
    arriving BEFORE eviction still merges (that is what the horizon
    buys); (3) a late event arriving AFTER eviction is dropped — the
    emitted window is never revised; (4) append emits closed windows
    only."""
    import os
    import time as _time
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from jaffle_shop_classic_spark.streaming import tumbling_counts_stream

    def ns(h, m):
        return int(
            datetime(2024, 1, 1, h, m, tzinfo=timezone.utc).timestamp() * 1_000_000_000
        )

    # b0: two 10:0x events + 12:00 (watermark after b0: 11:00)
    # b1: 12:30 — during b1 eviction runs with wm 11:00, closing the
    #     10:00 window at count 2; wm after b1: 11:30
    # b2: 10:06 arrives AFTER its window's state was evicted -> dropped;
    #     11:35 is late-but-within-horizon -> new state; 13:00 pushes the
    #     final wm to 12:00 which closes the 11:30 window
    batches = [
        [ns(10, 0), ns(10, 5), ns(12, 0)],
        [ns(12, 30)],
        [ns(10, 6), ns(11, 35), ns(13, 0)],
    ]
    src = tmp_path / "wm_src"
    src.mkdir()
    eid = 0
    for i, tss in enumerate(batches):
        ids = list(range(eid, eid + len(tss)))
        eid += len(tss)
        tbl = pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(tss, pa.int64()),
                "user_id": pa.array([1] * len(tss), pa.int64()),
                "event_type": pa.array(["x"] * len(tss)),
                "value": pa.array([1.0] * len(tss), pa.float64()),
                "props": pa.array(["{}"] * len(tss)),
            }
        )
        f = str(src / f"b{i}.parquet")
        pq.write_table(tbl, f)
        t = _time.time() - 100 + i * 30  # file source goes oldest-first
        os.utime(f, (t, t))

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    events = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    q = (
        tumbling_counts_stream(events, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("wm_contract")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout=120)
        dropped = sum(
            p["stateOperators"][0]["numRowsDroppedByWatermark"]
            for p in q.recentProgress
            if p["stateOperators"]
        )
    finally:
        if q.isActive:  # pragma: no cover
            q.stop()
    out = {
        r["window_start"].strftime("%H:%M"): (r["n_events"], r["total_value"])
        for r in spark.table("wm_contract").collect()
    }
    assert out == {
        "10:00": (2, 2.0),  # closed at count 2; the post-eviction event
        # did NOT revise it
        "11:30": (1, 1.0),  # late-but-within-horizon event was counted
        # 12:00/12:30/13:00 windows are still open at end-of-stream
    }
    assert dropped == 1  # exactly the post-eviction 10:06 event


def test_foreach_batch_merge_converges_to_batch_upsert(spark, tmp_path):
    """Streaming CDC merge processed in two micro-batches must end at
    exactly the state the batch window-compaction computes over all the
    data at once."""
    import os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from jaffle_shop_classic_spark.streaming.windows import merge_stream_into_state

    def ev(eid, ts_s, uid, etype):
        return (eid, ts_s * 1_000_000_000, uid, etype)

    # b0: users 1 and 2; b1: user 1 updated (later ts), user 3 new
    batches = [
        [ev(1, 1000, 1, "signup"), ev(2, 2000, 2, "signup")],
        [ev(3, 3000, 1, "purchase"), ev(4, 1500, 3, "view")],
    ]
    src = tmp_path / "merge_src"
    src.mkdir()
    for i, rows in enumerate(batches):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.int64()),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows]),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        f = str(src / f"b{i}.parquet")
        pq.write_table(tbl, f)
        t = _time.time() - 100 + i * 30
        os.utime(f, (t, t))

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    events = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    state_dir = str(tmp_path / "state")
    q = merge_stream_into_state(events, state_dir).start()
    try:
        q.awaitTermination(timeout=120)
    finally:
        if q.isActive:  # pragma: no cover
            q.stop()
    versions = sorted(
        int(p[1:]) for p in os.listdir(state_dir) if p[1:].isdigit()
    )
    assert len(versions) == 2  # one state version per micro-batch
    final = {
        r["user_id"]: (r["event_id"], r["event_type"])
        for r in spark.read.parquet(f"{state_dir}/v{versions[-1]}").collect()
    }
    # user 1 upserted to the later purchase; users 2 and 3 kept
    assert final == {1: (3, "purchase"), 2: (2, "signup"), 3: (4, "view")}


def test_custom_stream_source_replays_generator_exactly(spark):
    """The custom DataSource's STREAMING reader: offset-ranged
    micro-batches must reconstruct exactly the corpus the batch reader
    produces, across multiple triggers."""
    import time as _time

    from jaffle_shop_classic_spark.sources.synthetic import (
        SyntheticDocsDataSource,
    )

    spark.dataSource.register(SyntheticDocsDataSource)
    stream = (
        spark.readStream.format("synthetic_documents")
        .option("n", 300)
        .option("batch_size", 120)  # => 3 micro-batches: 120/120/60
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("synth_stream")
        .outputMode("append")
        .start()
    )
    try:
        deadline = _time.time() + 120
        while _time.time() < deadline:
            if spark.table("synth_stream").count() >= 300:
                break
            _time.sleep(0.5)
    finally:
        q.stop()
    got = sorted(
        (r["doc_id"], r["text"], r["n_words"])
        for r in spark.table("synth_stream").collect()
    )
    batch = (
        spark.read.format("synthetic_documents").option("n", 300).load()
    )
    want = sorted(
        (r["doc_id"], r["text"], r["n_words"]) for r in batch.collect()
    )
    assert got == want and len(got) == 300


def test_left_outer_join_multibatch_contract(spark, tmp_path):
    """The three outer-join behaviors a single-batch availableNow run
    can mask: (1) a match whose two sides arrive in DIFFERENT batches
    still joins (state retention across triggers); (2) an unmatched
    purchase emits its null row only once the watermark passes it — in
    a LATER batch than it arrived; (3) a matched purchase never also
    emits a null row when its state is evicted."""
    from jaffle_shop_classic_spark.streaming.windows import left_outer_join_streams

    src = _write_event_batches(
        tmp_path,
        [
            [
                (101, _ns(9, 30), 7, "view", 1.0),
                (1, _ns(10, 0), 7, "purchase", 1.0),  # matches 101 in-batch
                (2, _ns(10, 5), 8, "purchase", 1.0),  # never matches
                (3, _ns(12, 0), 9, "purchase", 1.0),  # matches 102 cross-batch
            ],
            [
                (102, _ns(11, 30), 9, "view", 1.0),  # late view for purchase 3
                (103, _ns(15, 0), 10, "view", 1.0),  # clock-advancer (view side)
            ],
        ],
    )
    ev = _stream_batches(spark, src)
    ev2 = _stream_batches(spark, src)
    got = run_stream_to_batch(
        left_outer_join_streams(
            ev.filter(F.col("event_type") == "purchase"),
            ev2.filter(F.col("event_type") == "view"),
        ),
        "loj_multibatch",
    )
    rows = {(r["p_id"], r["v_id"]) for r in got.collect()}
    # final watermark = min(max purchase 12:00, max view 15:00) - 1h =
    # 11:00 >= purchase 2 (10:05) -> its null row must have emitted;
    # purchase 3 (12:00) is matched, so no watermark is needed for it
    assert rows == {(1, 101), (3, 102), (2, None)}


def test_chained_windows_multibatch_merges_before_finalizing(spark, tmp_path):
    """An inner 10-min bucket fed from TWO micro-batches (second batch
    inside the watermark) must finalize with the combined count before
    the outer hour aggregate sees it — i.e. chained state merges across
    triggers, and only closed hours emit."""
    from jaffle_shop_classic_spark.streaming.windows import chained_windows_stream

    src = _write_event_batches(
        tmp_path,
        [
            [
                (1, _ns(10, 0), 1, "x", 1.0),
                (2, _ns(10, 3), 1, "x", 1.0),
                (3, _ns(10, 7), 1, "x", 1.0),
                (4, _ns(10, 15), 1, "x", 1.0),
            ],
            # two more for the 10:00 bucket, arriving a batch later but
            # within the 1h watermark
            [(5, _ns(10, 8), 1, "x", 1.0), (6, _ns(10, 9), 1, "x", 1.0)],
            # clock advance: watermark -> 13:00, closing the 10:00 hour
            [(7, _ns(14, 0), 1, "x", 1.0)],
        ],
    )
    got = run_stream_to_batch(
        chained_windows_stream(_stream_batches(spark, src)), "chain_multibatch"
    )
    rows = {
        (r["hour_start"].hour, r["event_type"], r["max_10min_events"], r["n_buckets"])
        for r in got.collect()
    }
    # hour 10: peak bucket = 5 events (1,2,3 + late 5,6), 2 buckets seen;
    # hour 14 is NOT closed (wm 13:00) and must not emit
    assert rows == {(10, "x", 5, 2)}


def test_ewma_buffer_state_merges_across_batches(spark, tmp_path):
    """The last-10 EWMA buffer must carry across micro-batches: after
    batch 2, each user's EWMA reflects the MERGED, re-sorted history —
    including a late event that lands between batch-1 events — and
    update mode emits a fresh row per touched key per batch."""
    from jaffle_shop_classic_spark.streaming.windows import (
        ewma_state_stream,
        run_stream_to_batch,
    )

    src = _write_event_batches(
        tmp_path,
        [
            [(1, _ns(10, 0), 7, "x", 0.0), (2, _ns(10, 2), 7, "x", 0.0)],
            # batch 2: one new event at the head, one LATE event that
            # sorts between the batch-1 rows
            [(4, _ns(10, 3), 7, "x", 100.0), (3, _ns(10, 1), 7, "x", 100.0)],
        ],
    )
    got = run_stream_to_batch(
        ewma_state_stream(_stream_batches(spark, src)), "ewma_multibatch", "update"
    )
    rows = sorted(
        ((r["n_events"], r["ewma"]) for r in got.collect()),
    )
    # batch 1: events (0, 0) newest-first -> ewma 0.0
    # batch 2 merged order newest-first: v=[100, 0, 100, 0],
    # weights 1, .5, .25, .125 -> (100 + 25) / 1.875 = 66.666667
    assert rows == [(2, 0.0), (4, 66.666667)]


def test_stream_exactly_once_into_manifest_sink(spark, tmp_path):
    """End-to-end exactly-once: file-source stream -> foreachBatch ->
    per-batch two-phase-commit manifest dirs. Restart with the same
    checkpoint adds nothing; full reprocessing into the same sink path
    overwrites batches idempotently instead of duplicating rows; a
    crashed attempt's orphan shard stays invisible."""
    import os

    from pyspark.sql import functions as F

    from jaffle_shop_classic_spark.sources.jsonl_sink import (
        read_all_batches,
        write_stream_exactly_once,
    )

    src = str(tmp_path / "src")
    for i in range(3):  # 3 files -> 3 micro-batches (maxFilesPerTrigger=1)
        spark.range(i * 10, i * 10 + 10).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("g")
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f{i}")
    schema = "k bigint, g bigint"
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def start(checkpoint):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/f*")
        )
        q = write_stream_exactly_once(stream, sink, checkpoint)
        q.awaitTermination(120)
        return q

    start(ckpt)
    got, manifest_rows = read_all_batches(spark, sink)
    assert manifest_rows == 30
    assert sorted(r["k"] for r in got.collect()) == list(range(30))
    n_batches = len([d for d in os.listdir(sink) if d.startswith("batch=")])
    assert n_batches == 3

    # restart, same checkpoint: source is drained -> nothing new
    start(ckpt)
    got2, rows2 = read_all_batches(spark, sink)
    assert rows2 == 30 and got2.count() == 30

    # orphan shard from a crashed attempt: no manifest entry -> invisible
    some_batch = os.path.join(sink, "batch=1")
    with open(os.path.join(some_batch, "part-zz-orphan.jsonl"), "w") as f:
        f.write('{"k": 777777, "g": 0}\n')
    got3, _ = read_all_batches(spark, sink)
    assert got3.filter("k = 777777").count() == 0 and got3.count() == 30

    # full REPLAY into the same sink (lost checkpoint, the worst case):
    # overwrite-mode batch commits replace, never append — still 30 rows
    start(str(tmp_path / "ckpt2"))
    got4, rows4 = read_all_batches(spark, sink)
    assert rows4 == 30 and got4.count() == 30
    assert sorted(r["k"] for r in got4.collect()) == list(range(30))


def test_stream_exactly_once_survives_shorter_replay(spark, tmp_path):
    """The generation protocol's reason to exist: a lost-checkpoint
    replay that emits FEWER micro-batches than the prior run (here: no
    maxFilesPerTrigger, so 3 files land in ONE batch) overwrites only
    batch=0 and leaves batch=1/batch=2 from the old run on disk. Without
    the sink-level generation stamp those stale dirs would double-count
    20 of the 30 rows on read."""
    import os

    from pyspark.sql import functions as F

    from jaffle_shop_classic_spark.sources.jsonl_sink import (
        GENERATION_FILE,
        read_all_batches,
        write_stream_exactly_once,
    )

    src = str(tmp_path / "src")
    for i in range(3):
        spark.range(i * 10, i * 10 + 10).select(
            F.col("id").alias("k")
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f{i}")
    schema = "k bigint"
    sink = str(tmp_path / "sink")

    def start(checkpoint, max_files):
        reader = spark.readStream.schema(schema)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", 1)
        q = write_stream_exactly_once(
            reader.parquet(f"{src}/f*"), sink, checkpoint
        )
        q.awaitTermination(120)

    # run 1: one file per trigger -> batches 0,1,2 (generation 1)
    start(str(tmp_path / "ckpt1"), max_files=True)
    assert len([d for d in os.listdir(sink) if d.startswith("batch=")]) == 3
    got1, rows1 = read_all_batches(spark, sink)
    assert rows1 == 30 and sorted(r["k"] for r in got1.collect()) == list(range(30))

    # run 2: lost checkpoint, all files in ONE batch (generation 2);
    # batch=1 and batch=2 from run 1 are now stale on disk
    start(str(tmp_path / "ckpt2"), max_files=False)
    dirs = [d for d in os.listdir(sink) if d.startswith("batch=")]
    assert len(dirs) == 3  # stale dirs still present...
    got2, rows2 = read_all_batches(spark, sink)  # ...but invisible
    assert rows2 == 30
    assert sorted(r["k"] for r in got2.collect()) == list(range(30))
    assert os.path.exists(os.path.join(sink, GENERATION_FILE))

    # resuming run 2's intact checkpoint keeps its generation: the
    # drained source adds nothing and the read stays exact
    start(str(tmp_path / "ckpt2"), max_files=False)
    got3, rows3 = read_all_batches(spark, sink)
    assert rows3 == 30 and got3.count() == 30


def test_stream_generation_flip_deferred_until_first_commit(spark, tmp_path):
    """Round-9 advice fix: a fresh run must not retire the live
    generation at sink SETUP — readers in the setup-to-first-commit
    window keep seeing the complete prior generation. The bumped counter
    stages in _GENERATION.pending.json and flips only after the first
    batch commits; mid-transition (a batch stamped newer than live) the
    reader raises a retryable transition error instead of silently
    returning a partial prior generation."""
    import json
    import os

    import pytest
    from pyspark.sql import functions as F

    from jaffle_shop_classic_spark.sources.jsonl_sink import (
        GENERATION_FILE,
        GENERATION_PENDING_FILE,
        MANIFEST,
        read_all_batches,
        write_stream_exactly_once,
    )

    src = str(tmp_path / "src")
    for i in range(2):
        spark.range(i * 10, i * 10 + 10).select(
            F.col("id").alias("k")
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f{i}")
    sink = str(tmp_path / "sink")

    def start(checkpoint):
        q = write_stream_exactly_once(
            spark.readStream.schema("k bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/f*"),
            sink,
            checkpoint,
        )
        q.awaitTermination(120)

    # run 1: generation 1 goes live, pending stage retired
    start(str(tmp_path / "ckpt1"))
    with open(os.path.join(sink, GENERATION_FILE)) as f:
        assert json.load(f)["generation"] == 1
    assert not os.path.exists(os.path.join(sink, GENERATION_PENDING_FILE))

    # THE advice window: a fresh run has staged its bumped counter but
    # committed nothing yet. Simulate setup-only state by planting the
    # pending file — readers must still see all of generation 1.
    ppath = os.path.join(sink, GENERATION_PENDING_FILE)
    with open(ppath, "w") as f:
        json.dump({"generation": 2}, f)
    got, rows = read_all_batches(spark, sink)
    assert rows == 20 and sorted(r["k"] for r in got.collect()) == list(range(20))

    # mid-transition window: the fresh run's first commit has replaced
    # batch=0's manifest (stamped gen 2) but not yet flipped the live
    # file -> generation 1 is genuinely incomplete on disk; the reader
    # must error retryably, not silently drop batch 0.
    mpath = os.path.join(sink, "batch=0", MANIFEST)
    with open(mpath) as f:
        m = json.load(f)
    m["generation"] = 2
    with open(mpath, "w") as f:
        json.dump(m, f)
    with pytest.raises(FileNotFoundError, match="transition in progress"):
        read_all_batches(spark, sink)
    # restore batch=0 to generation 1 for the next phase
    m["generation"] = 1
    with open(mpath, "w") as f:
        json.dump(m, f)

    # a fresh run after an ABORTED fresh run (stale pending=2 on disk)
    # must not reuse the aborted counter: it bumps past it (gen 3),
    # flips after its first commit, and retires the pending stage
    start(str(tmp_path / "ckpt2"))
    with open(os.path.join(sink, GENERATION_FILE)) as f:
        assert json.load(f)["generation"] == 3
    assert not os.path.exists(ppath)
    got2, rows2 = read_all_batches(spark, sink)
    assert rows2 == 20 and sorted(r["k"] for r in got2.collect()) == list(range(20))


def test_stream_pending_generation_requires_matching_checkpoint(spark, tmp_path):
    """Round-10 advice fix: the pending stage carries the STAGING run's
    checkpoint identity, and a resume adopts it only when the identities
    match. A pending file left by a DIFFERENT aborted fresh run must not
    leak its generation onto a resume of the prior run's intact
    checkpoint — pre-fix that resume stamped new batches with the
    aborted run's counter and flipped on its next commit, retiring its
    OWN earlier live batches as stale (silent partial data)."""
    import json
    import os

    from pyspark.sql import functions as F

    from jaffle_shop_classic_spark.sources.jsonl_sink import (
        GENERATION_FILE,
        GENERATION_PENDING_FILE,
        read_all_batches,
        write_stream_exactly_once,
    )

    src = str(tmp_path / "src")

    def add_file(i):
        spark.range(i * 10, i * 10 + 10).select(
            F.col("id").alias("k")
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f{i}")

    for i in range(2):
        add_file(i)
    sink = str(tmp_path / "sink")

    def start(checkpoint):
        q = write_stream_exactly_once(
            spark.readStream.schema("k bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/f*"),
            sink,
            checkpoint,
        )
        q.awaitTermination(120)

    # run 1 (ckpt1): batches 0,1 live as generation 1
    start(str(tmp_path / "ckpt1"))
    with open(os.path.join(sink, GENERATION_FILE)) as f:
        assert json.load(f)["generation"] == 1

    # a DIFFERENT fresh run (ckpt2) stages pending=2 and aborts before
    # committing anything — exactly what sink setup writes
    ppath = os.path.join(sink, GENERATION_PENDING_FILE)
    with open(ppath, "w") as f:
        json.dump(
            {"generation": 2, "checkpoint": os.path.abspath(str(tmp_path / "ckpt2"))},
            f,
        )

    # resume ckpt1 with one new source file: identity mismatch -> the
    # stale pending is ignored AND dropped; batch=2 stays generation 1
    # and ALL three batches remain live
    add_file(2)
    start(str(tmp_path / "ckpt1"))
    assert not os.path.exists(ppath)
    with open(os.path.join(sink, GENERATION_FILE)) as f:
        assert json.load(f)["generation"] == 1
    got, rows = read_all_batches(spark, sink)
    assert rows == 30 and sorted(r["k"] for r in got.collect()) == list(range(30))

    # the crash-mid-first-batch branch still works: a pending file whose
    # identity MATCHES the resuming checkpoint is adopted and flips on
    # the next committed batch
    with open(ppath, "w") as f:
        json.dump(
            {"generation": 7, "checkpoint": os.path.abspath(str(tmp_path / "ckpt1"))},
            f,
        )
    add_file(3)
    start(str(tmp_path / "ckpt1"))
    with open(os.path.join(sink, GENERATION_FILE)) as f:
        assert json.load(f)["generation"] == 7
    assert not os.path.exists(ppath)
    got2, rows2 = read_all_batches(spark, sink)
    assert rows2 == 10 and sorted(r["k"] for r in got2.collect()) == list(
        range(30, 40)
    )


def test_stream_state_parts_derivation_and_restore(spark, sf_dir, monkeypatch):
    """Streaming state-partition count derives from the source file size
    (one partition per STREAM_PART_BYTES, cap STREAM_MAX_PARTS) with a
    floor of min(STREAM_MIN_PARTS, defaultParallelism) — decoupled from
    the core-count-coupled session default, never more than the task
    slots — and the session's shuffle-partition conf is restored after
    the drain."""
    import os

    from pyspark import SparkContext

    from jaffle_shop_classic_spark.streaming import windows
    from jaffle_shop_classic_spark.streaming.windows import (
        _drain,
        _stream_state_parts,
    )

    def slots(n):
        monkeypatch.setattr(SparkContext, "defaultParallelism", property(lambda _: n))

    size = os.path.getsize(os.path.join(sf_dir, "events.parquet"))
    # floor: a small file never drops below the compute-parallelism
    # floor (8 by default — per-batch Python/aggregate work still
    # parallelizes across state partitions) ...
    monkeypatch.setattr(windows, "STREAM_PART_BYTES", size * 10)
    slots(32)
    assert _stream_state_parts(spark, sf_dir) == 8
    # ... unless there are fewer task slots than that
    slots(4)
    assert _stream_state_parts(spark, sf_dir) == 4
    slots(1)
    assert _stream_state_parts(spark, sf_dir) == 1
    slots(32)
    monkeypatch.setattr(windows, "STREAM_MIN_PARTS", 2)
    assert _stream_state_parts(spark, sf_dir) == 2
    # proportional: ceil(size / target) once above the floor, whatever
    # the slot count
    monkeypatch.setattr(windows, "STREAM_PART_BYTES", max(1, size // 20))
    want = -(-size // max(1, size // 20))
    assert _stream_state_parts(spark, sf_dir) == want
    slots(4)
    assert _stream_state_parts(spark, sf_dir) == want
    # cap wins over the derived count
    monkeypatch.setattr(windows, "STREAM_MAX_PARTS", 3)
    assert _stream_state_parts(spark, sf_dir) == 3
    monkeypatch.undo()

    before = spark.conf.get("spark.sql.shuffle.partitions")
    out = _drain(
        tumbling_counts_stream(stream_events(spark, sf_dir)),
        "stream_parts_pin",
        sf_dir=sf_dir,
    )
    assert out.count() > 0
    # the drain pinned the derived count only for its own lifetime
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_failed_drain_restores_pinned_confs(spark, sf_dir, monkeypatch):
    """Both confs a drain pins (state partitions, no-data batches) are
    back exactly as before when the query's start() raises: a set value
    keeps its value and an unset key is unset again."""
    from pyspark.sql.streaming import DataStreamWriter

    from jaffle_shop_classic_spark.streaming.windows import NO_DATA_BATCHES

    parts = "spark.sql.shuffle.partitions"
    saved_parts = spark.conf.get(parts)
    saved_nodata = spark.conf.get(NO_DATA_BATCHES, None)
    seen = {}

    def failing_start(self, *args, **kwargs):
        seen.update({k: spark.conf.get(k) for k in (parts, NO_DATA_BATCHES)})
        raise RuntimeError("start failed")

    monkeypatch.setattr(DataStreamWriter, "start", failing_start)
    try:
        for nodata in (None, "true"):
            if nodata is None:
                spark.conf.unset(NO_DATA_BATCHES)
            else:
                spark.conf.set(NO_DATA_BATCHES, nodata)
            spark.conf.set(parts, "5")
            for mode in ("append", "update"):
                with pytest.raises(RuntimeError, match="start failed"):
                    run_stream_to_batch(
                        running_user_stats_stream(stream_events(spark, sf_dir))
                        if mode == "update"
                        else dedup_within_watermark(stream_events(spark, sf_dir)),
                        f"failed_{mode}",
                        mode,
                        state_parts=3,
                        emits_on_watermark=False,
                    )
                # pinned while start() ran ...
                assert seen == {parts: "3", NO_DATA_BATCHES: "false"}
                # ... and restored exactly after it raised
                assert spark.conf.get(parts) == "5"
                assert spark.conf.get(NO_DATA_BATCHES, None) == nodata
    finally:
        spark.conf.set(parts, saved_parts)
        if saved_nodata is None:
            spark.conf.unset(NO_DATA_BATCHES)
        else:
            spark.conf.set(NO_DATA_BATCHES, saved_nodata)


ON_ARRIVAL_ENTRIES = [
    "stream_interval_join",
    "stream_dedup_watermark",
    "stream_neardup_dedup",
    "stream_running_user_stats",
    "stream_ewma_last10",
    "stream_static_enrich",
]


@pytest.fixture
def started_queries(monkeypatch):
    """Every StreamingQuery started while the test runs, in order."""
    from pyspark.sql.streaming import DataStreamWriter

    started = []
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        q = start(self, *args, **kwargs)
        started.append(q)
        return q

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    return started


def _batch_ids(q) -> set[int]:
    return {p["batchId"] for p in q.recentProgress}


@pytest.mark.parametrize(
    "name, batches",
    [(n, {0}) for n in ON_ARRIVAL_ENTRIES] + [("stream_tumbling_counts", {0, 1})],
)
def test_drain_micro_batches_match_oracle(spark, sf_dir, started_queries, name, batches):
    """An entry whose rows leave as they arrive skips Spark's trailing
    no-data micro-batch (one batch per drain). A watermark entry still
    runs it: that batch advances the watermark and closes the windows.
    Either way the drain is non-empty and equals its DuckDB twin."""
    import duckdb

    from tools.parity import TABLES, compare

    got = load_catalog()[name].fn(spark, sf_dir)
    assert [_batch_ids(q) for q in started_queries] == [batches]
    assert got.count() > 0
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    res = compare(name, got, con)
    assert res["status"] == "MATCH", res
