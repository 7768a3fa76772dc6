"""Source/sink round-trips: the formats the engine reads/writes.

The reference's only sink is 'warehouse table' (dbt materializations);
at scale the engine's sinks are columnar files. Round-trip = write with
the engine, read back, verify schema + values survive.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jaffle_shop_classic_spark.sources.parquet import load_table


@pytest.fixture(scope="module")
def sample(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )


def _assert_round_trip(df, back):
    assert back.schema == df.schema
    assert back.count() == df.count()
    a = df.agg(F.sum("o_totalprice"), F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
    b = back.agg(F.sum("o_totalprice"), F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
    assert tuple(a) == tuple(b)


def test_parquet_round_trip(spark, sample, tmp_path):
    p = str(tmp_path / "pq")
    sample.write.mode("overwrite").parquet(p)
    _assert_round_trip(sample, spark.read.parquet(p))


def test_partitioned_parquet_prunes(spark, sample, tmp_path):
    p = str(tmp_path / "pq_part")
    sample.write.mode("overwrite").partitionBy("o_orderstatus").parquet(p)
    back = spark.read.parquet(p)
    assert back.count() == sample.count()
    pruned = back.filter(F.col("o_orderstatus") == "P")
    plan = pruned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # the status predicate must become a partition filter (directory
    # pruning), not a data filter
    assert "PartitionFilters: [" in plan
    assert pruned.count() == sample.filter(F.col("o_orderstatus") == "P").count()


def test_orc_round_trip(spark, sample, tmp_path):
    p = str(tmp_path / "orc")
    sample.write.mode("overwrite").orc(p)
    _assert_round_trip(sample, spark.read.orc(p))


def test_json_round_trip(spark, sample, tmp_path):
    p = str(tmp_path / "json")
    sample.write.mode("overwrite").json(p)
    back = spark.read.schema(sample.schema).json(p)
    _assert_round_trip(sample, back)


def test_csv_round_trip_with_pinned_schema(spark, sample, tmp_path):
    p = str(tmp_path / "csv")
    sample.write.mode("overwrite").option("header", True).csv(p)
    back = spark.read.schema(sample.schema).option("header", True).csv(p)
    _assert_round_trip(sample, back)


def test_custom_jsonl_manifest_sink_round_trip(spark, tmp_path):
    from jaffle_shop_classic_spark.sources.jsonl_sink import (
        MANIFEST,
        JsonlManifestDataSource,
        read_manifest,
    )
    import os

    spark.dataSource.register(JsonlManifestDataSource)
    df = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("bucket")
    ).repartition(4)
    out = str(tmp_path / "export")
    df.write.format("jsonl_manifest").option("path", out).mode("append").save()

    # two-phase commit: manifest exists and accounts for every row
    assert os.path.exists(os.path.join(out, MANIFEST))
    back, manifest = read_manifest(spark, out)
    assert manifest["n_rows"] == 100
    assert len(manifest["shards"]) == 4  # one shard per write task
    got = sorted((r["doc_id"], r["bucket"]) for r in back.collect())
    want = sorted((i, i % 7) for i in range(100))
    assert got == want
    # only manifest-listed shards are authoritative: an orphan file from
    # a failed attempt must not change the read-back
    orphan = os.path.join(out, "part-99999-deadbeef.jsonl")
    with open(orphan, "w") as f:
        f.write('{"doc_id": 12345, "bucket": 0}\n')
    back2, _ = read_manifest(spark, out)
    assert back2.count() == 100


def test_compaction_rewrites_small_files_and_preserves_data(spark, tmp_path):
    from pyspark.sql import functions as F

    from jaffle_shop_classic_spark.sources.maintenance import compact_table

    frag = str(tmp_path / "fragmented")
    src = spark.range(10_000).select(
        "id", (F.col("id") % 97).alias("k"), F.rand(seed=1).alias("v")
    )
    src.repartition(64).write.parquet(frag)  # simulate small-file sprawl
    out = str(tmp_path / "compacted")
    stats = compact_table(spark, frag, out, target_files=4, cluster_cols=("k",))
    assert stats["files_before"] >= 32
    assert stats["files_after"] <= 5  # range partitioner may emit <=target
    assert stats["rows"] == 10_000
    # content identical
    a = spark.read.parquet(frag)
    b = spark.read.parquet(out)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # clustering: per-file k-ranges must be (near-)disjoint — the file
    # count touched by a narrow predicate shrinks accordingly
    ranged = (
        b.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
        .collect()
    )
    spans = sorted((r["lo"], r["hi"]) for r in ranged)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2  # disjoint envelopes -> file skipping works


def test_jsonl_manifest_append_preserves_previous_commit(spark, tmp_path):
    """Append mode must MERGE manifests: a second write may not orphan
    the first commit's rows (the silent-data-loss case), and the stored
    schema keeps types (dates) through the round trip."""
    from jaffle_shop_classic_spark.sources.jsonl_sink import (
        JsonlManifestDataSource,
        read_manifest,
    )

    spark.dataSource.register(JsonlManifestDataSource)
    path = str(tmp_path / "mani")
    df1 = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    )
    df1.write.format("jsonl_manifest").mode("append").option("path", path).save()
    df2 = spark.createDataFrame([(3, "c")], "id long, v string")
    df2.write.format("jsonl_manifest").mode("append").option("path", path).save()
    back, manifest = read_manifest(spark, path)
    assert manifest["n_rows"] == 3
    assert sorted(r["id"] for r in back.collect()) == [1, 2, 3]

    # overwrite replaces the manifest AND removes stale shards
    df2.write.format("jsonl_manifest").mode("overwrite").option("path", path).save()
    back2, manifest2 = read_manifest(spark, path)
    assert manifest2["n_rows"] == 1
    assert [r["id"] for r in back2.collect()] == [3]
    import os

    shards_on_disk = [f for f in os.listdir(path) if f.endswith(".jsonl")]
    assert len(shards_on_disk) == len(manifest2["shards"])  # no leak


def test_jsonl_manifest_serializes_dates_and_keeps_types(spark, tmp_path):
    from pyspark.sql import functions as F

    from jaffle_shop_classic_spark.sources.jsonl_sink import (
        JsonlManifestDataSource,
        read_manifest,
    )

    spark.dataSource.register(JsonlManifestDataSource)
    path = str(tmp_path / "typed")
    df = spark.createDataFrame([(1, "2024-03-01")], "id long, d string").select(
        "id", F.col("d").cast("date").alias("d")
    )
    df.write.format("jsonl_manifest").mode("append").option("path", path).save()
    back, _ = read_manifest(spark, path)
    assert dict(back.dtypes)["d"] == "date"  # stored schema, not inference
    assert str(back.collect()[0]["d"]) == "2024-03-01"


def test_jsonl_manifest_datasource_reader_round_trip(spark, tmp_path):
    """The READER half of the custom format: spark.read.format(...)
    resolves the manifest, schedules one input partition per committed
    shard, restores JSON-degraded types from the stored schema, and
    never sees orphan shards."""
    import datetime
    import os

    from jaffle_shop_classic_spark.sources.jsonl_sink import (
        JsonlManifestDataSource,
    )

    spark.dataSource.register(JsonlManifestDataSource)
    df = (
        spark.range(60)
        .select(
            F.col("id").alias("k"),
            F.expr("timestamp'2026-01-02 03:04:05' + make_interval(0,0,0,0,0,0,id)").alias("ts"),
            F.expr("date'2026-01-02'").alias("d"),
            F.expr("CAST(NULL AS STRING)").alias("always_null"),
            (F.col("id") * F.lit(0.5)).alias("x"),
        )
        .repartition(3)
    )
    out = str(tmp_path / "export_r")
    df.write.format("jsonl_manifest").option("path", out).mode("append").save()

    # orphan shard from a "failed attempt" — must stay invisible
    with open(os.path.join(out, "part-99999-orphan.jsonl"), "w") as f:
        f.write('{"k": 999999, "ts": "2026-01-01T00:00:00", "d": "2026-01-01",'
                ' "always_null": null, "x": 0.0}\n')

    back = spark.read.format("jsonl_manifest").load(out)
    # schema came from the manifest, types restored (not strings)
    assert back.schema == df.schema
    assert back.rdd.getNumPartitions() == 3  # one split per shard
    got = sorted(back.collect(), key=lambda r: r["k"])
    want = sorted(df.collect(), key=lambda r: r["k"])
    assert got == want
    assert isinstance(got[0]["ts"], datetime.datetime)
    assert isinstance(got[0]["d"], datetime.date)
    assert all(r["always_null"] is None for r in got)


def test_jsonl_manifest_reader_empty_dataset(spark, tmp_path):
    from jaffle_shop_classic_spark.sources.jsonl_sink import (
        JsonlManifestDataSource,
    )

    spark.dataSource.register(JsonlManifestDataSource)
    df = spark.range(0).select(F.col("id").alias("k"))
    out = str(tmp_path / "export_empty")
    df.write.format("jsonl_manifest").option("path", out).mode("append").save()
    back = spark.read.format("jsonl_manifest").load(out)
    assert back.count() == 0
    assert back.schema == df.schema


def test_jsonl_manifest_timestamp_instant_survives_session_timezone(spark, tmp_path):
    """TimestampType is an INSTANT: written under one session timezone
    and read under another, the epoch value must not move. The writer
    normalizes to UTC with an explicit offset (naive ISO strings were
    silently reinterpreted in the reader's session zone — a 5h shift for
    a New York writer and a UTC reader); both read paths (the Python
    DataSource reader and read_manifest's spark.read.json) parse the
    offset. TimestampNTZ stays a wall-clock string, zone-independent by
    definition."""
    from pyspark.sql import functions as F

    from jaffle_shop_classic_spark.sources.jsonl_sink import (
        JsonlManifestDataSource,
        read_manifest,
    )

    spark.dataSource.register(JsonlManifestDataSource)
    path = str(tmp_path / "tz")
    epoch = 1704182645  # 2024-01-02T08:04:05Z
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        df = spark.range(1).select(
            F.col("id").alias("k"),
            F.timestamp_seconds(F.lit(epoch)).alias("ts"),
            F.expr("timestamp_ntz'2024-01-02 03:04:05'").alias("tsn"),
        )
        df.write.format("jsonl_manifest").mode("overwrite").option("path", path).save()
        for tz in ("America/New_York", "UTC", "Asia/Tokyo"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            ds_back = spark.read.format("jsonl_manifest").load(path)
            assert ds_back.select(F.col("ts").cast("long")).first()[0] == epoch, tz
            assert (
                ds_back.select(F.date_format("tsn", "yyyy-MM-dd HH:mm:ss")).first()[0]
                == "2024-01-02 03:04:05"
            ), tz
            mf_back, _ = read_manifest(spark, path)
            assert mf_back.select(F.col("ts").cast("long")).first()[0] == epoch, tz
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_stream_legacy_pending_adopted_when_its_batches_exist(spark, tmp_path):
    """Round-11 advice (low): a LEGACY pending file (pre-'checkpoint'-key
    format) left by a run that crashed after committing batches but
    before the generation flip used to be treated as foreign on resume
    (pending_ckpt None != ckpt_id), silently deleted, and the resume fell
    back to the prior generation — leaving that generation's stale
    higher-numbered batch dirs live (duplicate rows). The migration path
    adopts a checkpoint-less pending IFF batch dirs stamped with its
    generation already exist on disk."""
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

    def start(checkpoint):
        q = write_stream_exactly_once(
            spark.readStream.schema("k bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/f*"),
            sink,
            checkpoint,
        )
        q.awaitTermination(120)

    sink = str(tmp_path / "sink")
    for i in range(2):
        add_file(i)
    # run 1 (ckpt1): batches 0,1 live as generation 1
    start(str(tmp_path / "ckpt1"))
    # fresh restart (ckpt2): reprocesses everything as generation 2
    add_file(2)
    start(str(tmp_path / "ckpt2"))
    gpath = os.path.join(sink, GENERATION_FILE)
    ppath = os.path.join(sink, GENERATION_PENDING_FILE)
    with open(gpath) as f:
        assert json.load(f)["generation"] == 2

    # rewind disk to the legacy crash-pre-flip state: live file still at
    # generation 1, pending staged in the OLD format (no checkpoint key),
    # batch dirs already stamped with generation 2
    with open(gpath, "w") as f:
        json.dump({"generation": 1}, f)
    with open(ppath, "w") as f:
        json.dump({"generation": 2}, f)

    # resume ckpt2: the checkpoint-less pending is adoptable because its
    # generation's batches exist — flip completes on the next commit
    add_file(3)
    start(str(tmp_path / "ckpt2"))
    with open(gpath) as f:
        assert json.load(f)["generation"] == 2
    assert not os.path.exists(ppath)
    got, rows = read_all_batches(spark, sink)
    assert rows == 40 and sorted(r["k"] for r in got.collect()) == list(range(40))

    # a checkpoint-less pending with NO batches stamped by it is still
    # foreign: dropped, generation unchanged
    with open(ppath, "w") as f:
        json.dump({"generation": 9}, f)
    add_file(4)
    start(str(tmp_path / "ckpt2"))
    assert not os.path.exists(ppath)
    with open(gpath) as f:
        assert json.load(f)["generation"] == 2
    got2, rows2 = read_all_batches(spark, sink)
    assert rows2 == 50 and sorted(r["k"] for r in got2.collect()) == list(range(50))
