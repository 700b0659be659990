"""The custom pure-Python ``connect_records`` DataSource (Spark 4 Python
DataSource API — the Spark-native analogue of a Kafka Connect plugin,
readme.md:16): batch partition-parallel generation, micro-batched streaming,
and the expand pipeline over it."""

import pytest

from pyspark.sql import functions as F

from kafka_connect_expand_json_transform_spark.sources.python_datasource import (
    ConnectRecordsDataSource,
    record_at,
    register,
)


@pytest.fixture(scope="module")
def registered(spark):
    register(spark)
    return spark


def test_batch_read_deterministic(registered):
    df = registered.read.format("connect_records").option("rows", 300).load()
    assert df.count() == 300
    assert df.columns == ["topic", "partition", "offset", "key", "value"]
    # offsets are exactly 0..299, each row the pure function of its offset
    rows = {r["offset"]: r for r in df.collect()}
    assert sorted(rows) == list(range(300))
    t, p, o, k, v = record_at(42, "synthetic", 8)
    assert (rows[42]["partition"], rows[42]["key"], rows[42]["value"]) == (p, k, v)


def test_batch_read_is_partition_parallel(registered):
    df = (
        registered.read.format("connect_records")
        .option("rows", 1000)
        .option("numPartitions", 4)
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    # every slice generated on executors; no slice overlaps another
    per_part = df.groupBy(F.spark_partition_id().alias("p")).count().collect()
    assert sorted(r["count"] for r in per_part) == [250, 250, 250, 250]


def test_stream_read_microbatches_drain(registered, tmp_path):
    import time

    stream = (
        registered.readStream.format("connect_records")
        .option("rows", 1000)
        .option("rowsPerBatch", 250)
        .load()
    )
    # availableNow takes one latestOffset() at start, which admits only the
    # first rowsPerBatch slice; drive micro-batches with the default trigger
    # and stop once the bounded offset space drains
    q = (
        stream.writeStream.format("memory")
        .queryName("pds_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            if registered.table("pds_stream").count() >= 1000:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    got = registered.table("pds_stream")
    assert got.count() == 1000
    # drained across multiple micro-batches (rowsPerBatch admits <= 250 each)
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(progress) >= 4
    assert max(p["numInputRows"] for p in progress) <= 250
    # offset space complete and duplicate-free across batches
    assert got.select("offset").distinct().count() == 1000


def test_expand_over_custom_source(registered):
    from kafka_connect_expand_json_transform_spark.sources.kafka import (
        expand_kafka_records,
    )

    rec = registered.read.format("connect_records").option("rows", 200).load()
    out = expand_kafka_records(rec, side="value")
    assert out.schema["value"].dataType.simpleString() == "struct<k:int,tag:string>"
    assert out.where(F.col("value.k") == F.col("offset") % 100).count() == 200


def test_datasource_name_and_schema():
    assert ConnectRecordsDataSource.name() == "connect_records"
    assert "offset bigint" in ConnectRecordsDataSource({}).schema()


@pytest.fixture(scope="module")
def sink_registered(spark):
    from kafka_connect_expand_json_transform_spark.sources.python_datasource import (
        register_sink,
    )

    register_sink(spark)
    return spark


def test_jsonl_sink_batch_roundtrip(sink_registered, tmp_path):
    import os

    spark = sink_registered
    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") % 5).cast("string").alias("grp"),
        (F.col("id") * 2).alias("dbl"),
    )
    out = str(tmp_path / "out")
    # python datasource writers accept only append/overwrite modes
    df.write.format("jsonl_sink").option("path", out).mode("append").save()
    # two-phase commit finished: no .tmp remnants, only committed parts
    names = os.listdir(out)
    assert names and all(n.endswith(".jsonl") for n in names)
    back = spark.read.schema("id bigint, grp string, dbl bigint").json(out)
    assert back.count() == 100
    assert back.agg(F.sum("id"), F.sum("dbl")).first() == df.agg(
        F.sum("id"), F.sum("dbl")
    ).first()


def test_jsonl_sink_overwrite_replaces(sink_registered, tmp_path):
    spark = sink_registered
    out = str(tmp_path / "out2")
    spark.range(50).write.format("jsonl_sink").option("path", out).mode(
        "append"
    ).save()
    spark.range(10).write.format("jsonl_sink").option("path", out).mode(
        "overwrite"
    ).save()
    back = spark.read.schema("id bigint").json(out)
    assert back.count() == 10


def test_jsonl_sink_streaming_epochs(sink_registered, tmp_path):
    import os
    import time

    spark = sink_registered
    stream = (
        spark.readStream.format("connect_records")
        .option("rows", 600)
        .option("rowsPerBatch", 200)
        .load()
    )
    out = str(tmp_path / "stream_out")
    q = (
        stream.select("offset", "value")
        .writeStream.format("jsonl_sink")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            files = [n for n in os.listdir(out)] if os.path.exists(out) else []
            done = [n for n in files if n.endswith(".jsonl")]
            total = 0
            for n in done:
                with open(os.path.join(out, n)) as f:
                    total += sum(1 for _ in f)
            if total >= 600:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    back = spark.read.schema("offset bigint, value string").json(out)
    assert back.count() == 600
    assert back.select("offset").distinct().count() == 600
    # per-epoch file naming: multiple epochs committed
    epochs = {n.split("-")[1] for n in os.listdir(out) if n.startswith("epoch-")}
    assert len(epochs) >= 3


def test_offset_filter_pushdown_narrows_generation(registered):
    from kafka_connect_expand_json_transform_spark.sources.python_datasource import (
        ConnectRecordsReader,
    )
    from pyspark.sql.datasource import EqualTo, GreaterThan, LessThan, StringContains

    # unit: supported offset range predicates narrow the slice bounds and are
    # consumed; anything else is returned for Spark to evaluate
    r = ConnectRecordsReader({"rows": "1000"})
    leftover = list(
        r.pushFilters(
            [GreaterThan(("offset",), 100), LessThan(("offset",), 200),
             StringContains(("value",), "t3")]
        )
    )
    assert [type(f).__name__ for f in leftover] == ["StringContains"]
    assert (r.lo, r.hi) == (101, 200)
    slices = r.partitions()
    assert slices[0].start == 101 and slices[-1].end == 200
    assert sum(s.end - s.start for s in slices) == 99

    # e2e: results correct under pushdown, incl. the residual filter
    df = registered.read.format("connect_records").option("rows", 1000).load()
    got = df.where((F.col("offset") >= 990) & (F.col("offset") < 995)).collect()
    assert sorted(r["offset"] for r in got) == [990, 991, 992, 993, 994]
    eq = df.where(F.col("offset") == 7).collect()
    assert len(eq) == 1 and eq[0]["partition"] == 7 % 8
    empty = df.where(F.col("offset") > 5000).count()
    assert empty == 0
