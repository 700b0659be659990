"""Streaming semantics tests — deterministic, broker-free (SURVEY.md §5
strategy (3)): JSON file source -> availableNow trigger -> memory sink."""

import json
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from kafka_connect_expand_json_transform_spark.streaming import (
    expand_json_stream,
    file_stream_source,
    memory_sink,
    run_stream,
    running_aggregate,
    session_window_agg,
    sliding_window_agg,
    stream_dedup,
    tumbling_window_agg,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", IntegerType()),
        StructField("user", StringType()),
        StructField("ts", TimestampType()),
        StructField("props", StringType()),
    ]
)

ROWS = [
    # two sessions for alice (gap > 10 min between 10:05 and 10:30),
    # one session for bob; event 4 duplicates event 3's id
    {"event_id": 1, "user": "alice", "ts": "2026-01-01T10:00:00Z", "props": '{"k": 10}'},
    {"event_id": 2, "user": "alice", "ts": "2026-01-01T10:05:00Z", "props": '{"k": 20}'},
    {"event_id": 3, "user": "bob", "ts": "2026-01-01T10:06:00Z", "props": '{"k": 5}'},
    {"event_id": 3, "user": "bob", "ts": "2026-01-01T10:06:00Z", "props": '{"k": 5}'},
    {"event_id": 4, "user": "alice", "ts": "2026-01-01T10:30:00Z", "props": '{"k": 40}'},
    {"event_id": 5, "user": "bob", "ts": "2026-01-01T11:02:00Z", "props": "not json"},
]


@pytest.fixture()
def events_path(tmp_path):
    p = tmp_path / "stream_in"
    p.mkdir()
    (p / "batch0.json").write_text("\n".join(json.dumps(r) for r in ROWS))
    return str(p)


def run_to_table(spark, df, output_mode="append"):
    name = "t_" + uuid.uuid4().hex[:12]
    memory_sink(df, name, output_mode=output_mode)
    return spark.table(name)


def test_stream_expand_json_with_sample_batch(spark, events_path):
    stream = file_stream_source(spark, events_path, EVENT_SCHEMA)
    sample = spark.read.schema(EVENT_SCHEMA).json(events_path)
    expanded = expand_json_stream(stream, fields=["props"], sample_df=sample)
    assert expanded.isStreaming
    out = run_to_table(spark, expanded.select("event_id", "props.k"))
    rows = {r["event_id"]: r["k"] for r in out.collect() if r["k"] is not None}
    assert rows == {1: 10, 2: 20, 3: 5, 4: 40}  # malformed row -> null (PERMISSIVE)


def test_tumbling_window_counts(spark, events_path):
    # complete mode: all windows visible after one availableNow batch (append
    # mode only emits windows *closed by the watermark in a later batch* —
    # covered by test_append_mode_drops_late_data)
    stream = file_stream_source(spark, events_path, EVENT_SCHEMA)
    agg = tumbling_window_agg(stream, "ts", "1 hour", {"n": F.count("*")})
    out = run_to_table(spark, agg, output_mode="complete").collect()
    got = {r["window"]["start"].strftime("%H:%M"): r["n"] for r in out}
    assert got == {"10:00": 5, "11:00": 1}


def test_sliding_window_overlap(spark, events_path):
    stream = file_stream_source(spark, events_path, EVENT_SCHEMA)
    agg = sliding_window_agg(stream, "ts", "1 hour", "30 minutes", {"n": F.count("*")})
    out = run_to_table(spark, agg, output_mode="complete").collect()
    # event at 10:00 lands in windows [09:30,10:30) and [10:00,11:00)
    got = {r["window"]["start"].strftime("%H:%M"): r["n"] for r in out}
    assert got["09:30"] == 4 and got["10:00"] == 5


def test_append_mode_emits_only_watermark_closed_windows(spark, tmp_path):
    """Watermark semantics end-to-end, two micro-batches (maxFilesPerTrigger=1).

    Encodes Spark's *actual* append-mode contract (verified on 4.1.2):
    * a window is emitted exactly once, in the batch whose watermark strictly
      passes the window end — never while still open;
    * late-row dropping is one-sided best-effort: a straggler whose window was
      never evicted is admitted and gets its own (late) window emission.
    """
    import os as _os

    p = tmp_path / "late_in"
    p.mkdir()
    batch0 = [
        {"event_id": 1, "user": "a", "ts": "2026-01-01T10:00:00Z", "props": "{}"},
        {"event_id": 2, "user": "a", "ts": "2026-01-01T10:10:00Z", "props": "{}"},
    ]
    batch1 = [
        # on-time: advances watermark to 10:25 after this batch
        {"event_id": 3, "user": "a", "ts": "2026-01-01T10:30:00Z", "props": "{}"},
        # straggler behind the 10:05 watermark: admitted (one-sided guarantee),
        # creates window [09:30,10:00)
        {"event_id": 4, "user": "a", "ts": "2026-01-01T09:50:00Z", "props": "{}"},
    ]
    f0, f1 = p / "b0.json", p / "b1.json"
    f0.write_text("\n".join(json.dumps(r) for r in batch0))
    f1.write_text("\n".join(json.dumps(r) for r in batch1))
    _os.utime(f0, (1000000000, 1000000000))  # force b0 before b1
    _os.utime(f1, (1000000100, 1000000100))

    stream = file_stream_source(
        spark, str(p), EVENT_SCHEMA, options={"maxFilesPerTrigger": "1"}
    )
    agg = tumbling_window_agg(
        stream, "ts", "30 minutes", {"n": F.count("*")}, watermark="5 minutes"
    )
    out = run_to_table(spark, agg, output_mode="append").collect()
    got = sorted((r["window"]["start"].strftime("%H:%M"), r["n"]) for r in out)
    # [09:30,10:00): straggler's window, end 10:00 <= final watermark 10:25 ->
    #   emitted (n=1) by the trailing no-data batch.
    # [10:00,10:30): end 10:30 > watermark 10:25 -> still open, NOT emitted.
    # [10:30,11:00): open, NOT emitted.
    assert got == [("09:30", 1)]


def test_session_window_split_by_gap(spark, events_path):
    stream = file_stream_source(spark, events_path, EVENT_SCHEMA)
    agg = session_window_agg(
        stream,
        "ts",
        "10 minutes",
        {"n": F.count("*")},
        keys=["user"],
        watermark="1 minute",
    )
    out = run_to_table(spark, agg, output_mode="complete").collect()
    per_user = sorted((r["user"], r["n"]) for r in out)
    # alice: {10:00,10:05} then {10:30}; bob: {10:06 x2} then {11:02}
    assert per_user == [("alice", 1), ("alice", 2), ("bob", 1), ("bob", 2)]


def test_session_window_streaming_requires_watermark(spark, events_path):
    stream = file_stream_source(spark, events_path, EVENT_SCHEMA)
    with pytest.raises(ValueError, match="watermark"):
        session_window_agg(stream, "ts", "10 minutes", {"n": F.count("*")})


def test_stream_dedup_within_watermark(spark, events_path):
    stream = file_stream_source(spark, events_path, EVENT_SCHEMA)
    deduped = stream_dedup(stream, ["event_id"], ts_col="ts", watermark="1 hour")
    out = run_to_table(spark, deduped)
    ids = [r["event_id"] for r in out.collect()]
    assert sorted(ids) == [1, 2, 3, 4, 5]


def test_running_aggregate_state(spark, events_path):
    stream = file_stream_source(spark, events_path, EVENT_SCHEMA)
    with_k = stream.withColumn("k", F.get_json_object("props", "$.k").cast("double"))
    agg = running_aggregate(with_k, ["user"], "k")
    out = run_to_table(spark, agg, output_mode="update").collect()
    # one availableNow batch -> one row per key with full totals
    got = {r["user"]: (r["n"], r["total"], r["min_value"], r["max_value"]) for r in out}
    assert got["alice"] == (3, 70.0, 10.0, 40.0)
    assert got["bob"] == (2, 10.0, 5.0, 5.0)


def _have_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _have_protobuf(),
    reason="transformWithStateInPandas's state server needs google.protobuf, "
    "not installed in this container",
)
def test_running_aggregate_transform_with_state(spark, events_path):
    """Spark 4 transformWithStateInPandas path (typed ValueState on the
    RocksDB store) — same totals as the applyInPandasWithState twin."""
    from kafka_connect_expand_json_transform_spark.streaming.stateful import (
        running_aggregate_tws,
    )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = file_stream_source(spark, events_path, EVENT_SCHEMA)
        with_k = stream.withColumn("k", F.get_json_object("props", "$.k").cast("double"))
        agg = running_aggregate_tws(with_k, ["user"], "k")
        out = run_to_table(spark, agg, output_mode="update").collect()
        got = {r["user"]: (r["n"], r["total"], r["min_value"], r["max_value"]) for r in out}
        assert got["alice"] == (3, 70.0, 10.0, 40.0)
        assert got["bob"] == (2, 10.0, 5.0, 5.0)
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_stream_static_join(spark, events_path):
    """Stream-static join (SURVEY.md §2.2 streaming): the static side is
    re-read per micro-batch, no watermark needed."""
    stream = file_stream_source(spark, events_path, EVENT_SCHEMA)
    users = spark.createDataFrame(
        [("alice", "US"), ("bob", "DE")], "user string, country string"
    )
    joined = stream.join(users, "user").select("event_id", "user", "country")
    out = run_to_table(spark, joined).collect()
    got = {(r["event_id"], r["country"]) for r in out}
    assert got == {(1, "US"), (2, "US"), (4, "US"), (3, "DE"), (5, "DE")}


def test_stream_stream_join(spark, tmp_path):
    """Stream-stream inner join with watermarks + time-bound condition:
    purchases matched to clicks within the preceding 30 minutes."""
    clicks_p = tmp_path / "clicks"
    buys_p = tmp_path / "buys"
    clicks_p.mkdir()
    buys_p.mkdir()
    clicks = [
        {"event_id": 1, "user": "alice", "ts": "2026-01-01T10:00:00Z", "props": "{}"},
        {"event_id": 2, "user": "bob", "ts": "2026-01-01T10:05:00Z", "props": "{}"},
    ]
    buys = [
        # within 30min of alice's click -> matches
        {"event_id": 10, "user": "alice", "ts": "2026-01-01T10:20:00Z", "props": "{}"},
        # 2h after bob's click -> outside the bound, no match
        {"event_id": 11, "user": "bob", "ts": "2026-01-01T12:05:00Z", "props": "{}"},
    ]
    (clicks_p / "c.json").write_text("\n".join(json.dumps(r) for r in clicks))
    (buys_p / "b.json").write_text("\n".join(json.dumps(r) for r in buys))

    c = (
        file_stream_source(spark, str(clicks_p), EVENT_SCHEMA)
        .selectExpr("user", "ts AS click_ts", "event_id AS click_id")
        .withWatermark("click_ts", "1 hour")
    )
    b = (
        file_stream_source(spark, str(buys_p), EVENT_SCHEMA)
        .selectExpr("user AS buyer", "ts AS buy_ts", "event_id AS buy_id")
        .withWatermark("buy_ts", "1 hour")
    )
    joined = c.join(
        b,
        F.expr(
            """
            user = buyer AND
            buy_ts >= click_ts AND
            buy_ts <= click_ts + INTERVAL 30 MINUTES
            """
        ),
    ).select("user", "click_id", "buy_id")
    out = run_to_table(spark, joined).collect()
    assert {(r["user"], r["click_id"], r["buy_id"]) for r in out} == {("alice", 1, 10)}


def test_rate_source_plan(spark):
    from kafka_connect_expand_json_transform_spark.streaming import rate_source

    df = rate_source(spark, rows_per_second=10)
    assert df.isStreaming and set(df.columns) == {"timestamp", "value"}


def test_expand_json_sample_rejects_streaming(spark, events_path):
    from kafka_connect_expand_json_transform_spark.operators.expand_json import (
        expand_json,
    )

    stream = file_stream_source(spark, events_path, EVENT_SCHEMA)
    with pytest.raises(ValueError, match="expand_json_stream"):
        expand_json(stream, fields=["props"])


def test_expand_json_nested_sample_rejects_streaming(spark, events_path):
    from kafka_connect_expand_json_transform_spark.operators.expand_json import (
        expand_json_nested,
    )

    stream = file_stream_source(spark, events_path, EVENT_SCHEMA)
    nested = stream.select(F.struct("props").alias("meta"))
    with pytest.raises(ValueError, match="expand_json_stream"):
        expand_json_nested(nested, ["meta.props"])


def test_incremental_hll_across_microbatches(spark, tmp_path):
    from kafka_connect_expand_json_transform_spark.operators.sketches import (
        hll_rollup,
        incremental_hll,
    )

    src = tmp_path / "hll_in"
    src.mkdir()
    # two files -> two micro-batches with maxFilesPerTrigger=1; user 20
    # appears in both batches and must count once
    rows0 = [{"event_id": i, "user": "alice", "ts": "2026-01-01T10:00:00Z",
              "props": str(i % 20)} for i in range(40)]
    rows1 = [{"event_id": i, "user": "alice", "ts": "2026-01-01T10:01:00Z",
              "props": str(i % 30)} for i in range(60)]
    (src / "b0.json").write_text("\n".join(json.dumps(r) for r in rows0))
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows1))
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    partials = str(tmp_path / "hll_partials")
    q = incremental_hll(
        stream, ["user"], "props", partials, str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    got = {
        r["user"]: r["n_distinct_est"]
        for r in hll_rollup(
            spark.read.parquet(partials), ["user"]
        ).collect()
    }
    # distinct props across both batches: 0..29 -> 30 values, merged not summed
    assert got["alice"] == pytest.approx(30, rel=0.05)


def test_stream_stream_left_outer_join_emits_nulls_after_watermark(spark, tmp_path):
    """Left-outer stream-stream join: an unmatched click emits a null-padded
    row only once the global watermark (min across BOTH sources) passes its
    join window — so each side's second file carries a late row to advance
    its own watermark. A click whose window is still open at the final
    watermark must NOT be emitted (state not yet evicted)."""
    import os as _os

    clicks_p, buys_p = tmp_path / "clicks", tmp_path / "buys"
    clicks_p.mkdir()
    buys_p.mkdir()
    c0 = [
        {"event_id": 1, "user": "alice", "ts": "2026-01-01T10:00:00Z", "props": "{}"},
        # bob never buys -> null-padded once watermark > 10:05 + 30min
        {"event_id": 2, "user": "bob", "ts": "2026-01-01T10:05:00Z", "props": "{}"},
    ]
    # charlie's click window [13:00, 13:30] is still open at the final
    # watermark (12:50) -> must not appear in the output at all
    c1 = [{"event_id": 3, "user": "charlie", "ts": "2026-01-01T13:00:00Z", "props": "{}"}]
    b0 = [{"event_id": 10, "user": "alice", "ts": "2026-01-01T10:20:00Z", "props": "{}"}]
    # unmatched BUY: left join never null-pads the right side; also advances
    # the buys watermark to 12:50 so bob's state can be evicted
    b1 = [{"event_id": 11, "user": "dave", "ts": "2026-01-01T13:00:00Z", "props": "{}"}]
    for i, (p, rows) in enumerate(
        [(clicks_p / "c0.json", c0), (clicks_p / "c1.json", c1),
         (buys_p / "b0.json", b0), (buys_p / "b1.json", b1)]
    ):
        p.write_text("\n".join(json.dumps(r) for r in rows))
        _os.utime(p, (1000000000 + (i % 2) * 100,) * 2)  # *0 files before *1 files

    c = (
        file_stream_source(spark, str(clicks_p), EVENT_SCHEMA,
                           options={"maxFilesPerTrigger": "1"})
        .selectExpr("user", "ts AS click_ts", "event_id AS click_id")
        .withWatermark("click_ts", "10 minutes")
    )
    b = (
        file_stream_source(spark, str(buys_p), EVENT_SCHEMA,
                           options={"maxFilesPerTrigger": "1"})
        .selectExpr("user AS buyer", "ts AS buy_ts", "event_id AS buy_id")
        .withWatermark("buy_ts", "10 minutes")
    )
    joined = c.join(
        b,
        F.expr("user = buyer AND buy_ts >= click_ts AND "
               "buy_ts <= click_ts + INTERVAL 30 MINUTES"),
        "leftOuter",
    ).select("user", "click_id", "buy_id")
    out = run_to_table(spark, joined).collect()
    got = {(r["user"], r["click_id"], r["buy_id"]) for r in out}
    assert got == {("alice", 1, 10), ("bob", 2, None)}


def test_incremental_quantile_across_microbatches(spark, tmp_path):
    """Per-group quantile partials merged across micro-batches: after two
    batches covering 0..99 and 100..199, the persisted sketch's p50 must sit
    near the COMBINED median (~100), not either batch's own."""
    from kafka_connect_expand_json_transform_spark.operators.sketches import (
        incremental_quantile,
        quantile_rollup,
    )

    src = tmp_path / "q_in"
    src.mkdir()
    rows0 = [{"event_id": i, "user": "alice", "ts": "2026-01-01T10:00:00Z",
              "props": str(float(i))} for i in range(100)]
    rows1 = [{"event_id": i, "user": "alice", "ts": "2026-01-01T10:01:00Z",
              "props": str(float(100 + i))} for i in range(100)]
    (src / "b0.json").write_text("\n".join(json.dumps(r) for r in rows0))
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows1))
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    partials = str(tmp_path / "q_partials")
    q = incremental_quantile(
        stream, ["user"], "props", partials, str(tmp_path / "q_ckpt"), m=64
    )
    q.awaitTermination()
    stored = spark.read.parquet(partials)
    assert stored.count() == 1  # one merged partial per group, not per batch
    out = quantile_rollup(stored, ["user"], [0.5], m=64).collect()[0]
    assert out["q_count"] == 200
    assert abs(out["p50"] - 99.5) < 10


def test_streaming_cdc_merge_matches_batch(spark, tmp_path):
    """Streaming CDC apply: replaying the changelog through a file stream and
    merge-upserting each micro-batch onto the running snapshot must produce
    exactly the state of one batch merge of the full changelog (micro-batch /
    batch equivalence — the property that lets the same merge_upsert power
    both the backfill and the live tail of a CDC pipeline)."""
    import os

    from kafka_connect_expand_json_transform_spark.operators.relational import (
        merge_upsert,
    )

    snapshot = spark.createDataFrame(
        [(i, 0, "base") for i in range(10)], "id int, val int, src string"
    )

    # two changelog files: later file has higher LSNs and must win per key
    changes1 = [(1, 10, "cdc", "U", 1), (2, 20, "cdc", "U", 2), (3, 0, "cdc", "D", 3)]
    changes2 = [(1, 99, "cdc", "U", 4), (3, 33, "cdc", "I", 5), (11, 11, "cdc", "I", 6)]
    cols = "id int, val int, src string, op string, lsn int"
    cdc_dir = tmp_path / "cdc"
    cdc_dir.mkdir()
    for n, rows in (("a", changes1), ("b", changes2)):
        spark.createDataFrame(rows, cols).coalesce(1).write.mode("overwrite").json(
            str(tmp_path / f"stage_{n}")
        )
        part = next(
            p for p in os.listdir(tmp_path / f"stage_{n}") if p.startswith("part-")
        )
        os.rename(tmp_path / f"stage_{n}" / part, cdc_dir / f"{n}.json")
        # file source replays oldest-mtime first; make the order explicit
        os.utime(cdc_dir / f"{n}.json", (1000, 1000) if n == "a" else (2000, 2000))

    state = {"snap": snapshot}

    def apply_batch(batch_df, _batch_id):
        state["snap"] = merge_upsert(
            state["snap"], batch_df, key_cols="id", order_col="lsn"
        ).localCheckpoint()  # cut lineage so state doesn't re-merge every batch

    stream = (
        spark.readStream.schema(cols)
        .option("maxFilesPerTrigger", 1)
        .json(str(cdc_dir))
    )
    run_stream(
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )

    full = spark.createDataFrame(changes1 + changes2, cols)
    expected = {
        (r["id"], r["val"], r["src"])
        for r in merge_upsert(snapshot, full, key_cols="id", order_col="lsn").collect()
    }
    got = {(r["id"], r["val"], r["src"]) for r in state["snap"].collect()}
    assert got == expected
    assert (1, 99, "cdc") in got  # later micro-batch won key 1
    assert (3, 33, "cdc") in got  # delete then re-insert across batches
    assert (11, 11, "cdc") in got and (2, 20, "cdc") in got


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Exactly-once across restarts: run an availableNow aggregation to a
    parquet sink with a checkpoint, append new input files, restart the SAME
    query (same checkpoint), and verify the sink holds every input row once —
    already-committed batch0 files are not reprocessed, new files are.  This
    is the recovery contract a production pipeline leans on after a crash or
    deploy; file-source + checkpoint tracks consumed files exactly."""
    src = tmp_path / "in"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(name, rows):
        (src / name).write_text("\n".join(json.dumps(r) for r in rows))

    def run_once():
        stream = file_stream_source(spark, str(src), EVENT_SCHEMA, fmt="json")
        agg = stream.select("event_id", "user")
        run_stream(
            agg.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
        )

    write_batch("b0.json", ROWS[:3])
    run_once()
    first = spark.read.parquet(out).count()
    assert first == 3

    write_batch("b1.json", ROWS[3:])
    run_once()
    rows = spark.read.parquet(out).collect()
    # 6 input rows total, each committed exactly once (the duplicate
    # event_id 3 rows are two distinct INPUT rows and both belong)
    assert len(rows) == 6
    ids = sorted(r["event_id"] for r in rows)
    assert ids == [1, 2, 3, 3, 4, 5]


def test_session_window_dynamic_gap_streaming(spark, events_path):
    """Per-event dynamic session gap (Column gap) in a REAL stream: alice
    holds sessions open 30 minutes (so 10:00/10:05/10:30 merge into ONE
    session), bob stays at 10 minutes (two sessions as before)."""
    stream = file_stream_source(spark, events_path, EVENT_SCHEMA)
    gap = F.when(F.col("user") == "alice", "30 minutes").otherwise("10 minutes")
    agg = session_window_agg(
        stream,
        "ts",
        gap,
        {"n": F.count("*")},
        keys=["user"],
        watermark="1 minute",
    )
    out = run_to_table(spark, agg, output_mode="complete").collect()
    per_user = sorted((r["user"], r["n"]) for r in out)
    assert per_user == [("alice", 3), ("bob", 1), ("bob", 2)]


def test_multibatch_agg_actually_runs_multiple_batches(spark, tmp_path):
    """stream_multibatch_agg_e2e's premise: maxFilesPerTrigger=1 over three
    files + availableNow must take >= 3 micro-batches, with the complete-mode
    aggregate carrying state across every boundary."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "files")
    spark.range(300).select(
        (F.col("id") % 3).alias("k"), F.lit(1).alias("one")
    ).repartition(3).write.parquet(src)
    stream = (
        spark.readStream.format("parquet")
        .schema("k long, one int")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    q = run_stream(
        stream.groupBy("k")
        .agg(F.sum("one").alias("n"))
        .writeStream.format("memory")
        .queryName("sg_mb_test")
        .outputMode("complete")
    )
    batches = q.recentProgress
    assert len([p for p in batches if p["numInputRows"] > 0]) >= 3, [
        (p["batchId"], p["numInputRows"]) for p in batches
    ]
    got = {r["k"]: r["n"] for r in spark.table("sg_mb_test").collect()}
    assert got == {0: 100, 1: 100, 2: 100}


def test_stream_incremental_dedup_matches_sequential(spark):
    """The streaming incremental-dedup loop (stream_incremental_dedup_e2e:
    per-micro-batch dedup_against_corpus over artifact tables appended
    batch-by-batch) must produce exactly the survivors of applying the
    SAME batches sequentially in plain batch mode — the streaming harness
    adds delivery, not semantics."""
    from pyspark.sql import functions as F

    from kafka_connect_expand_json_transform_spark.llmops.dedup import (
        corpus_artifacts,
        dedup_against_corpus,
    )
    from kafka_connect_expand_json_transform_spark.plans.queries import QUERIES
    from kafka_connect_expand_json_transform_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    docs = (
        load_table(spark, sf, "documents")
        .where(F.col("doc_id") % 7 == 0)  # the query's deterministic slice
        .select("doc_id", "text", "source")
    )

    # sequential reference: same doc_id % 2 batches, artifacts appended
    kept_counts: dict = {}
    arts = None
    for b in range(2):
        batch = docs.where(F.col("doc_id") % 2 == b)
        if arts is None:
            empty = spark.createDataFrame([], batch.schema)
            kept = dedup_against_corpus(batch, empty, "text", "doc_id", num_hashes=8)
        else:
            kept = dedup_against_corpus(
                batch, None, "text", "doc_id", num_hashes=8, artifacts=arts
            )
        kept = kept.localCheckpoint(eager=True)
        new = corpus_artifacts(kept, "text", "doc_id", num_hashes=8)
        if arts is None:
            arts = new
        else:
            arts = {
                k: arts[k].unionByName(new[k]).localCheckpoint(eager=True)
                for k in arts
            }
        for r in kept.groupBy("source").count().collect():
            kept_counts[r["source"]] = kept_counts.get(r["source"], 0) + r["count"]

    streamed = {
        (r["source"], r["n_kept"])
        for r in QUERIES["stream_incremental_dedup_e2e"](spark, sf).collect()
    }
    assert streamed == set(kept_counts.items())


def test_timeout_sessions_event_time_timer_boundary(spark, tmp_path):
    """timeout_sessions (EventTimeTimeout): a session closed by a later
    event emits immediately; the trailing open session emits iff its timer
    ``end + gap`` is STRICTLY below the final watermark ``max(ts) - delay``
    (measured Spark 4.1 semantics, fired by the trailing no-data
    micro-batch); a timer exactly AT the watermark must not fire."""
    import datetime

    from kafka_connect_expand_json_transform_spark.streaming.stateful import (
        timeout_sessions,
    )

    def dt(ms):
        return datetime.datetime.fromtimestamp(
            ms / 1000, datetime.timezone.utc
        ).replace(tzinfo=None)

    # gap 60 s, delay 60 s, max ts 1000 s -> final watermark 940 s:
    # an open session fires iff end_ms + 60_000 < 940_000, i.e. end < 880 s
    rows = [
        ("closed_by_event", dt(100_000)),  # closed by the 200 s event
        ("closed_by_event", dt(200_000)),  # open; 260 < 940 -> timer fires
        ("boundary_lt", dt(879_999)),      # timer 939_999 < 940_000 -> fires
        ("boundary_eq", dt(880_000)),      # timer 940_000 == wm -> must NOT
        ("merge", dt(500_000)),            # same session as 500.03 s
        ("merge", dt(500_030)),            # open; 560.03 < 940 -> fires, n=2
        ("anchor", dt(1_000_000)),         # sets max ts; 1060 > 940 -> stays
    ]
    src = tmp_path / "timer_src"
    src.mkdir()
    df = spark.createDataFrame(rows, "user string, ts timestamp")
    stage = str(tmp_path / "stage")
    df.coalesce(1).write.parquet(stage)
    import glob as _glob
    import shutil as _shutil

    _shutil.copyfile(
        _glob.glob(stage + "/part-*.parquet")[0], str(src / "b0.parquet")
    )
    stream = (
        spark.readStream.schema("user string, ts timestamp")
        .parquet(str(src))
    )
    sessions = timeout_sessions(
        stream, key="user", ts_col="ts", gap_ms=60_000, watermark_delay="60 seconds"
    )
    out = run_to_table(spark, sessions, "append")
    got = {
        (r["user"], r["session_start_ms"], r["n_events"]) for r in out.collect()
    }
    assert got == {
        ("closed_by_event", 100_000, 1),
        ("closed_by_event", 200_000, 1),
        ("boundary_lt", 879_999, 1),
        ("merge", 500_000, 2),
    }


def test_timeout_sessions_in_watermark_straggler_merges(spark, tmp_path):
    """Multi-batch streams do NOT deliver per-key batches in event-time
    order: an in-watermark straggler whose timestamps predate the stored
    open session's end must merge into it WITHOUT moving the stored end
    (or its timer) backwards — a moved-back end would mis-split the next
    batch into a spurious new session (ADVICE r6)."""
    import datetime
    import glob as _glob
    import os as _os
    import shutil as _shutil

    from kafka_connect_expand_json_transform_spark.streaming.stateful import (
        timeout_sessions,
    )

    def dt(ms):
        return datetime.datetime.fromtimestamp(
            ms / 1000, datetime.timezone.utc
        ).replace(tzinfo=None)

    # gap 60 s, delay 60 s.  b0 opens a's session [100s..105s] (wm -> 45s);
    # b1 is a PURE straggler at 102s (inside the stored span, in-watermark);
    # b2's 164s is within gap of the TRUE end 105s (59s) but NOT of the
    # straggler's 102s (62s) -- the unfixed code moved end back to 102s and
    # split here.  z@4000s anchors the final watermark to 3940s so a's
    # timer (164s + 60s = 224s) fires.
    batches = [
        [("a", dt(100_000)), ("a", dt(105_000))],
        [("a", dt(102_000))],
        [("a", dt(164_000)), ("z", dt(4_000_000))],
    ]
    src = tmp_path / "straggler_src"
    src.mkdir()
    for i, rows in enumerate(batches):
        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, "user string, ts timestamp").coalesce(
            1
        ).write.parquet(stage)
        dest = str(src / f"b{i}.parquet")
        _shutil.copyfile(_glob.glob(stage + "/part-*.parquet")[0], dest)
        _os.utime(dest, (1_000_000 + i * 10, 1_000_000 + i * 10))
    stream = (
        spark.readStream.schema("user string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sessions = timeout_sessions(
        stream, key="user", ts_col="ts", gap_ms=60_000,
        watermark_delay="60 seconds",
    )
    out = run_to_table(spark, sessions, "append")
    got = {
        (r["user"], r["session_start_ms"], r["n_events"]) for r in out.collect()
    }
    # one merged session: 100s + 105s + straggler 102s + 164s extension
    assert got == {("a", 100_000, 4)}


def test_merge_sessionize_core_boundaries():
    """The sessionization core both timer-session operators share
    (_merge_sessionize): gap breaks, stored-session extension, straggler
    absorption, and the never-move-end-backwards guarantee — unit-tested
    directly so the TWS twin (env-gated e2e) rides proven semantics."""
    import numpy as np

    from kafka_connect_expand_json_transform_spark.streaming.stateful import (
        _merge_sessionize,
    )

    gap = 60_000

    def run(ts, stored):
        s, n, open_state = _merge_sessionize(
            np.asarray(ts, dtype=np.int64), gap, stored
        )
        return list(s), list(n), open_state

    # no state: two sessions split at the gap, trailing one stays open
    assert run([0, 1_000, 61_000, 62_000, 200_000], None) == (
        [0, 61_000],
        [2, 2],
        (200_000, 200_000, 1),
    )
    # boundary: a gap of EXACTLY gap_ms closes (>= semantics)
    assert run([0, 60_000], None) == ([0], [1], (60_000, 60_000, 1))
    assert run([0, 59_999], None) == ([], [], (0, 59_999, 2))
    # stored session extended by the first segment
    assert run([150_000], (100_000, 105_000, 2)) == (
        [],
        [],
        (100_000, 150_000, 3),
    )
    # stored session closed ahead of a far-away segment
    assert run([400_000], (100_000, 105_000, 2)) == (
        [100_000],
        [2],
        (400_000, 400_000, 1),
    )
    # pure straggler: absorbed, end unchanged (timer must not move back)
    assert run([102_000], (100_000, 105_000, 2)) == (
        [],
        [],
        (100_000, 105_000, 3),
    )
    # straggler BEFORE the stored start widens the session by min(start)
    assert run([95_000], (100_000, 105_000, 2)) == (
        [],
        [],
        (95_000, 105_000, 3),
    )
    # straggler + in-gap extension in one batch: no spurious split (the
    # 62s diff between 102s and 164s is bridged by the stored end 105s)
    assert run([102_000, 164_000], (100_000, 105_000, 2)) == (
        [],
        [],
        (100_000, 164_000, 4),
    )


@pytest.mark.skipif(
    not _have_protobuf(),
    reason="transformWithStateInPandas's state server needs google.protobuf, "
    "not installed in this container",
)
def test_timeout_sessions_tws_parity(spark, tmp_path):
    """timeout_sessions_tws (transformWithStateInPandas + explicit
    event-time timers) must emit exactly what the applyInPandasWithState
    twin emits on the timer boundary cases — both ride _merge_sessionize,
    so this checks the TWS timer wiring."""
    import datetime
    import glob as _glob
    import shutil as _shutil

    from kafka_connect_expand_json_transform_spark.streaming.stateful import (
        timeout_sessions,
        timeout_sessions_tws,
    )

    def dt(ms):
        return datetime.datetime.fromtimestamp(
            ms / 1000, datetime.timezone.utc
        ).replace(tzinfo=None)

    rows = [
        ("closed_by_event", dt(100_000)),
        ("closed_by_event", dt(200_000)),
        ("boundary_lt", dt(879_999)),
        ("boundary_eq", dt(880_000)),
        ("merge", dt(500_000)),
        ("merge", dt(500_030)),
        ("anchor", dt(1_000_000)),
    ]
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        outputs = []
        for i, op in enumerate((timeout_sessions, timeout_sessions_tws)):
            src = tmp_path / f"tws_src_{i}"
            src.mkdir()
            stage = str(tmp_path / f"stage_{i}")
            spark.createDataFrame(rows, "user string, ts timestamp").coalesce(
                1
            ).write.parquet(stage)
            _shutil.copyfile(
                _glob.glob(stage + "/part-*.parquet")[0],
                str(src / "b0.parquet"),
            )
            stream = spark.readStream.schema("user string, ts timestamp").parquet(
                str(src)
            )
            sessions = op(
                stream,
                key="user",
                ts_col="ts",
                gap_ms=60_000,
                watermark_delay="60 seconds",
            )
            out = run_to_table(spark, sessions, "append")
            outputs.append(
                {
                    (r["user"], r["session_start_ms"], r["n_events"])
                    for r in out.collect()
                }
            )
        assert outputs[0] == outputs[1]
        assert outputs[0] == {
            ("closed_by_event", 100_000, 1),
            ("closed_by_event", 200_000, 1),
            ("boundary_lt", 879_999, 1),
            ("merge", 500_000, 2),
        }
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


SHUFFLE = "spark.sql.shuffle.partitions"


@pytest.fixture
def session_partitions(spark):
    """Run with a session partition count that differs from the pinned 8,
    restoring the fixture session's value after."""
    prev = spark.conf.get(SHUFFLE)
    spark.conf.set(SHUFFLE, "5")
    yield "5"
    spark.conf.set(SHUFFLE, prev)


def test_run_stream_pins_state_partitions_and_restores_conf(
    spark, events_path, tmp_path, session_partitions
):
    import os

    ckpt = str(tmp_path / "ckpt")
    stream = file_stream_source(spark, events_path, EVENT_SCHEMA)
    q = run_stream(
        stream.groupBy("user")
        .count()
        .writeStream.format("memory")
        .queryName("t_" + uuid.uuid4().hex[:12])
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
    )
    assert not q.isActive and q.recentProgress
    assert spark.conf.get(SHUFFLE) == session_partitions
    with open(os.path.join(ckpt, "offsets", "0")) as fh:
        meta = json.loads(fh.read().splitlines()[1])
    assert meta["conf"][SHUFFLE] == "8"
    state = os.listdir(os.path.join(ckpt, "state", "0"))
    assert sorted(int(d) for d in state if d.isdigit()) == list(range(8))


def test_run_stream_restores_conf_when_start_raises(
    spark, events_path, session_partitions
):
    stream = file_stream_source(spark, events_path, EVENT_SCHEMA)
    with pytest.raises(Exception, match="queryName"):
        run_stream(stream.writeStream.format("memory"))  # memory needs a name
    assert spark.conf.get(SHUFFLE) == session_partitions


def test_run_stream_times_out_and_stops_the_query(
    spark, events_path, monkeypatch, session_partitions
):
    import time

    from kafka_connect_expand_json_transform_spark.streaming import sources

    monkeypatch.setattr(sources, "_DRAIN_TIMEOUT_S", 1)
    name = "t_" + uuid.uuid4().hex[:12]
    stream = file_stream_source(spark, events_path, EVENT_SCHEMA)
    with pytest.raises(TimeoutError, match=name):
        run_stream(
            stream.writeStream.queryName(name).foreachBatch(
                lambda df, batch_id: time.sleep(4)
            )
        )
    assert name not in {q.name for q in spark.streams.active}
    assert spark.conf.get(SHUFFLE) == session_partitions


def test_run_stream_surfaces_a_failed_batch(spark, events_path):
    from pyspark.errors import StreamingQueryException

    def fail(df, batch_id):
        raise ValueError("batch exploded")

    stream = file_stream_source(spark, events_path, EVENT_SCHEMA)
    with pytest.raises(StreamingQueryException, match="batch exploded"):
        run_stream(stream.writeStream.foreachBatch(fail))


def test_streams_run_only_through_run_stream():
    """Source scan: registered queries neither write the session's shuffle-
    partition count nor start and drain a stream by hand, and no test polls
    a stream; ``run_stream`` owns all of that."""
    import pathlib
    import re

    from kafka_connect_expand_json_transform_spark.plans import queries

    src = pathlib.Path(queries.__file__).read_text()
    banned = {
        "shuffle-partition conf write": (
            r"(\.set\(\s*|SET\s+)[\"']?spark\.sql\.shuffle\.partitions"
        ),
        "isDataAvailable poll": r"isDataAvailable",
        "hand-built availableNow start": r"availableNow\s*=\s*True",
        "_run_stream_to_memory": r"_run_stream_to_memory",
    }
    assert [what for what, pat in banned.items() if re.search(pat, src)] == []
    here = pathlib.Path(__file__)
    polls = [
        p.name
        for p in here.parent.glob("*.py")
        if p != here and "isDataAvailable" in p.read_text()
    ]
    assert polls == []
