"""Pure-Python Delta Lake protocol reader (sources/delta_reader.py):
snapshot + VERSION AS OF replay, partition re-injection, checkpoint
replay, column mapping 'name', history, and the protocol's fail-closed
rule — all against logs hand-written per the PUBLIC delta.io PROTOCOL.md
action spec (no delta jar exists in this container to generate them)."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import StreamingQueryException

from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
    DeltaProtocolUnsupported,
    delta_history,
    read_delta,
)
from kafka_connect_expand_json_transform_spark.streaming import run_stream


def _commit(root, version, actions):
    log = os.path.join(root, "_delta_log")
    os.makedirs(log, exist_ok=True)
    with open(os.path.join(log, f"{version:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


def _schema_string(fields, mapping=False):
    out = []
    for i, (name, typ) in enumerate(fields):
        meta = {"delta.columnMapping.physicalName": f"col-{i:04d}"} if mapping else {}
        out.append({"name": name, "type": typ, "nullable": True, "metadata": meta})
    return json.dumps({"type": "struct", "fields": out})


def _meta(fields, partition_cols=(), mapping=False):
    cfg = {"delta.columnMapping.mode": "name"} if mapping else {}
    return {
        "metaData": {
            "id": "test-table",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": _schema_string(fields, mapping),
            "partitionColumns": list(partition_cols),
            "configuration": cfg,
        }
    }


def _write_part(root, rel, rows, schema):
    p = os.path.join(root, rel)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    pq.write_table(pa.table(rows, schema=schema), p)


def _add(rel, pv=None):
    return {"add": {"path": rel, "partitionValues": pv or {}, "size": 1,
                    "modificationTime": 0, "dataChange": True}}


PLAIN = pa.schema([("id", pa.int64()), ("v", pa.string())])


def _plain_table(tmp_path):
    root = str(tmp_path / "t")
    _write_part(root, "part-a.parquet", {"id": [1, 2], "v": ["a", "b"]}, PLAIN)
    _write_part(root, "part-b.parquet", {"id": [3], "v": ["c"]}, PLAIN)
    _write_part(root, "part-c.parquet", {"id": [4], "v": ["d"]}, PLAIN)
    _commit(root, 0, [
        {"commitInfo": {"timestamp": 1000, "operation": "WRITE"}},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        _meta([("id", "long"), ("v", "string")]),
        _add("part-a.parquet"), _add("part-b.parquet"),
    ])
    _commit(root, 1, [
        {"commitInfo": {"timestamp": 2000, "operation": "MERGE"}},
        _add("part-c.parquet"),
        {"remove": {"path": "part-b.parquet", "deletionTimestamp": 2000,
                    "dataChange": True}},
    ])
    return root


def test_snapshot_and_time_travel(spark, tmp_path):
    root = _plain_table(tmp_path)
    now = read_delta(spark, root)
    assert sorted(r.id for r in now.collect()) == [1, 2, 4]
    v0 = read_delta(spark, root, version=0)
    assert sorted(r.id for r in v0.collect()) == [1, 2, 3]
    with pytest.raises(ValueError, match="not in Delta log"):
        read_delta(spark, root, version=9)


def test_history(tmp_path, spark):
    root = _plain_table(tmp_path)
    h = delta_history(root)
    assert [(x["version"], x["operation"]) for x in h] == [(1, "MERGE"), (0, "WRITE")]


def test_partitioned_reinjection(spark, tmp_path):
    root = str(tmp_path / "p")
    data = pa.schema([("id", pa.int64())])
    _write_part(root, "day=2026-01-01/f1.parquet", {"id": [1, 2]}, data)
    _write_part(root, "day=2026-01-02/f2.parquet", {"id": [3]}, data)
    _commit(root, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        _meta([("id", "long"), ("day", "date")], partition_cols=["day"]),
        _add("day=2026-01-01/f1.parquet", {"day": "2026-01-01"}),
        _add("day=2026-01-02/f2.parquet", {"day": "2026-01-02"}),
    ])
    df = read_delta(spark, root)
    assert dict(df.dtypes)["day"] == "date"
    got = {(r.id, str(r.day)) for r in df.collect()}
    assert got == {(1, "2026-01-01"), (2, "2026-01-01"), (3, "2026-01-02")}


def test_checkpoint_replay(spark, tmp_path):
    root = _plain_table(tmp_path)
    log = os.path.join(root, "_delta_log")
    # single-part checkpoint at v1 holding the replayed state
    add_t = pa.struct([("path", pa.string()),
                       ("partitionValues", pa.map_(pa.string(), pa.string())),
                       ("size", pa.int64()), ("modificationTime", pa.int64()),
                       ("dataChange", pa.bool_())])
    meta_t = pa.struct([("id", pa.string()), ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string()))])
    proto_t = pa.struct([("minReaderVersion", pa.int32()),
                         ("minWriterVersion", pa.int32())])
    meta_v = {"id": "test-table",
              "schemaString": _schema_string([("id", "long"), ("v", "string")]),
              "partitionColumns": []}
    rows = [
        {"add": {"path": "part-a.parquet", "partitionValues": [],
                 "size": 1, "modificationTime": 0, "dataChange": True},
         "metaData": None, "protocol": None},
        {"add": {"path": "part-c.parquet", "partitionValues": [],
                 "size": 1, "modificationTime": 0, "dataChange": True},
         "metaData": None, "protocol": None},
        {"add": None, "metaData": meta_v, "protocol": None},
        {"add": None, "metaData": None,
         "protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
    ]
    table = pa.table(
        {"add": pa.array([r["add"] for r in rows], add_t),
         "metaData": pa.array([r["metaData"] for r in rows], meta_t),
         "protocol": pa.array([r["protocol"] for r in rows], proto_t)}
    )
    pq.write_table(table, os.path.join(log, f"{1:020d}.checkpoint.parquet"))
    # drop the pre-checkpoint commits: replay must not need them
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))
    _write_part(root, "part-d.parquet", {"id": [9], "v": ["z"]}, PLAIN)
    _commit(root, 2, [_add("part-d.parquet")])
    got = sorted(r.id for r in read_delta(spark, root).collect())
    assert got == [1, 2, 4, 9]


def test_column_mapping_name_mode(spark, tmp_path):
    root = str(tmp_path / "cm")
    phys = pa.schema([("col-0000", pa.int64()), ("col-0001", pa.string())])
    _write_part(root, "f.parquet", {"col-0000": [7], "col-0001": ["x"]}, phys)
    _commit(root, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        _meta([("id", "long"), ("v", "string")], mapping=True),
        _add("f.parquet"),
    ])
    df = read_delta(spark, root)
    assert df.columns == ["id", "v"]
    assert df.first().id == 7


def test_unsupported_features_fail_closed(spark, tmp_path):
    root = str(tmp_path / "tw")
    _write_part(root, "f.parquet", {"id": [1], "v": ["a"]}, PLAIN)
    _commit(root, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["typeWidening"]}},
        _meta([("id", "long"), ("v", "string")]),
        _add("f.parquet"),
    ])
    with pytest.raises(DeltaProtocolUnsupported, match="typeWidening"):
        read_delta(spark, root)
    # deletionVectors is a SUPPORTED reader feature since round 8 (and
    # v2Checkpoint since round 9): a DV-feature table with no actual DVs
    # reads normally
    root2 = str(tmp_path / "dvok")
    _write_part(root2, "f.parquet", {"id": [1], "v": ["a"]}, PLAIN)
    _commit(root2, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"]}},
        _meta([("id", "long"), ("v", "string")]),
        _add("f.parquet"),
    ])
    assert read_delta(spark, root2).count() == 1


def test_timestamp_as_of(spark, tmp_path):
    root = _plain_table(tmp_path)  # commits at ts 1000 and 2000
    old = read_delta(spark, root, timestamp_ms=1500)
    assert sorted(r.id for r in old.collect()) == [1, 2, 3]
    now = read_delta(spark, root, timestamp_ms=99999)
    assert sorted(r.id for r in now.collect()) == [1, 2, 4]
    with pytest.raises(ValueError, match="predates"):
        read_delta(spark, root, timestamp_ms=5)
    with pytest.raises(ValueError, match="not both"):
        read_delta(spark, root, version=0, timestamp_ms=1500)


def test_stats_file_skipping(spark, tmp_path):
    root = str(tmp_path / "sk")
    _write_part(root, "lo.parquet", {"id": [1, 2], "v": ["a", "b"]}, PLAIN)
    _write_part(root, "hi.parquet", {"id": [100, 200], "v": ["c", "d"]}, PLAIN)
    _write_part(root, "nostats.parquet", {"id": [300], "v": ["e"]}, PLAIN)
    lo_add = _add("lo.parquet")
    lo_add["add"]["stats"] = json.dumps(
        {"numRecords": 2, "minValues": {"id": 1}, "maxValues": {"id": 2}})
    hi_add = _add("hi.parquet")
    hi_add["add"]["stats"] = json.dumps(
        {"numRecords": 2, "minValues": {"id": 100}, "maxValues": {"id": 200}})
    _commit(root, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        _meta([("id", "long"), ("v", "string")]),
        lo_add, hi_add, _add("nostats.parquet"),
    ])
    # pruning keeps hi + the stats-less file (sound), drops lo
    df = read_delta(spark, root, where=[("id", ">=", 100)])
    assert sorted(r.id for r in df.collect()) == [100, 200, 300]
    # partition-value pruning path
    root2 = str(tmp_path / "skp")
    data = pa.schema([("id", pa.int64())])
    _write_part(root2, "day=2026-01-01/f1.parquet", {"id": [1]}, data)
    _write_part(root2, "day=2026-01-02/f2.parquet", {"id": [2]}, data)
    _commit(root2, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        _meta([("id", "long"), ("day", "date")], partition_cols=["day"]),
        _add("day=2026-01-01/f1.parquet", {"day": "2026-01-01"}),
        _add("day=2026-01-02/f2.parquet", {"day": "2026-01-02"}),
    ])
    df2 = read_delta(spark, root2, where=[("day", "=", "2026-01-02")])
    assert [r.id for r in df2.collect()] == [2]


def test_deltastream_appends_and_remove_contract(spark, tmp_path):
    from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
        register_delta_stream_source,
    )

    root = str(tmp_path / "ds")
    _write_part(root, "a.parquet", {"id": [1, 2], "v": ["a", "b"]}, PLAIN)
    _write_part(root, "b.parquet", {"id": [3], "v": ["c"]}, PLAIN)
    _commit(root, 0, [
        {"commitInfo": {"timestamp": 1000, "operation": "WRITE"}},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        _meta([("id", "long"), ("v", "string")]),
        _add("a.parquet"),
    ])
    _commit(root, 1, [
        {"commitInfo": {"timestamp": 2000, "operation": "WRITE"}},
        _add("b.parquet"),
    ])
    register_delta_stream_source(spark)
    name = "sg_deltastream_t"
    run_stream(
        spark.readStream.format("deltastream").option("path", root).load()
        .writeStream.format("memory").queryName(name).outputMode("append")
    )
    assert sorted(r.id for r in spark.table(name).collect()) == [1, 2, 3]

    # a rewrite version aborts by default, re-streams with ignoreChanges
    _write_part(root, "a2.parquet", {"id": [1, 2], "v": ["A", "B"]}, PLAIN)
    _commit(root, 2, [
        _add("a2.parquet"),
        {"remove": {"path": "a.parquet", "deletionTimestamp": 3000,
                    "dataChange": True}},
    ])
    with pytest.raises(StreamingQueryException, match="remove actions"):
        run_stream(
            spark.readStream.format("deltastream").option("path", root).load()
            .writeStream.format("memory").queryName(name + "2")
            .outputMode("append")
        )
    run_stream(
        spark.readStream.format("deltastream").option("path", root)
        .option("ignoreChanges", "true").load()
        .writeStream.format("memory").queryName(name + "3")
        .outputMode("append")
    )
    assert sorted(r.v for r in spark.table(name + "3").collect()) == [
        "A", "B", "a", "b", "c"
    ]


def test_change_data_feed_read(spark, tmp_path):
    from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
        read_delta_changes,
    )

    root = str(tmp_path / "cdf")
    _write_part(root, "a.parquet", {"id": [1, 2], "v": ["a", "b"]}, PLAIN)
    _commit(root, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        _meta([("id", "long"), ("v", "string")]),
        _add("a.parquet"),
    ])
    # v1: an update captured as cdc pre/post images + the rewrite actions
    cdc_schema = pa.schema([("id", pa.int64()), ("v", pa.string()),
                            ("_change_type", pa.string())])
    _write_part(root, "_change_data/c1.parquet",
                {"id": [2, 2], "v": ["b", "B"],
                 "_change_type": ["update_preimage", "update_postimage"]},
                cdc_schema)
    _write_part(root, "a2.parquet", {"id": [1, 2], "v": ["a", "B"]}, PLAIN)
    _commit(root, 1, [
        {"cdc": {"path": "_change_data/c1.parquet", "partitionValues": {},
                 "size": 1, "dataChange": False}},
        _add("a2.parquet"),
        {"remove": {"path": "a.parquet", "deletionTimestamp": 1,
                    "dataChange": True}},
    ])
    ch = read_delta_changes(spark, root, 0)
    got = {(r.id, r.v, r["_change_type"], r["_commit_version"])
           for r in ch.collect()}
    assert got == {
        (1, "a", "insert", 0), (2, "b", "insert", 0),
        (2, "b", "update_preimage", 1), (2, "B", "update_postimage", 1),
    }
    only_v1 = read_delta_changes(spark, root, 1)
    assert only_v1.count() == 2

    # a rewrite version without cdc actions is unrecoverable -> refuse
    root2 = str(tmp_path / "cdf2")
    _write_part(root2, "a.parquet", {"id": [1], "v": ["a"]}, PLAIN)
    _write_part(root2, "b.parquet", {"id": [9], "v": ["z"]}, PLAIN)
    _commit(root2, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        _meta([("id", "long"), ("v", "string")]),
        _add("a.parquet"),
    ])
    _commit(root2, 1, [
        _add("b.parquet"),
        {"remove": {"path": "a.parquet", "deletionTimestamp": 1,
                    "dataChange": True}},
    ])
    from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
        DeltaProtocolUnsupported,
    )
    with pytest.raises(DeltaProtocolUnsupported, match="unrecoverable"):
        read_delta_changes(spark, root2, 0).collect()


PHYS = pa.schema([("col-0000", pa.int64()), ("col-0001", pa.string())])


def test_change_data_feed_column_mapped(spark, tmp_path):
    # r9: CDF over a columnMapping='name' table — change files and adds
    # carry PHYSICAL names (and physical-keyed partitionValues); the read
    # renames to logical at plan time, the snapshot read's shape
    from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
        read_delta_changes,
    )

    root = str(tmp_path / "cdfm")
    _write_part(root, "a.parquet",
                {"col-0000": [1, 2], "col-0001": ["a", "b"]}, PHYS)
    _commit(root, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        _meta([("id", "long"), ("v", "string")], mapping=True),
        _add("a.parquet"),
    ])
    cdc_schema = pa.schema([("col-0000", pa.int64()),
                            ("col-0001", pa.string()),
                            ("_change_type", pa.string())])
    _write_part(root, "_change_data/c1.parquet",
                {"col-0000": [2, 2], "col-0001": ["b", "B"],
                 "_change_type": ["update_preimage", "update_postimage"]},
                cdc_schema)
    _write_part(root, "a2.parquet",
                {"col-0000": [1, 2], "col-0001": ["a", "B"]}, PHYS)
    _commit(root, 1, [
        {"cdc": {"path": "_change_data/c1.parquet", "partitionValues": {},
                 "size": 1, "dataChange": False}},
        _add("a2.parquet"),
        {"remove": {"path": "a.parquet", "deletionTimestamp": 1,
                    "dataChange": True}},
    ])
    ch = read_delta_changes(spark, root, 0)
    assert set(ch.columns) == {"id", "v", "_change_type", "_commit_version"}
    got = {(r.id, r.v, r["_change_type"], r["_commit_version"])
           for r in ch.collect()}
    assert got == {
        (1, "a", "insert", 0), (2, "b", "insert", 0),
        (2, "b", "update_preimage", 1), (2, "B", "update_postimage", 1),
    }


def test_deltastream_column_mapped(spark, tmp_path):
    # r9: deltastream over a columnMapping='name' table — each Arrow
    # batch renames physical -> logical columns
    from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
        register_delta_stream_source,
    )

    root = str(tmp_path / "dsm")
    _write_part(root, "a.parquet",
                {"col-0000": [1, 2], "col-0001": ["a", "b"]}, PHYS)
    _write_part(root, "b.parquet", {"col-0000": [3], "col-0001": ["c"]}, PHYS)
    _commit(root, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        _meta([("id", "long"), ("v", "string")], mapping=True),
        _add("a.parquet"),
    ])
    _commit(root, 1, [_add("b.parquet")])
    register_delta_stream_source(spark)
    name = "sg_deltastream_mapped"
    run_stream(
        spark.readStream.format("deltastream").option("path", root).load()
        .writeStream.format("memory").queryName(name).outputMode("append")
    )
    got = sorted((r.id, r.v) for r in spark.table(name).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_deltastream_skip_change_commits(spark, tmp_path):
    # r9: Delta's skipChangeCommits option — a data-changing commit
    # (remove rewrite or DV-bearing add) streams NO rows at all; without
    # it a DV commit fails closed (re-streaming the add would resurrect
    # the bitmap-deleted rows)
    from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
        register_delta_stream_source,
    )

    root = str(tmp_path / "dscc")
    _write_part(root, "a.parquet", {"id": [1, 2], "v": ["a", "b"]}, PLAIN)
    _commit(root, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        _meta([("id", "long"), ("v", "string")]),
        _add("a.parquet"),
    ])
    # v1: a DV commit (MoR delete of row 0 of a.parquet)
    data = _dv_array_bytes([0])
    dv_add = _add("a.parquet")
    dv_add["add"]["deletionVector"] = {
        "storageType": "i", "pathOrInlineDv": _z85_encode(data),
        "sizeInBytes": len(data), "cardinality": 1}
    _commit(root, 1, [dv_add])
    # v2: a plain append
    _write_part(root, "b.parquet", {"id": [3], "v": ["c"]}, PLAIN)
    _commit(root, 2, [_add("b.parquet")])
    register_delta_stream_source(spark)
    # default: the DV commit fails closed
    with pytest.raises(StreamingQueryException, match="deletion-vector"):
        run_stream(
            spark.readStream.format("deltastream").option("path", root).load()
            .writeStream.format("memory").queryName("sg_dscc_fail")
            .outputMode("append")
        )
    # skipChangeCommits: v1 contributes nothing; v0 + v2 stream
    run_stream(
        spark.readStream.format("deltastream").option("path", root)
        .option("skipChangeCommits", "true").load()
        .writeStream.format("memory").queryName("sg_dscc_skip")
        .outputMode("append")
    )
    got = sorted(r.id for r in spark.table("sg_dscc_skip").collect())
    assert got == [1, 2, 3]


def test_deltastream_starting_version_and_gap_fail_closed(spark, tmp_path):
    from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
        register_delta_stream_source,
    )

    root = str(tmp_path / "dsv")
    _write_part(root, "a.parquet", {"id": [1], "v": ["a"]}, PLAIN)
    _write_part(root, "b.parquet", {"id": [2], "v": ["b"]}, PLAIN)
    _commit(root, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        _meta([("id", "long"), ("v", "string")]),
        _add("a.parquet"),
    ])
    _commit(root, 1, [_add("b.parquet")])
    register_delta_stream_source(spark)
    # startingVersion=1 skips version 0 by POLICY (not by gap)
    run_stream(
        spark.readStream.format("deltastream").option("path", root)
        .option("startingVersion", "1").load()
        .writeStream.format("memory").queryName("sg_dsv1")
        .outputMode("append")
    )
    assert [r.id for r in spark.table("sg_dsv1").collect()] == [2]
    # a vacuumed gap fails CLOSED instead of losing rows — surfaced at
    # schema resolution (the replay sees the hole before any batch runs)
    os.remove(os.path.join(root, "_delta_log", f"{0:020d}.json"))
    with pytest.raises(Exception, match="missing commit"):
        spark.readStream.format("deltastream").option("path", root).load()


def test_partition_range_pruning_numeric(spark, tmp_path):
    # ADVICE r7 #1: partitionValues are strings on disk; range predicates
    # must compare in the column's LOGICAL type — lexicographically,
    # "10" > "9" is false and the n=10 file was wrongly pruned.
    root = str(tmp_path / "numpart")
    data = pa.schema([("id", pa.int64())])
    _write_part(root, "n=9/f1.parquet", {"id": [1]}, data)
    _write_part(root, "n=10/f2.parquet", {"id": [2]}, data)
    _commit(root, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        _meta([("id", "long"), ("n", "long")], partition_cols=["n"]),
        _add("n=9/f1.parquet", {"n": "9"}),
        _add("n=10/f2.parquet", {"n": "10"}),
    ])
    assert [r.id for r in read_delta(spark, root, where=[("n", ">", 9)]).collect()] == [2]
    assert [r.id for r in read_delta(spark, root, where=[("n", "<=", 9)]).collect()] == [1]
    # a string-typed predicate value is coerced to the column type too
    assert [r.id for r in read_delta(spark, root, where=[("n", ">", "9")]).collect()] == [2]
    # equality still prunes
    assert [r.id for r in read_delta(spark, root, where=[("n", "=", 10)]).collect()] == [2]


def test_typed_partition_value_parsing():
    import datetime
    import decimal

    from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
        _typed_partition_value,
    )
    from pyspark.sql import types as T

    assert _typed_partition_value("10", T.LongType()) == 10
    assert _typed_partition_value("1.5", T.DoubleType()) == 1.5
    assert _typed_partition_value("1.50", T.DecimalType(5, 2)) == decimal.Decimal("1.50")
    assert _typed_partition_value("true", T.BooleanType()) is True
    assert _typed_partition_value("2026-01-02", T.DateType()) == datetime.date(2026, 1, 2)
    assert _typed_partition_value("x", T.StringType()) == "x"
    assert _typed_partition_value(None, T.LongType()) is None


def test_deltastream_skips_datachange_false_compaction(spark, tmp_path):
    # ADVICE r7 #2: an OPTIMIZE/compaction commit (dataChange=false) must
    # neither abort the stream nor re-stream its rewritten adds.
    from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
        register_delta_stream_source,
    )

    root = str(tmp_path / "dcf")
    _write_part(root, "a.parquet", {"id": [1, 2], "v": ["a", "b"]}, PLAIN)
    _write_part(root, "compacted.parquet", {"id": [1, 2], "v": ["a", "b"]}, PLAIN)
    _commit(root, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        _meta([("id", "long"), ("v", "string")]),
        _add("a.parquet"),
    ])
    _commit(root, 1, [
        {"commitInfo": {"timestamp": 2000, "operation": "OPTIMIZE"}},
        {"add": {"path": "compacted.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": False}},
        {"remove": {"path": "a.parquet", "deletionTimestamp": 2000,
                    "dataChange": False}},
    ])
    register_delta_stream_source(spark)
    run_stream(
        spark.readStream.format("deltastream").option("path", root).load()
        .writeStream.format("memory").queryName("sg_ds_dcf")
        .outputMode("append")
    )
    # only commit 0's rows; the compacted file is NOT re-streamed
    assert sorted(r.id for r in spark.table("sg_ds_dcf").collect()) == [1, 2]


# --- deletion vectors ---------------------------------------------------------

import struct as _struct

from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
    _Z85_ALPHABET,
    _roaring_array_positions,
    _z85_decode,
)


def _z85_encode(b: bytes) -> str:
    b = b + b"\x00" * (-len(b) % 4)  # zero-pad to the 4-byte block size
    out = []
    for i in range(0, len(b), 4):
        v = int.from_bytes(b[i:i + 4], "big")
        chunk = []
        for _ in range(5):
            chunk.append(_Z85_ALPHABET[v % 85])
            v //= 85
        out.extend(reversed(chunk))
    return "".join(out)


def _roar32_array(values):
    """One 32-bit roaring bitmap, array containers, cookie 12346."""
    by_key = {}
    for v in sorted(values):
        by_key.setdefault(v >> 16, []).append(v & 0xFFFF)
    size = len(by_key)
    out = bytearray(_struct.pack("<II", 12346, size))
    for k in sorted(by_key):
        out += _struct.pack("<HH", k, len(by_key[k]) - 1)
    off = 8 + 4 * size + 4 * size
    for k in sorted(by_key):
        out += _struct.pack("<I", off)
        off += 2 * len(by_key[k])
    for k in sorted(by_key):
        out += _struct.pack(f"<{len(by_key[k])}H", *sorted(by_key[k]))
    return bytes(out)


def _dv_array_bytes(positions, roar32=_roar32_array):
    """Delta RoaringBitmapArray portable bytes for 64-bit positions."""
    by_high = {}
    for p in sorted(positions):
        by_high.setdefault(p >> 32, []).append(p & 0xFFFFFFFF)
    out = bytearray(_struct.pack("<iq", 1681511377, len(by_high)))
    for h in sorted(by_high):
        out += _struct.pack("<I", h)
        out += roar32(by_high[h])
    return bytes(out)


def test_roaring_decode_array_and_multi_key():
    vals = [0, 5, 70000, (3 << 32) | 7]
    assert sorted(_roaring_array_positions(_dv_array_bytes(vals))) == sorted(vals)


def test_roaring_decode_bitset_container():
    vals = list(range(5000))  # card > 4096 -> bitset container
    words = [0] * 1024
    for v in vals:
        words[v >> 6] |= 1 << (v & 63)
    bm = (_struct.pack("<II", 12346, 1) + _struct.pack("<HH", 0, 4999)
          + _struct.pack("<I", 16) + _struct.pack("<1024Q", *words))
    data = _struct.pack("<iqI", 1681511377, 1, 0) + bm
    assert _roaring_array_positions(data) == vals


def test_roaring_decode_run_container():
    # cookie 12347, one run container covering 10..20
    bm = (_struct.pack("<I", 12347) + bytes([0x01])
          + _struct.pack("<HH", 0, 10)       # key 0, card-1 = 10
          + _struct.pack("<H", 1)            # 1 run
          + _struct.pack("<HH", 10, 10))     # start 10, length-1 = 10
    data = _struct.pack("<iqI", 1681511377, 1, 0) + bm
    assert _roaring_array_positions(data) == list(range(10, 21))


def test_z85_roundtrip():
    raw = bytes(range(16))
    assert _z85_decode(_z85_encode(raw)) == raw
    with pytest.raises(ValueError, match="multiple of 5"):
        _z85_decode("abc")


def _dv_table(root, dv_descriptor):
    """Delta table with one 5-row file whose rows 1 and 3 are DV-deleted."""
    _write_part(root, "a.parquet",
                {"id": [10, 11, 12, 13, 14], "v": list("abcde")}, PLAIN)
    add = _add("a.parquet")
    add["add"]["deletionVector"] = dv_descriptor
    _commit(root, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        _meta([("id", "long"), ("v", "string")]),
        add,
    ])


def test_read_delta_inline_deletion_vector(spark, tmp_path):
    root = str(tmp_path / "dvi")
    data = _dv_array_bytes([1, 3])
    _dv_table(root, {"storageType": "i", "pathOrInlineDv": _z85_encode(data),
                     "sizeInBytes": len(data), "cardinality": 2})
    got = sorted((r.id, r.v) for r in read_delta(spark, root).collect())
    assert got == [(10, "a"), (12, "c"), (14, "e")]


def test_read_delta_uuid_file_deletion_vector(spark, tmp_path):
    import uuid as _uuid
    import zlib

    root = str(tmp_path / "dvu")
    data = _dv_array_bytes([1, 3])
    u = _uuid.UUID(int=0x1234567890ABCDEF1234567890ABCDEF)
    framed = (b"\x01" + len(data).to_bytes(4, "big") + data
              + (zlib.crc32(data) & 0xFFFFFFFF).to_bytes(4, "big"))
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, f"deletion_vector_{u}.bin"), "wb") as fh:
        fh.write(framed)
    _dv_table(root, {"storageType": "u",
                     "pathOrInlineDv": _z85_encode(u.bytes),
                     "offset": 1, "sizeInBytes": len(data), "cardinality": 2})
    got = sorted(r.id for r in read_delta(spark, root).collect())
    assert got == [10, 12, 14]
    # corrupt the checksum -> fail closed
    framed_bad = framed[:-4] + b"\x00\x00\x00\x00"
    with open(os.path.join(root, f"deletion_vector_{u}.bin"), "wb") as fh:
        fh.write(framed_bad)
    with pytest.raises(ValueError, match="checksum"):
        read_delta(spark, root).collect()


def test_dv_guards_on_stream_cdf_and_dml(spark, tmp_path):
    from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
        read_delta_changes,
        register_delta_stream_source,
    )
    from kafka_connect_expand_json_transform_spark.sources.delta_writer import (
        delta_delete_where,
    )

    root = str(tmp_path / "dvg")
    data = _dv_array_bytes([1])
    _dv_table(root, {"storageType": "i", "pathOrInlineDv": _z85_encode(data),
                     "sizeInBytes": len(data), "cardinality": 1})
    # CDF: a DV add without cdc files is unrecoverable -> refused
    with pytest.raises(DeltaProtocolUnsupported, match="cdc"):
        read_delta_changes(spark, root, 0)
    # DML on a DV table works: deleted rows are neither counted as hits
    # nor resurrected by the rewrite (which collapses the DV)
    version, n = delta_delete_where(spark, root, "id >= 13")
    assert (version, n) == (1, 2)  # 13 and 14 (11 was already DV-deleted)
    assert sorted(r.id for r in read_delta(spark, root).collect()) == [10, 12]
    # stream -> fails closed on the DV add
    register_delta_stream_source(spark)
    with pytest.raises(StreamingQueryException, match="deletion"):
        run_stream(
            spark.readStream.format("deltastream").option("path", root).load()
            .writeStream.format("memory").queryName("sg_dv_stream")
            .outputMode("append")
        )


def test_module_dv_encoder_roundtrip_and_cross_check():
    from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
        _roaring_array_bytes,
    )

    # module encode -> module decode, incl. the bitset threshold crossing
    for vals in ([1, 3], list(range(5000)), [0, 70000, (2 << 32) | 9],
                 list(range(4096)), list(range(4097))):
        assert _roaring_array_positions(_roaring_array_bytes(vals)) == sorted(
            set(vals)
        )
    # cross-check vs the test-local independent encoder (array containers)
    assert _roaring_array_bytes([1, 3, 70000]) == _dv_array_bytes([1, 3, 70000])


def test_checkpoint_preserves_deletion_vectors(spark, tmp_path):
    # r9: DV descriptors ride checkpoint adds verbatim (PROTOCOL.md — the
    # descriptor is part of the add's state); long-lived MoR tables need
    # checkpoints most, so the old refusal is gone
    from kafka_connect_expand_json_transform_spark.sources.delta_writer import (
        delta_checkpoint,
    )

    root = str(tmp_path / "dvck")
    data = _dv_array_bytes([1, 3])
    _dv_table(root, {"storageType": "i", "pathOrInlineDv": _z85_encode(data),
                     "sizeInBytes": len(data), "cardinality": 2})
    delta_checkpoint(root)
    # replay must go THROUGH the checkpoint: drop the only commit
    os.remove(os.path.join(root, "_delta_log", f"{0:020d}.json"))
    got = sorted(r.id for r in read_delta(spark, root).collect())
    assert got == [10, 12, 14]


def test_read_delta_pathtype_dv_via_write_dv_file(spark, tmp_path):
    from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
        write_dv_file,
    )

    root = str(tmp_path / "dvp")
    os.makedirs(root, exist_ok=True)
    desc = write_dv_file(root, [0, 4])
    _dv_table(root, desc)
    assert sorted(r.id for r in read_delta(spark, root).collect()) == [11, 12, 13]


def test_multipart_checkpoint_replay(spark, tmp_path):
    # V.checkpoint.P.N.parquet: all parts together form the checkpoint;
    # an incomplete part set is refused (silently dropping a part would
    # lose state).
    root = _plain_table(tmp_path)
    log = os.path.join(root, "_delta_log")
    add_t = pa.struct([("path", pa.string()),
                       ("partitionValues", pa.map_(pa.string(), pa.string())),
                       ("size", pa.int64()), ("modificationTime", pa.int64()),
                       ("dataChange", pa.bool_())])
    meta_t = pa.struct([("id", pa.string()), ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string()))])
    proto_t = pa.struct([("minReaderVersion", pa.int32()),
                         ("minWriterVersion", pa.int32())])
    meta_v = {"id": "test-table",
              "schemaString": _schema_string([("id", "long"), ("v", "string")]),
              "partitionColumns": []}

    def part_table(rows):
        return pa.table(
            {"add": pa.array([r.get("add") for r in rows], add_t),
             "metaData": pa.array([r.get("metaData") for r in rows], meta_t),
             "protocol": pa.array([r.get("protocol") for r in rows], proto_t)}
        )

    def add_row(path):
        return {"add": {"path": path, "partitionValues": [], "size": 1,
                        "modificationTime": 0, "dataChange": True}}

    # part 1: one add + metaData; part 2: the other add + protocol
    pq.write_table(part_table([add_row("part-a.parquet"),
                               {"metaData": meta_v}]),
                   os.path.join(log, f"{1:020d}.checkpoint."
                                     f"{1:010d}.{2:010d}.parquet"))
    pq.write_table(part_table([add_row("part-c.parquet"),
                               {"protocol": {"minReaderVersion": 1,
                                             "minWriterVersion": 2}}]),
                   os.path.join(log, f"{1:020d}.checkpoint."
                                     f"{2:010d}.{2:010d}.parquet"))
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))
    _write_part(root, "part-d.parquet", {"id": [9], "v": ["z"]}, PLAIN)
    _commit(root, 2, [_add("part-d.parquet")])
    assert sorted(r.id for r in read_delta(spark, root).collect()) == [1, 2, 4, 9]

    # drop part 2 -> incomplete set is IGNORED per PROTOCOL.md (writers
    # can crash mid-checkpoint); with commits 0-1 also gone, replay
    # genuinely needs it and fails loudly on the missing commit chain
    os.remove(os.path.join(log, f"{1:020d}.checkpoint."
                                f"{2:010d}.{2:010d}.parquet"))
    with pytest.raises(ValueError, match="missing commit"):
        read_delta(spark, root)


def _v2_checkpoint(root, version, uuid, *, json_manifest=False,
                   drop_sidecar=False):
    """Hand-write a V2 checkpoint (manifest + sidecar) for the state at
    `version` of _plain_table: live files part-a + part-c."""
    log = os.path.join(root, "_delta_log")
    add_t = pa.struct([("path", pa.string()),
                       ("partitionValues", pa.map_(pa.string(), pa.string())),
                       ("size", pa.int64()), ("modificationTime", pa.int64()),
                       ("dataChange", pa.bool_())])
    sidecar_dir = os.path.join(log, "_sidecars")
    os.makedirs(sidecar_dir, exist_ok=True)
    sc_name = f"{uuid}-001.parquet"
    pq.write_table(
        pa.table({"add": pa.array([
            {"path": "part-a.parquet", "partitionValues": [], "size": 1,
             "modificationTime": 0, "dataChange": False},
            {"path": "part-c.parquet", "partitionValues": [], "size": 1,
             "modificationTime": 0, "dataChange": False},
        ], add_t)}),
        os.path.join(sidecar_dir, sc_name),
    )
    if drop_sidecar:
        os.remove(os.path.join(sidecar_dir, sc_name))
    meta_v = {"id": "test-table",
              "schemaString": _schema_string([("id", "long"),
                                              ("v", "string")]),
              "partitionColumns": []}
    proto_v = {"minReaderVersion": 3, "minWriterVersion": 7,
               "readerFeatures": ["v2Checkpoint"],
               "writerFeatures": ["v2Checkpoint"]}
    if json_manifest:
        p = os.path.join(log, f"{version:020d}.checkpoint.{uuid}.json")
        with open(p, "w") as fh:
            for a in [{"checkpointMetadata": {"version": version}},
                      {"metaData": meta_v}, {"protocol": proto_v},
                      {"sidecar": {"path": sc_name, "sizeInBytes": 1,
                                   "modificationTime": 0}}]:
                fh.write(json.dumps(a) + "\n")
        return p
    meta_t = pa.struct([("id", pa.string()), ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string()))])
    proto_t = pa.struct([("minReaderVersion", pa.int32()),
                         ("minWriterVersion", pa.int32()),
                         ("readerFeatures", pa.list_(pa.string())),
                         ("writerFeatures", pa.list_(pa.string()))])
    sidecar_t = pa.struct([("path", pa.string()),
                           ("sizeInBytes", pa.int64()),
                           ("modificationTime", pa.int64())])
    ckptmeta_t = pa.struct([("version", pa.int64())])
    rows = [
        {"checkpointMetadata": {"version": version}},
        {"metaData": meta_v},
        {"protocol": proto_v},
        {"sidecar": {"path": sc_name, "sizeInBytes": 1,
                     "modificationTime": 0}},
    ]
    p = os.path.join(log, f"{version:020d}.checkpoint.{uuid}.parquet")
    pq.write_table(pa.table({
        "checkpointMetadata": pa.array(
            [r.get("checkpointMetadata") for r in rows], ckptmeta_t),
        "metaData": pa.array([r.get("metaData") for r in rows], meta_t),
        "protocol": pa.array([r.get("protocol") for r in rows], proto_t),
        "sidecar": pa.array([r.get("sidecar") for r in rows], sidecar_t),
    }), p)
    return p


def test_v2_checkpoint_parquet_manifest_replay(spark, tmp_path):
    # V2 checkpoints (PROTOCOL.md): V.checkpoint.<uuid>.parquet manifest
    # holds protocol/metaData + sidecar actions; file state lives in
    # _delta_log/_sidecars/*.parquet.  Replay must go THROUGH the
    # manifest once pre-checkpoint commits are cleaned up.
    root = _plain_table(tmp_path)
    log = os.path.join(root, "_delta_log")
    _v2_checkpoint(root, 1, "0a1b2c3d-0000-4000-8000-000000000001")
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))
    _write_part(root, "part-d.parquet", {"id": [9], "v": ["z"]}, PLAIN)
    _commit(root, 2, [_add("part-d.parquet")])
    assert sorted(r.id for r in read_delta(spark, root).collect()) == [
        1, 2, 4, 9]
    # time travel ACROSS the checkpoint (to its own version)
    assert sorted(r.id for r in read_delta(spark, root,
                                           version=1).collect()) == [1, 2, 4]


def test_v2_checkpoint_json_manifest_and_missing_sidecar(spark, tmp_path):
    root = _plain_table(tmp_path)
    log = os.path.join(root, "_delta_log")
    _v2_checkpoint(root, 1, "0a1b2c3d-0000-4000-8000-000000000002",
                   json_manifest=True)
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))
    assert sorted(r.id for r in read_delta(spark, root).collect()) == [1, 2, 4]
    # a manifest whose sidecar is gone must fail loudly, not drop state
    for n in os.listdir(os.path.join(log, "_sidecars")):
        os.remove(os.path.join(log, "_sidecars", n))
    with pytest.raises(DeltaProtocolUnsupported, match="sidecar"):
        read_delta(spark, root).collect()


def test_incomplete_multipart_checkpoint_ignored_when_covered(spark, tmp_path):
    # a partially-written multi-part checkpoint must NOT make the table
    # unreadable when the commit chain (or another checkpoint) covers
    # replay — PROTOCOL.md: readers ignore partial checkpoints
    root = _plain_table(tmp_path)
    log = os.path.join(root, "_delta_log")
    add_t = pa.struct([("path", pa.string()),
                       ("partitionValues", pa.map_(pa.string(), pa.string())),
                       ("size", pa.int64()), ("modificationTime", pa.int64()),
                       ("dataChange", pa.bool_())])
    # only part 2 of a 2-part set at version 1 (part 1 never landed)
    pq.write_table(
        pa.table({"add": pa.array(
            [{"path": "part-zzz.parquet", "partitionValues": [], "size": 1,
              "modificationTime": 0, "dataChange": True}], add_t)}),
        os.path.join(log, f"{1:020d}.checkpoint.{2:010d}.{2:010d}.parquet"),
    )
    # full commit chain still present -> table reads normally, the phantom
    # part's add never surfaces
    assert sorted(r.id for r in read_delta(spark, root).collect()) == [1, 2, 4]


def test_change_data_feed_partitioned(spark, tmp_path):
    # CDF over a PARTITIONED table: partition columns re-injected from the
    # cdc/add actions' partitionValues.
    root = str(tmp_path / "cdfp")
    data = pa.schema([("id", pa.int64())])
    _write_part(root, "day=2026-01-01/f1.parquet", {"id": [1, 2]}, data)
    _write_part(root, "day=2026-01-02/f2.parquet", {"id": [3]}, data)
    cdc = pa.schema([("id", pa.int64()), ("_change_type", pa.string())])
    _write_part(root, "_change_data/day=2026-01-02/c1.parquet",
                {"id": [3, 4], "_change_type": ["delete", "insert"]}, cdc)
    _commit(root, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
        _meta([("id", "long"), ("day", "string")], partition_cols=["day"]),
        _add("day=2026-01-01/f1.parquet", {"day": "2026-01-01"}),
        _add("day=2026-01-02/f2.parquet", {"day": "2026-01-02"}),
    ])
    _write_part(root, "day=2026-01-02/f3.parquet", {"id": [4]}, data)
    _commit(root, 1, [
        {"cdc": {"path": "_change_data/day=2026-01-02/c1.parquet",
                 "partitionValues": {"day": "2026-01-02"}, "size": 1}},
        _add("day=2026-01-02/f3.parquet", {"day": "2026-01-02"}),
        {"remove": {"path": "day=2026-01-02/f2.parquet",
                    "deletionTimestamp": 1, "dataChange": True}},
    ])
    from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
        read_delta_changes,
    )

    ch = read_delta_changes(spark, root, 0)
    got = sorted((r.id, r.day, r._change_type, r._commit_version)
                 for r in ch.collect())
    assert got == [
        (1, "2026-01-01", "insert", 0),
        (2, "2026-01-01", "insert", 0),
        (3, "2026-01-02", "delete", 1),
        (3, "2026-01-02", "insert", 0),
        (4, "2026-01-02", "insert", 1),
    ]


def test_deltastream_partitioned_reinjection(spark, tmp_path):
    # partitioned table: the stream re-injects partition values from each
    # add action as typed per-file constants
    from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
        register_delta_stream_source,
    )

    root = str(tmp_path / "dsp")
    data = pa.schema([("id", pa.int64())])
    _write_part(root, "day=2026-01-01/f1.parquet", {"id": [1, 2]}, data)
    _write_part(root, "day=2026-01-02/f2.parquet", {"id": [3]}, data)
    _commit(root, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        _meta([("id", "long"), ("day", "date")], partition_cols=["day"]),
        _add("day=2026-01-01/f1.parquet", {"day": "2026-01-01"}),
    ])
    _commit(root, 1, [_add("day=2026-01-02/f2.parquet", {"day": "2026-01-02"})])
    register_delta_stream_source(spark)
    run_stream(
        spark.readStream.format("deltastream").option("path", root).load()
        .writeStream.format("memory").queryName("sg_ds_part")
        .outputMode("append")
    )
    got = sorted((r.id, str(r.day)) for r in spark.table("sg_ds_part").collect())
    assert got == [(1, "2026-01-01"), (2, "2026-01-01"), (3, "2026-01-02")]
    assert dict(spark.table("sg_ds_part").dtypes)["day"] == "date"


def test_column_mapping_id_mode(spark, tmp_path):
    # r9: columnMapping 'id' — parquet columns resolve by FIELD ID, never
    # by name (PROTOCOL.md "Column Mapping"): the second file's physical
    # column names are SWAPPED relative to the first, so name-based
    # resolution would transpose its columns; Spark's parquet field-id
    # read (ids stamped into the read schema) resolves both correctly.
    # Partition values stay keyed by PHYSICAL name; CDF keeps refusing.
    from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
        read_delta_changes,
    )

    root = str(tmp_path / "cmid")

    def fld(name, typ, fid):
        return pa.field(
            name, typ, metadata={b"PARQUET:field_id": str(fid).encode()}
        )

    s1 = pa.schema([fld("col-aaa", pa.int64(), 1),
                    fld("col-bbb", pa.string(), 2)])
    _write_part(root, "f1.parquet",
                {"col-aaa": [1, 2], "col-bbb": ["a", "b"]}, s1)
    # f2: physical NAMES swapped; ids are authoritative
    s2 = pa.schema([fld("col-bbb", pa.int64(), 1),
                    fld("col-aaa", pa.string(), 2)])
    _write_part(root, "f2.parquet", {"col-bbb": [3], "col-aaa": ["c"]}, s2)
    schema_string = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-aaa"}},
        {"name": "v", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "col-bbb"}},
        {"name": "day", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 3,
                      "delta.columnMapping.physicalName": "col-ccc"}},
    ]})
    _commit(root, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "cmid",
                      "format": {"provider": "parquet", "options": {}},
                      "schemaString": schema_string,
                      "partitionColumns": ["day"],
                      "configuration": {"delta.columnMapping.mode": "id"}}},
        _add("f1.parquet", pv={"col-ccc": "d1"}),
        _add("f2.parquet", pv={"col-ccc": "d2"}),
    ])
    df = read_delta(spark, root)
    assert df.columns == ["id", "v", "day"]
    got = sorted((r.id, r.v, r.day) for r in df.collect())
    assert got == [(1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2")]
    # partition hint prunes on the LOGICAL column name
    assert sorted(
        r.id for r in read_delta(spark, root,
                                 where=[("day", "=", "d2")]).collect()
    ) == [3]
    # CDF under 'id' mapping resolves by field id too (r9, see
    # test_column_mapping_id_cdf_and_stream); partitioned variant here:
    cdf = read_delta_changes(spark, root, 0)
    got = sorted((r.id, r.day, r._change_type) for r in cdf.collect())
    assert got == [(1, "d1", "insert"), (2, "d1", "insert"),
                   (3, "d2", "insert")]


def test_column_mapping_id_cdf_and_stream(spark, tmp_path):
    # r9: CDF and the deltastream source under columnMapping 'id' —
    # parquet columns resolve by field id on both paths (the stream maps
    # ids from pyarrow's PARQUET:field_id metadata per batch), so a file
    # with swapped physical names still streams the right values
    from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
        read_delta_changes,
        register_delta_stream_source,
    )

    root = str(tmp_path / "cmid_s")

    def fld(name, typ, fid):
        return pa.field(
            name, typ, metadata={b"PARQUET:field_id": str(fid).encode()}
        )

    s1 = pa.schema([fld("col-aaa", pa.int64(), 1),
                    fld("col-bbb", pa.string(), 2)])
    _write_part(root, "f1.parquet",
                {"col-aaa": [1, 2], "col-bbb": ["a", "b"]}, s1)
    # physical names swapped; the ids are authoritative
    s2 = pa.schema([fld("col-bbb", pa.int64(), 1),
                    fld("col-aaa", pa.string(), 2)])
    _write_part(root, "f2.parquet", {"col-bbb": [3], "col-aaa": ["c"]}, s2)
    schema_string = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-aaa"}},
        {"name": "v", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "col-bbb"}},
    ]})
    _commit(root, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "cmid-s",
                      "format": {"provider": "parquet", "options": {}},
                      "schemaString": schema_string,
                      "partitionColumns": [],
                      "configuration": {"delta.columnMapping.mode": "id"}}},
        _add("f1.parquet"),
    ])
    _commit(root, 1, [_add("f2.parquet")])

    cdf = read_delta_changes(spark, root, 0)
    got = sorted((r.id, r.v, r._change_type, r._commit_version)
                 for r in cdf.collect())
    assert got == [(1, "a", "insert", 0), (2, "b", "insert", 0),
                   (3, "c", "insert", 1)]

    register_delta_stream_source(spark)
    run_stream(
        spark.readStream.format("deltastream").option("path", root).load()
        .writeStream.format("memory").queryName("sg_cmid_stream")
        .outputMode("append")
    )
    got = sorted((r.id, r.v)
                 for r in spark.table("sg_cmid_stream").collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_deltastream_starting_timestamp(spark, tmp_path):
    # r9: startingTimestamp resolves to the first version committed AT or
    # AFTER the bound (Delta's own startingTimestamp rule); conflicts
    # with startingVersion refuse
    from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
        register_delta_stream_source,
    )

    root = _plain_table(tmp_path)  # v0 at ts 1000 (ids 1,2,3 live)…
    # v1 at ts 2000 rewrites part-b: remove + add — use ignoreChanges
    register_delta_stream_source(spark)
    run_stream(
        spark.readStream.format("deltastream").option("path", root)
        .option("startingTimestamp", "1500")
        .option("ignoreChanges", "true").load()
        .writeStream.format("memory").queryName("sg_dst")
        .outputMode("append")
    )
    # only v1's add streams (part-c: id 4)
    assert sorted(r.id for r in spark.table("sg_dst").collect()) == [4]
    with pytest.raises(StreamingQueryException, match="not both"):
        run_stream(
            spark.readStream.format("deltastream").option("path", root)
            .option("startingTimestamp", "1500")
            .option("startingVersion", "1").load()
            .writeStream.format("memory").queryName("sg_dst2")
            .outputMode("append")
        )


def test_dv_frame_executor_side_decode_large(spark, tmp_path):
    # ADVICE-r9 #6: dv_frame must NOT materialize every deleted position
    # as a driver-side Python tuple — the driver ships raw bitmap bytes
    # and executors expand.  Probe: a 1M-position DV decodes correctly
    # while driver-side allocations during frame CONSTRUCTION stay
    # O(bitmap bytes), orders of magnitude under the tuple
    # materialization (~100 MB for 1M tuples).
    import tracemalloc

    from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
        _roaring_array_bytes,
        dv_frame,
    )

    n = 1_000_000
    positions = list(range(0, 2 * n, 2))
    data = _roaring_array_bytes(positions)
    import base64
    # inline storage via Z85 (pad to 4-byte blocks like the writer)
    pad = (-len(data)) % 4
    from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
        _z85_encode,
    )

    files = {"f.parquet": {"deletionVector": {
        "storageType": "i",
        "pathOrInlineDv": _z85_encode(data + b"\0" * pad),
        "sizeInBytes": len(data),
        "cardinality": n,
    }}}
    tracemalloc.start()
    frame = dv_frame(spark, str(tmp_path), files)
    _cur, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    # frame construction allocates the bitmap (~250 KB here), never the
    # 1M-tuple list; allow generous slack for Spark plumbing
    assert peak < 20 * 1024 * 1024, f"driver peak {peak} bytes"
    got = frame.count()
    assert got == n
    head = sorted(r["__dv_pos"] for r in frame.limit(5).collect())
    assert head == [0, 2, 4, 6, 8]
    # a wrong cardinality fails where the decode runs
    files["f.parquet"]["deletionVector"]["cardinality"] = n - 1
    bad = dv_frame(spark, str(tmp_path), files)
    import pytest as _pytest

    with _pytest.raises(Exception, match="cardinality"):
        bad.count()


def test_one_delta_snapshot_and_one_scan():
    """Source scan over ``delta_reader``, ``delta_writer`` and ``uniform``:
    ``delta_reader._Snapshot`` is the only replay of the Delta log and
    ``delta_reader._scan`` the only reader of Delta table data files.

    Only ``_Snapshot`` lists the log or reads checkpoints, and commit JSON
    is parsed only by ``_actions``, which ``_Snapshot`` and
    ``delta_history`` (each commit's commitInfo) call.  The other
    ``open`` calls are named here: ``_checkpoint_actions`` opens a v2
    checkpoint's JSON manifest, and ``write_dv_file`` /
    ``_dv_bitmap_bytes`` open deletion-vector files.  Only ``_scan``
    builds the deletion-vector frame or calls ``.parquet``; the column
    mapping mode is derived once, in ``_Snapshot``; the session-wide
    ``fieldId.read.enabled`` write and the ``schemaString`` parse each
    appear once."""
    import ast
    import pathlib

    from kafka_connect_expand_json_transform_spark.sources import (
        delta_reader,
        delta_writer,
        uniform,
    )

    allowed = {
        "_list_log": {"_Snapshot"},
        "_checkpoint_actions": {"_Snapshot"},
        "_parquet_actions": {"_checkpoint_actions"},
        "_actions": {"_Snapshot", "delta_history"},
        "open": {"_actions", "_checkpoint_actions", "write_dv_file", "_dv_bitmap_bytes"},
        "dv_frame": {"_scan"},
        ".parquet": {"_scan"},
    }
    bad, field_id_sets, schema_parses, mode_reads = [], [], [], []
    for mod in (delta_reader, delta_writer, uniform):
        tree = ast.parse(pathlib.Path(mod.__file__).read_text())
        for top in tree.body:
            name = getattr(top, "name", None)
            for n in ast.walk(top):
                if isinstance(n, ast.Constant) and n.value == "delta.columnMapping.mode":
                    mode_reads.append(name)
                if not isinstance(n, ast.Call):
                    continue
                f = n.func
                callee = (
                    f.id if isinstance(f, ast.Name)
                    else "." + f.attr if isinstance(f, ast.Attribute) else None
                )
                if callee in allowed and name not in allowed[callee]:
                    bad.append((mod.__name__, name, callee))
                consts = {
                    c.value for a in n.args for c in ast.walk(a)
                    if isinstance(c, ast.Constant) and isinstance(c.value, str)
                }
                if callee == ".set" and any("fieldId.read.enabled" in c for c in consts):
                    field_id_sets.append(name)
                if callee == ".fromJson" or (callee == ".loads" and "schemaString" in consts):
                    schema_parses.append((name, callee))
    assert bad == []
    assert field_id_sets == ["_scan"]
    assert schema_parses == [("_schema", ".fromJson"), ("_schema", ".loads")]
    assert mode_reads == ["_Snapshot"]
    for gone in ("_replay", "_latest_txn_version", "_TXN_WATERMARKS", "_cow_scan"):
        assert not hasattr(delta_reader, gone) and not hasattr(delta_writer, gone)
