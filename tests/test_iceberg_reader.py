"""Pure-Python Iceberg metadata reader (sources/iceberg_reader.py):
snapshot + time-travel replay through metadata.json -> Avro manifest
list -> Avro manifests -> parquet, all hand-written per the PUBLIC
iceberg.apache.org spec (no iceberg runtime exists in this container);
schema mapping, v1/v2 layouts, relocated-table path re-rooting, and the
fail-closed rule on v2 delete manifests."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import StreamingQueryException

from kafka_connect_expand_json_transform_spark.sources import avro_codec as AC
from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
    IcebergUnsupported,
    iceberg_snapshots,
    read_iceberg,
)
from kafka_connect_expand_json_transform_spark.streaming import run_stream

ENTRY_V2 = {
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int"},
        {"name": "data_file", "type": {
            "type": "record", "name": "r2", "fields": [
                {"name": "content", "type": "int"},
                {"name": "file_path", "type": "string"},
                {"name": "file_format", "type": "string"},
                {"name": "record_count", "type": "long"},
                {"name": "file_size_in_bytes", "type": "long"},
            ]}},
    ],
}
ENTRY_V1 = {
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int"},
        {"name": "data_file", "type": {
            "type": "record", "name": "r2", "fields": [
                {"name": "file_path", "type": "string"},
                {"name": "file_format", "type": "string"},
                {"name": "record_count", "type": "long"},
                {"name": "file_size_in_bytes", "type": "long"},
            ]}},
    ],
}
MLIST = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "content", "type": "int"},
    ],
}

FIELDS = [
    {"id": 1, "name": "id", "required": True, "type": "long"},
    {"id": 2, "name": "v", "required": False, "type": "string"},
]


def _table(tmp_path, *, fmt_version=2, location=None, deletes=False):
    root = str(tmp_path / "iceb")
    loc = location or ("file://" + root)
    os.makedirs(root + "/metadata")
    os.makedirs(root + "/data")
    sch = pa.schema([("id", pa.int64()), ("v", pa.string())])
    for name, rows in (("a", {"id": [1, 2], "v": ["x", "y"]}),
                       ("b", {"id": [3], "v": ["z"]}),
                       ("c", {"id": [4], "v": ["w"]})):
        pq.write_table(pa.table(rows, schema=sch), f"{root}/data/{name}.parquet")

    entry_schema = ENTRY_V2 if fmt_version == 2 else ENTRY_V1

    def data_file(name):
        d = {"file_path": f"{loc}/data/{name}.parquet", "file_format": "parquet",
             "record_count": 1, "file_size_in_bytes": 1}
        if fmt_version == 2:
            d["content"] = 0
        return d

    def manifest(name, entries):
        p = f"{root}/metadata/{name}.avro"
        AC.write_container(p, entry_schema, entries, codec="null")
        return p

    m1 = manifest("m1", [
        {"status": 1, "data_file": data_file("a")},
        {"status": 1, "data_file": data_file("b")},
    ])
    m2 = manifest("m2", [
        {"status": 0, "data_file": data_file("a")},
        {"status": 2, "data_file": data_file("b")},
        {"status": 1, "data_file": data_file("c")},
    ])

    def mlist(name, manifests, contents):
        p = f"{root}/metadata/{name}.avro"
        AC.write_container(p, MLIST, [
            {"manifest_path": f"{loc}/metadata/{os.path.basename(m)}",
             "manifest_length": 1, "content": c}
            for m, c in zip(manifests, contents)
        ], codec="null")
        return p

    ml1 = mlist("snap-1-list", [m1], [0])
    ml2 = mlist("snap-2-list", [m2], [0])
    if deletes:
        ml2 = mlist("snap-2-list", [m2, m1], [0, 1])

    meta = {
        "format-version": fmt_version,
        "table-uuid": "0000",
        "location": loc,
        "current-snapshot-id": 2,
        "snapshots": [
            {"snapshot-id": 1, "timestamp-ms": 1000,
             "summary": {"operation": "append"},
             "manifest-list": f"{loc}/metadata/snap-1-list.avro"},
            {"snapshot-id": 2, "timestamp-ms": 2000,
             "summary": {"operation": "overwrite"},
             "manifest-list": f"{loc}/metadata/snap-2-list.avro"},
        ],
    }
    if fmt_version == 2:
        meta["schemas"] = [{"schema-id": 0, "type": "struct", "fields": FIELDS}]
        meta["current-schema-id"] = 0
    else:
        meta["schema"] = {"type": "struct", "fields": FIELDS}
    with open(root + "/metadata/v1.metadata.json", "w") as fh:
        json.dump(meta, fh)
    with open(root + "/metadata/version-hint.text", "w") as fh:
        fh.write("1")
    return root


def test_current_snapshot_and_time_travel(spark, tmp_path):
    root = _table(tmp_path)
    now = read_iceberg(spark, root)
    assert sorted(r.id for r in now.collect()) == [1, 2, 4]
    old = read_iceberg(spark, root, snapshot_id=1)
    assert sorted(r.id for r in old.collect()) == [1, 2, 3]
    assert dict(now.dtypes) == {"id": "bigint", "v": "string"}
    with pytest.raises(ValueError, match="snapshot 9"):
        read_iceberg(spark, root, snapshot_id=9)


def test_snapshot_listing(tmp_path):
    root = _table(tmp_path)
    snaps = iceberg_snapshots(root)
    assert [(s["snapshot_id"], s["operation"]) for s in snaps] == [
        (2, "overwrite"), (1, "append")
    ]


def test_format_v1_layout(spark, tmp_path):
    root = _table(tmp_path, fmt_version=1)
    assert sorted(r.id for r in read_iceberg(spark, root).collect()) == [1, 2, 4]


def test_relocated_table_re_rooting(spark, tmp_path):
    # metadata written against the ORIGINAL location; table copied here
    root = _table(tmp_path, location="file:///original/warehouse/tbl")
    assert sorted(r.id for r in read_iceberg(spark, root).collect()) == [1, 2, 4]


def test_delete_manifests_fail_closed(spark, tmp_path):
    root = _table(tmp_path, deletes=True)
    with pytest.raises(IcebergUnsupported, match="delete"):
        read_iceberg(spark, root)


def test_schema_mapping_nested_and_decimal():
    from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
        _spark_type,
    )
    from pyspark.sql import types as T

    t = _spark_type({
        "type": "struct", "fields": [
            {"id": 1, "name": "d", "required": True, "type": "decimal(10,2)"},
            {"id": 2, "name": "day", "required": False, "type": "date"},
            {"id": 3, "name": "tags", "required": False, "type": {
                "type": "list", "element-id": 4, "element": "string",
                "element-required": False}},
            {"id": 5, "name": "kv", "required": False, "type": {
                "type": "map", "key-id": 6, "key": "string",
                "value-id": 7, "value": "long", "value-required": False}},
        ],
    })
    assert t["d"].dataType == T.DecimalType(10, 2)
    assert t["day"].dataType == T.DateType()
    assert t["tags"].dataType == T.ArrayType(T.StringType(), True)
    assert t["kv"].dataType == T.MapType(T.StringType(), T.LongType(), True)
    with pytest.raises(IcebergUnsupported):
        _spark_type("geography")


def test_identity_partition_pruning(spark, tmp_path):
    root = str(tmp_path / "part")
    loc = "file://" + root
    os.makedirs(root + "/metadata")
    os.makedirs(root + "/data")
    sch = pa.schema([("id", pa.int64()), ("day", pa.string())])
    pq.write_table(pa.table({"id": [1], "day": ["d1"]}, schema=sch),
                   root + "/data/p1.parquet")
    pq.write_table(pa.table({"id": [2], "day": ["d2"]}, schema=sch),
                   root + "/data/p2.parquet")
    entry = {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int"},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "partition", "type": {
                        "type": "record", "name": "r102", "fields": [
                            {"name": "day", "type": "string"}]}},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                ]}},
        ],
    }
    AC.write_container(root + "/metadata/m.avro", entry, [
        {"status": 1, "data_file": {
            "content": 0, "file_path": f"{loc}/data/p1.parquet",
            "file_format": "parquet", "partition": {"day": "d1"},
            "record_count": 1, "file_size_in_bytes": 1}},
        {"status": 1, "data_file": {
            "content": 0, "file_path": f"{loc}/data/p2.parquet",
            "file_format": "parquet", "partition": {"day": "d2"},
            "record_count": 1, "file_size_in_bytes": 1}},
    ], codec="null")
    AC.write_container(root + "/metadata/sl.avro", MLIST, [
        {"manifest_path": f"{loc}/metadata/m.avro",
         "manifest_length": 1, "content": 0}], codec="null")
    meta = {
        "format-version": 2, "table-uuid": "0000", "location": loc,
        "current-snapshot-id": 1,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": [
            {"id": 1, "name": "id", "required": True, "type": "long"},
            {"id": 2, "name": "day", "required": False, "type": "string"},
        ]}],
        "current-schema-id": 0,
        "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1000,
                       "summary": {"operation": "append"},
                       "manifest-list": f"{loc}/metadata/sl.avro"}],
    }
    with open(root + "/metadata/v1.metadata.json", "w") as fh:
        json.dump(meta, fh)
    full = read_iceberg(spark, root)
    assert sorted(r.id for r in full.collect()) == [1, 2]
    pruned = read_iceberg(spark, root, where=[("day", "=", "d2")])
    assert [r.id for r in pruned.collect()] == [2]
    assert pruned.inputFiles() == [f for f in full.inputFiles() if "p2" in f]


def test_as_of_timestamp(spark, tmp_path):
    root = _table(tmp_path)  # snapshots at ts 1000 and 2000
    old = read_iceberg(spark, root, as_of_timestamp_ms=1500)
    assert sorted(r.id for r in old.collect()) == [1, 2, 3]
    now = read_iceberg(spark, root, as_of_timestamp_ms=99999)
    assert sorted(r.id for r in now.collect()) == [1, 2, 4]
    with pytest.raises(ValueError, match="predates"):
        read_iceberg(spark, root, as_of_timestamp_ms=5)
    with pytest.raises(ValueError, match="not both"):
        read_iceberg(spark, root, snapshot_id=1, as_of_timestamp_ms=1500)


def test_icebergstream_appends_and_overwrite_contract(spark, tmp_path):
    from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
        register_iceberg_stream_source,
    )

    # _table: snapshot 1 appends a+b; snapshot 2 deletes b, adds c
    root = _table(tmp_path)
    register_iceberg_stream_source(spark)
    # snapshot 2 is an overwrite with deleted entries -> abort by default
    with pytest.raises(StreamingQueryException):
        run_stream(
            spark.readStream.format("icebergstream").option("path", root).load()
            .writeStream.format("memory").queryName("sg_icestream")
            .outputMode("append")
        )
    run_stream(
        spark.readStream.format("icebergstream").option("path", root)
        .option("ignoreChanges", "true").load()
        .writeStream.format("memory").queryName("sg_icestream2")
        .outputMode("append")
    )
    # snapshot 1 adds ids 1,2,3; snapshot 2 re-streams only its ADDED file
    assert sorted(r.id for r in spark.table("sg_icestream2").collect()) == [
        1, 2, 3, 4
    ]


def _append_only_table(tmp_path):
    """Two append snapshots: snap 1 adds a.parquet (ids 1,2), snap 2 adds
    b.parquet (id 3).  Older manifests appear with status=0 (existing) in
    later manifest lists, per the spec."""
    root = str(tmp_path / "iceb_app")
    loc = "file://" + root
    os.makedirs(root + "/metadata")
    os.makedirs(root + "/data")
    sch = pa.schema([("id", pa.int64()), ("v", pa.string())])
    pq.write_table(pa.table({"id": [1, 2], "v": ["x", "y"]}, schema=sch),
                   f"{root}/data/a.parquet")
    pq.write_table(pa.table({"id": [3], "v": ["z"]}, schema=sch),
                   f"{root}/data/b.parquet")
    pq.write_table(pa.table({"id": [4], "v": ["w"]}, schema=sch),
                   f"{root}/data/c.parquet")

    def data_file(name):
        return {"content": 0, "file_path": f"{loc}/data/{name}.parquet",
                "file_format": "parquet", "record_count": 1,
                "file_size_in_bytes": 1}

    def manifest(name, entries):
        p = f"{root}/metadata/{name}.avro"
        AC.write_container(p, ENTRY_V2, entries, codec="null")
        return p

    manifest("m1", [{"status": 1, "data_file": data_file("a")}])
    manifest("m2", [{"status": 1, "data_file": data_file("b")}])
    manifest("m2e", [{"status": 0, "data_file": data_file("a")},
                     {"status": 1, "data_file": data_file("b")}])
    manifest("m3", [{"status": 1, "data_file": data_file("c")}])

    def mlist(name, manifests):
        p = f"{root}/metadata/{name}.avro"
        AC.write_container(p, MLIST, [
            {"manifest_path": f"{loc}/metadata/{m}.avro",
             "manifest_length": 1, "content": 0}
            for m in manifests
        ], codec="null")
        return p

    mlist("snap-1-list", ["m1"])
    mlist("snap-2-list", ["m2e", "m2"][1:2])  # only NEW manifest carries status=1
    mlist("snap-3-list", ["m3"])

    def snap(sid, ts, mname):
        return {"snapshot-id": sid, "sequence-number": sid,
                "timestamp-ms": ts, "summary": {"operation": "append"},
                "manifest-list": f"{loc}/metadata/{mname}.avro",
                "schema-id": 0}

    def write_meta(version, snaps, current):
        meta = {
            "format-version": 2, "table-uuid": "0001", "location": loc,
            "current-snapshot-id": current,
            "snapshots": snaps,
            "schemas": [{"schema-id": 0, "type": "struct", "fields": FIELDS}],
            "current-schema-id": 0,
        }
        with open(f"{root}/metadata/v{version}.metadata.json", "w") as fh:
            json.dump(meta, fh)
        with open(root + "/metadata/version-hint.text", "w") as fh:
            fh.write(str(version))

    s1, s2, s3 = snap(101, 1000, "snap-1-list"), snap(202, 2000, "snap-2-list"), \
        snap(303, 3000, "snap-3-list")
    write_meta(1, [s1, s2], 202)
    return root, write_meta, (s1, s2, s3)


def test_icebergstream_snapshot_id_offsets_survive_expiry(spark, tmp_path):
    # ADVICE r7 #3: offsets are snapshot IDS resolved against the log at
    # read time — expiring an already-streamed old snapshot between
    # restarts must not skip or replay anything; expiring the LAST
    # streamed snapshot fails closed instead of guessing.
    from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
        register_iceberg_stream_source,
    )

    root, write_meta, (s1, s2, s3) = _append_only_table(tmp_path)
    register_iceberg_stream_source(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")  # file sink: supports checkpoint recovery

    def run():
        run_stream(
            spark.readStream.format("icebergstream").option("path", root)
            .load()
            .writeStream.format("json").option("path", out)
            .option("checkpointLocation", ckpt).outputMode("append")
        )

    def sunk_ids():
        return sorted(r.id for r in spark.read.json(out).collect())

    run()
    assert sunk_ids() == [1, 2, 3]

    # expire snapshot 1 AND add snapshot 3 — a positional offset (2 snaps
    # streamed) would now point past snapshot 3 and silently skip it
    write_meta(2, [s2, s3], 303)
    run()
    # resumed AFTER snapshot 202 by id: exactly snapshot 303's file is
    # appended — no skip (4 present), no replay (no duplicate 3)
    assert sunk_ids() == [1, 2, 3, 4]

    # expire the last-streamed snapshot (303): resume must fail closed
    write_meta(3, [s2], 202)
    with pytest.raises(StreamingQueryException, match="(?i)expired|no longer"):
        run()


def test_icebergstream_legacy_pos_offset_fails_closed(spark, tmp_path):
    # ADVICE-r8 medium: a checkpoint written by the pre-r8 positional
    # offset format ({"pos": N}) must FAIL the resume, not be treated as
    # initial (which would silently re-stream every snapshot = duplicates)
    import glob as _glob
    import json as _json

    from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
        register_iceberg_stream_source,
    )

    root, write_meta, (s1, s2, s3) = _append_only_table(tmp_path)
    register_iceberg_stream_source(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run():
        run_stream(
            spark.readStream.format("icebergstream").option("path", root)
            .load()
            .writeStream.format("json").option("path", out)
            .option("checkpointLocation", ckpt).outputMode("append")
        )

    run()
    # rewrite the committed offset to the legacy positional format
    write_meta(2, [s1, s2, s3], 303)  # new data so the resume plans a batch
    off_files = sorted(_glob.glob(os.path.join(ckpt, "offsets", "*")))
    legacy_written = False
    for f in off_files:
        if os.path.basename(f).startswith("."):
            continue
        lines = open(f).read().splitlines()
        for i, ln in enumerate(lines):
            if ln.startswith("{") and "snapshot_id" in ln:
                lines[i] = _json.dumps({"pos": 2})
                legacy_written = True
        with open(f, "w") as fh:
            fh.write("\n".join(lines))
    assert legacy_written
    with pytest.raises(StreamingQueryException, match="(?i)legacy"):
        run()


def test_ordered_snapshots_mixed_sequence_numbers(tmp_path):
    # ADVICE r7 #3 (second half): when only SOME snapshots carry
    # sequence-number (v1->v2 upgrade), ordering falls back to
    # timestamp-ms for all — never interleaves the two scales.
    root, write_meta, (s1, s2, s3) = _append_only_table(tmp_path)
    s1b = dict(s1)
    del s1b["sequence-number"]  # v1-era snapshot: no sequence-number
    write_meta(2, [s3, s1b, s2], 303)

    from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
        _read_metadata,
    )
    meta = _read_metadata(root)
    snaps = sorted(meta["snapshots"], key=lambda s: s.get("timestamp-ms", 0))
    assert [s["snapshot-id"] for s in snaps] == [101, 202, 303]


def test_position_deletes_applied(spark, tmp_path):
    # v2 merge-on-read: a delete manifest's position-delete files remove
    # (file_path, pos) rows from the scan; equality deletes still refuse.
    root = str(tmp_path / "iceb_pd")
    loc = "file://" + root
    os.makedirs(root + "/metadata")
    os.makedirs(root + "/data")
    sch = pa.schema([("id", pa.int64()), ("v", pa.string())])
    pq.write_table(pa.table({"id": [1, 2], "v": ["x", "y"]}, schema=sch),
                   f"{root}/data/a.parquet")
    pq.write_table(pa.table({"id": [3, 4], "v": ["z", "w"]}, schema=sch),
                   f"{root}/data/b.parquet")
    # position-delete parquet per the spec's reserved schema: drop a[0], b[1]
    pq.write_table(
        pa.table({
            "file_path": [f"{loc}/data/a.parquet", f"{loc}/data/b.parquet"],
            "pos": [0, 1],
        }, schema=pa.schema([("file_path", pa.string()), ("pos", pa.int64())])),
        f"{root}/data/pd-1.parquet",
    )

    def data_file(name, content=0):
        return {"content": content, "file_path": f"{loc}/data/{name}.parquet",
                "file_format": "parquet", "record_count": 1,
                "file_size_in_bytes": 1}

    AC.write_container(f"{root}/metadata/md.avro", ENTRY_V2, [
        {"status": 1, "data_file": data_file("a")},
        {"status": 1, "data_file": data_file("b")},
    ], codec="null")
    AC.write_container(f"{root}/metadata/mdel.avro", ENTRY_V2, [
        {"status": 1, "data_file": data_file("pd-1", content=1)},
    ], codec="null")
    AC.write_container(f"{root}/metadata/snap-1-list.avro", MLIST, [
        {"manifest_path": f"{loc}/metadata/md.avro", "manifest_length": 1,
         "content": 0},
        {"manifest_path": f"{loc}/metadata/mdel.avro", "manifest_length": 1,
         "content": 1},
    ], codec="null")
    meta = {
        "format-version": 2, "table-uuid": "0002", "location": loc,
        "current-snapshot-id": 1,
        "snapshots": [{"snapshot-id": 1, "sequence-number": 1,
                       "timestamp-ms": 1000,
                       "summary": {"operation": "overwrite"},
                       "manifest-list": f"{loc}/metadata/snap-1-list.avro"}],
        "schemas": [{"schema-id": 0, "type": "struct", "fields": FIELDS}],
        "current-schema-id": 0,
    }
    with open(root + "/metadata/v1.metadata.json", "w") as fh:
        json.dump(meta, fh)
    with open(root + "/metadata/version-hint.text", "w") as fh:
        fh.write("1")

    got = sorted(r.id for r in read_iceberg(spark, root).collect())
    assert got == [2, 3]

    # an equality delete (content=2) WITHOUT equality_ids is malformed:
    # nothing to match on -> refuse rather than guess
    AC.write_container(f"{root}/metadata/mdel.avro", ENTRY_V2, [
        {"status": 1, "data_file": data_file("pd-1", content=2)},
    ], codec="null")
    with pytest.raises(IcebergUnsupported, match="equality_ids"):
        read_iceberg(spark, root)


ENTRY_V2_EQ = {
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int"},
        {"name": "sequence_number", "type": ["null", "long"]},
        {"name": "data_file", "type": {
            "type": "record", "name": "r2e", "fields": [
                {"name": "content", "type": "int"},
                {"name": "file_path", "type": "string"},
                {"name": "file_format", "type": "string"},
                {"name": "record_count", "type": "long"},
                {"name": "file_size_in_bytes", "type": "long"},
                {"name": "equality_ids",
                 "type": ["null", {"type": "array", "items": "int"}]},
            ]}},
    ],
}


def test_equality_deletes_applied_sequence_scoped(spark, tmp_path):
    # v2 equality deletes: rows matching the delete file's equality_ids
    # columns die, but ONLY in data files whose data sequence number is
    # STRICTLY LESS than the delete's — a newer re-insert of a deleted
    # key survives (spec "Scan Planning" / "Equality Delete Files")
    root = str(tmp_path / "iceb_eq")
    loc = "file://" + root
    os.makedirs(root + "/metadata")
    os.makedirs(root + "/data")
    sch = pa.schema([("id", pa.int64()), ("v", pa.string())])
    # seq 1: ids 1,2,3 — seq 3: id 2 re-inserted after the seq-2 delete
    pq.write_table(pa.table({"id": [1, 2, 3], "v": ["x", "y", "z"]},
                            schema=sch), f"{root}/data/a.parquet")
    pq.write_table(pa.table({"id": [2], "v": ["y2"]}, schema=sch),
                   f"{root}/data/b.parquet")
    # equality delete at seq 2 on field id 1 (= column "id"): kill 2 and 3
    pq.write_table(pa.table({"id": [2, 3]},
                            schema=pa.schema([("id", pa.int64())])),
                   f"{root}/data/eq-1.parquet")

    def entry(name, seq, content=0, eq_ids=None):
        return {"status": 1, "sequence_number": seq, "data_file": {
            "content": content, "file_path": f"{loc}/data/{name}.parquet",
            "file_format": "parquet", "record_count": 1,
            "file_size_in_bytes": 1, "equality_ids": eq_ids}}

    AC.write_container(f"{root}/metadata/md.avro", ENTRY_V2_EQ, [
        entry("a", 1), entry("b", 3),
    ], codec="null")
    AC.write_container(f"{root}/metadata/mdel.avro", ENTRY_V2_EQ, [
        entry("eq-1", 2, content=2, eq_ids=[1]),
    ], codec="null")
    AC.write_container(f"{root}/metadata/snap-1-list.avro", MLIST, [
        {"manifest_path": f"{loc}/metadata/md.avro", "manifest_length": 1,
         "content": 0},
        {"manifest_path": f"{loc}/metadata/mdel.avro", "manifest_length": 1,
         "content": 1},
    ], codec="null")
    meta = {
        "format-version": 2, "table-uuid": "0003", "location": loc,
        "current-snapshot-id": 1,
        "snapshots": [{"snapshot-id": 1, "sequence-number": 3,
                       "timestamp-ms": 1000,
                       "summary": {"operation": "overwrite"},
                       "manifest-list": f"{loc}/metadata/snap-1-list.avro"}],
        "schemas": [{"schema-id": 0, "type": "struct", "fields": FIELDS}],
        "current-schema-id": 0,
    }
    with open(root + "/metadata/v1.metadata.json", "w") as fh:
        json.dump(meta, fh)
    with open(root + "/metadata/version-hint.text", "w") as fh:
        fh.write("1")

    got = sorted((r.id, r.v) for r in read_iceberg(spark, root).collect())
    # a: 1 survives (2,3 deleted at seq 2 > 1); b: the seq-3 re-insert of
    # 2 survives (3 is NOT < 2)
    assert got == [(1, "x"), (2, "y2")]


def test_bounds_decoding_appendix_d():
    import decimal
    import struct

    from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
        _decode_bound,
    )

    assert _decode_bound(struct.pack("<i", 42), "int") == 42
    assert _decode_bound(struct.pack("<q", -7), "long") == -7
    assert _decode_bound(struct.pack("<d", 1.5), "double") == 1.5
    assert _decode_bound(b"abc", "string") == "abc"
    assert _decode_bound(struct.pack("<i", 20000), "date") == 20000
    assert _decode_bound((1550).to_bytes(2, "big", signed=True),
                         "decimal(10,2)") == decimal.Decimal("15.50")
    assert _decode_bound(b"\x01", "boolean") is True
    assert _decode_bound(None, "long") is None
    assert _decode_bound(b"xx", "struct") is None  # unknown: keep


def test_manifest_bounds_pruning(spark, tmp_path):
    # lower/upper_bounds on manifest entries prune files the predicate
    # cannot match — the stats half of Iceberg's planning-time skipping.
    import struct

    root = str(tmp_path / "iceb_bounds")
    loc = "file://" + root
    os.makedirs(root + "/metadata")
    os.makedirs(root + "/data")
    sch = pa.schema([("id", pa.int64()), ("v", pa.string())])
    pq.write_table(pa.table({"id": [1, 2], "v": ["x", "y"]}, schema=sch),
                   f"{root}/data/lo.parquet")
    pq.write_table(pa.table({"id": [100, 200], "v": ["z", "w"]}, schema=sch),
                   f"{root}/data/hi.parquet")

    entry_b = {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int"},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {"name": "lower_bounds", "type": {"type": "array",
                        "items": {"type": "record", "name": "kv", "fields": [
                            {"name": "key", "type": "int"},
                            {"name": "value", "type": "bytes"}]}}},
                    {"name": "upper_bounds", "type": {"type": "array",
                        "items": "kv"}},
                ]}},
        ],
    }

    def data_file(name, lo, hi):
        return {"content": 0, "file_path": f"{loc}/data/{name}.parquet",
                "file_format": "parquet", "record_count": 2,
                "file_size_in_bytes": 1,
                "lower_bounds": [{"key": 1, "value": struct.pack("<q", lo)}],
                "upper_bounds": [{"key": 1, "value": struct.pack("<q", hi)}]}

    AC.write_container(f"{root}/metadata/mb.avro", entry_b, [
        {"status": 1, "data_file": data_file("lo", 1, 2)},
        {"status": 1, "data_file": data_file("hi", 100, 200)},
    ], codec="null")
    AC.write_container(f"{root}/metadata/snap-1-list.avro", MLIST, [
        {"manifest_path": f"{loc}/metadata/mb.avro", "manifest_length": 1,
         "content": 0},
    ], codec="null")
    meta = {
        "format-version": 2, "table-uuid": "0003", "location": loc,
        "current-snapshot-id": 1,
        "snapshots": [{"snapshot-id": 1, "sequence-number": 1,
                       "timestamp-ms": 1000,
                       "summary": {"operation": "append"},
                       "manifest-list": f"{loc}/metadata/snap-1-list.avro"}],
        "schemas": [{"schema-id": 0, "type": "struct", "fields": FIELDS}],
        "current-schema-id": 0,
    }
    with open(root + "/metadata/v1.metadata.json", "w") as fh:
        json.dump(meta, fh)
    with open(root + "/metadata/version-hint.text", "w") as fh:
        fh.write("1")

    from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
        _read_metadata,
        _snapshot_files,
    )

    m = _read_metadata(root)
    fs, _ds = _snapshot_files(root, m, None, where=[("id", ">=", 100)])
    assert [os.path.basename(f) for f in fs] == ["hi.parquet"]
    fs2, _ = _snapshot_files(root, m, None, where=[("id", "<", 3)])
    assert [os.path.basename(f) for f in fs2] == ["lo.parquet"]
    # a column with no bounds keeps both files (sound)
    fs3, _ = _snapshot_files(root, m, None, where=[("v", "=", "zzz")])
    assert len(fs3) == 2
    # read path composes: where= prunes but does NOT filter rows
    got = sorted(r.id for r in read_iceberg(
        spark, root, where=[("id", ">=", 100)]).collect())
    assert got == [100, 200]


def test_murmur3_bucket_golden_vectors():
    # spec Appendix B "Bucket Transform Details" hash examples: int/long
    # hash as the 8-byte little-endian long, dates as the day ordinal
    # long, timestamps as micros, strings as UTF-8
    from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
        _bucket_of,
        _murmur3_32,
    )

    def signed(u):
        return u - (1 << 32) if u >= (1 << 31) else u

    assert signed(_murmur3_32((34).to_bytes(8, "little", signed=True))) \
        == 2017239379
    assert signed(_murmur3_32("iceberg".encode())) == 1210000089
    assert signed(_murmur3_32((17486).to_bytes(8, "little", signed=True))) \
        == -653330422
    assert signed(_murmur3_32(
        (1510871468000000).to_bytes(8, "little", signed=True)
    )) == -2047944441
    assert _bucket_of(34, "long", 4) == 2017239379 % 4
    import datetime
    assert _bucket_of(datetime.date(2017, 11, 16), "date", 100) \
        == ((-653330422) & 0x7FFFFFFF) % 100


def test_transform_partition_pruning(spark, tmp_path):
    # r9: hidden-partition pruning through the table's TRANSFORMS —
    # bucket[N] (Murmur3 equality), day (monotonic, range ops loosened
    # to the day grain), truncate[W] on strings
    import datetime

    from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
        _bucket_of,
    )

    root = str(tmp_path / "tpart")
    loc = "file://" + root
    os.makedirs(root + "/metadata")
    os.makedirs(root + "/data")
    sch = pa.schema([("id", pa.int64()), ("ds", pa.date32()),
                     ("name", pa.string())])
    d1, d2 = datetime.date(2017, 11, 16), datetime.date(2017, 11, 30)
    pq.write_table(pa.table({"id": [34], "ds": [d1], "name": ["icex"]},
                            schema=sch), root + "/data/p1.parquet")
    pq.write_table(pa.table({"id": [35], "ds": [d2], "name": ["zebra"]},
                            schema=sch), root + "/data/p2.parquet")
    b34, b35 = _bucket_of(34, "long", 4), _bucket_of(35, "long", 4)
    assert b34 != b35  # fixture precondition for the bucket assertion
    days1 = (d1 - datetime.date(1970, 1, 1)).days
    days2 = (d2 - datetime.date(1970, 1, 1)).days
    entry = {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int"},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "partition", "type": {
                        "type": "record", "name": "r102", "fields": [
                            {"name": "id_bucket", "type": "int"},
                            {"name": "ds_day", "type": "int"},
                            {"name": "name_trunc", "type": "string"}]}},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                ]}},
        ],
    }

    def df_entry(name, b, days, pref):
        return {"status": 1, "data_file": {
            "content": 0, "file_path": f"{loc}/data/{name}.parquet",
            "file_format": "parquet",
            "partition": {"id_bucket": b, "ds_day": days,
                          "name_trunc": pref},
            "record_count": 1, "file_size_in_bytes": 1}}

    AC.write_container(root + "/metadata/m.avro", entry, [
        df_entry("p1", b34, days1, "ice"),
        df_entry("p2", b35, days2, "zeb"),
    ], codec="null")
    AC.write_container(root + "/metadata/sl.avro", MLIST, [
        {"manifest_path": f"{loc}/metadata/m.avro",
         "manifest_length": 1, "content": 0,
         "partition_spec_id": 0}], codec="null")
    meta = {
        "format-version": 2, "table-uuid": "0000", "location": loc,
        "current-snapshot-id": 1,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": [
            {"id": 1, "name": "id", "required": True, "type": "long"},
            {"id": 2, "name": "ds", "required": False, "type": "date"},
            {"id": 3, "name": "name", "required": False, "type": "string"},
        ]}],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": [
            {"name": "id_bucket", "transform": "bucket[4]",
             "source-id": 1, "field-id": 1000},
            {"name": "ds_day", "transform": "day",
             "source-id": 2, "field-id": 1001},
            {"name": "name_trunc", "transform": "truncate[3]",
             "source-id": 3, "field-id": 1002},
        ]}],
        "default-spec-id": 0,
        "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1000,
                       "summary": {"operation": "append"},
                       "manifest-list": f"{loc}/metadata/sl.avro"}],
    }
    with open(root + "/metadata/v1.metadata.json", "w") as fh:
        json.dump(meta, fh)

    full = read_iceberg(spark, root)
    assert sorted(r.id for r in full.collect()) == [34, 35]

    def kept(where):
        return sorted(
            r.id for r in read_iceberg(spark, root, where=where).collect()
        )

    # bucket: equality prunes to the matching bucket's file
    assert kept([("id", "=", 34)]) == [34]
    assert kept([("id", "=", 35)]) == [35]
    # bucket: range ops never prune (buckets scatter ranges)
    assert kept([("id", "<", 35)]) == [34, 35]
    # day: equality and loosened range at the day grain
    assert kept([("ds", "=", d1)]) == [34]
    assert kept([("ds", "<", d1)]) == [34]        # same-day rows may precede
    assert kept([("ds", "<", datetime.date(2017, 11, 15))]) == []
    assert kept([("ds", ">", d2)]) == [35]
    # truncate[3] on strings
    assert kept([("name", "=", "iceberg")]) == [34]
    assert kept([("name", ">=", "zeb")]) == [35]


def test_icebergstream_skip_snapshot_options(spark, tmp_path):
    # r9: Iceberg's own streaming options — overwrite/delete snapshots
    # are skipped WHOLESALE instead of aborting; 'replace' (compaction)
    # snapshots are ALWAYS skipped, matching the reference streaming
    # source's contract (re-streaming a rewrite would duplicate rows)
    from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
        register_iceberg_stream_source,
    )

    # _table: snapshot 1 appends a+b (ids 1,2,3); snapshot 2 is an
    # overwrite deleting b and adding c (id 4)
    root = _table(tmp_path)
    register_iceberg_stream_source(spark)
    run_stream(
        spark.readStream.format("icebergstream").option("path", root)
        .option("streaming-skip-overwrite-snapshots", "true").load()
        .writeStream.format("memory").queryName("sg_iskip")
        .outputMode("append")
    )
    assert sorted(r.id for r in spark.table("sg_iskip").collect()) == [1, 2, 3]

    # a 'replace' snapshot is skipped even with no options set
    mpath = root + "/metadata/v1.metadata.json"
    with open(mpath) as fh:
        meta = json.load(fh)
    for s in meta["snapshots"]:
        if s["snapshot-id"] == 2:
            s["summary"]["operation"] = "replace"
    with open(mpath, "w") as fh:
        json.dump(meta, fh)
    run_stream(
        spark.readStream.format("icebergstream").option("path", root).load()
        .writeStream.format("memory").queryName("sg_ireplace")
        .outputMode("append")
    )
    assert sorted(r.id for r in spark.table("sg_ireplace").collect()) \
        == [1, 2, 3]


def test_identity_partition_value_injection(spark, tmp_path):
    # r9 (spec "Column Projection" rule 2): an identity-partition source
    # column ABSENT from the data files reads from the partition tuple —
    # the migrated-Hive-layout shape.  Typed: day is a date column whose
    # tuple value is the avro day ordinal.
    import datetime

    root = str(tmp_path / "ipart")
    loc = "file://" + root
    os.makedirs(root + "/metadata")
    os.makedirs(root + "/data")
    sch = pa.schema([("id", pa.int64())])  # NO ds column in the files
    pq.write_table(pa.table({"id": [1, 2]}, schema=sch),
                   root + "/data/p1.parquet")
    pq.write_table(pa.table({"id": [3]}, schema=sch),
                   root + "/data/p2.parquet")
    d1, d2 = datetime.date(2020, 1, 5), datetime.date(2020, 2, 7)
    days = [(d - datetime.date(1970, 1, 1)).days for d in (d1, d2)]
    entry = {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int"},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "partition", "type": {
                        "type": "record", "name": "r102", "fields": [
                            {"name": "ds", "type": "int"}]}},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                ]}},
        ],
    }
    AC.write_container(root + "/metadata/m.avro", entry, [
        {"status": 1, "data_file": {
            "content": 0, "file_path": f"{loc}/data/p1.parquet",
            "file_format": "parquet", "partition": {"ds": days[0]},
            "record_count": 2, "file_size_in_bytes": 1}},
        {"status": 1, "data_file": {
            "content": 0, "file_path": f"{loc}/data/p2.parquet",
            "file_format": "parquet", "partition": {"ds": days[1]},
            "record_count": 1, "file_size_in_bytes": 1}},
    ], codec="null")
    AC.write_container(root + "/metadata/sl.avro", MLIST, [
        {"manifest_path": f"{loc}/metadata/m.avro",
         "manifest_length": 1, "content": 0,
         "partition_spec_id": 0}], codec="null")
    meta = {
        "format-version": 2, "table-uuid": "0000", "location": loc,
        "current-snapshot-id": 1,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": [
            {"id": 1, "name": "id", "required": True, "type": "long"},
            {"id": 2, "name": "ds", "required": False, "type": "date"},
        ]}],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": [
            {"name": "ds", "transform": "identity",
             "source-id": 2, "field-id": 1000},
        ]}],
        "default-spec-id": 0,
        "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1000,
                       "summary": {"operation": "append"},
                       "manifest-list": f"{loc}/metadata/sl.avro"}],
    }
    with open(root + "/metadata/v1.metadata.json", "w") as fh:
        json.dump(meta, fh)
    got = sorted((r.id, r.ds) for r in read_iceberg(spark, root).collect())
    assert got == [(1, d1), (2, d1), (3, d2)]
    # identity pruning composes (typed date compare on the tuple)
    pruned = read_iceberg(spark, root, where=[("ds", ">", d1)])
    assert sorted(r.id for r in pruned.collect()) == [3]


def test_partition_keep_timestamp_identity_normalizes():
    # ADVICE-r9 medium: identity pruning compared the raw Avro micros
    # long against a string/datetime literal with plain == — unequal but
    # not TypeError — so timestamp-identity-partitioned files were
    # wrongly pruned.  Both sides must normalize to micros, and a
    # residual cross-type comparison keeps the file (sound).
    import datetime

    from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
        _partition_keep,
    )

    # 1_700_000_000 s epoch == 2023-11-14T22:13:20 UTC
    micros = 1_700_000_000 * 1_000_000
    spec = {"ts": [("ts_part", "identity", "timestamptz")]}
    pv = {"ts_part": micros}
    assert _partition_keep(pv, [("ts", "=", "2023-11-14T22:13:20")], spec)
    assert _partition_keep(
        pv, [("ts", "=", datetime.datetime(2023, 11, 14, 22, 13, 20))],
        spec,
    )
    # a genuinely different literal still prunes
    assert not _partition_keep(
        pv, [("ts", "=", "2023-11-14T00:00:00")], spec
    )
    # range ops normalize too
    assert _partition_keep(pv, [("ts", ">", "2023-01-01T00:00:00")], spec)
    assert not _partition_keep(
        pv, [("ts", "<", "2023-01-01T00:00:00")], spec
    )
    # cross-type comparison on a non-temporal identity field: keep
    assert _partition_keep(
        {"k_part": 5}, [("k", "=", "5")],
        {"k": [("k_part", "identity", "string")]},
    )
