"""Standalone Iceberg APPEND writer (sources/iceberg_writer.py): table
creation, append schema contract, snapshot time travel, and the
icebergstream source over self-written tables — every committed state
verified through the independent iceberg_reader."""

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
    read_iceberg,
)
from kafka_connect_expand_json_transform_spark.sources.iceberg_writer import (
    iceberg_append,
)
from kafka_connect_expand_json_transform_spark.streaming import run_stream


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )


def test_create_append_time_travel(spark, tmp_path):
    root = str(tmp_path / "it")
    assert iceberg_append(_df(spark, 0, 5), root) == 1
    assert iceberg_append(_df(spark, 5, 8), root) == 2
    got = sorted(r.k for r in read_iceberg(spark, root).collect())
    assert got == list(range(8))
    assert read_iceberg(spark, root, snapshot_id=1).count() == 5
    # the version hint is written for outside clients but never read: a
    # stale hint (a writer died before rewriting it) does not steer the
    # next commit, and an empty one (caught mid-write) does not break reads
    import os

    hint = os.path.join(root, "metadata", "version-hint.text")
    with open(hint, "w") as fh:
        fh.write("1")
    # empty Spark partitions, the first among them, commit no zero-row
    # file, and the new manifest's record_counts sum to the frame's rows
    from kafka_connect_expand_json_transform_spark.sources import avro_codec
    from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
        _read_metadata,
    )

    sparse = spark.range(8, 18, numPartitions=4).where("id >= 13").select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    assert iceberg_append(sparse, root) == 3
    open(hint, "w").close()
    assert read_iceberg(spark, root).count() == 13
    (snap,) = [s for s in _read_metadata(root)["snapshots"] if s["snapshot-id"] == 3]
    counts = [
        e["data_file"]["record_count"]
        for m in avro_codec.read_container(snap["manifest-list"].removeprefix("file://"))
        if m["added_snapshot_id"] == 3
        for e in avro_codec.read_container(m["manifest_path"].removeprefix("file://"))
    ]
    assert len(counts) == 2 and all(counts) and sum(counts) == sparse.count() == 5
    # schema contract
    bad = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="append schema"):
        iceberg_append(bad, root)


def test_streams_through_icebergstream(spark, tmp_path):
    from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
        register_iceberg_stream_source,
    )

    root = str(tmp_path / "its")
    iceberg_append(_df(spark, 0, 3), root)
    iceberg_append(_df(spark, 3, 5), root)
    register_iceberg_stream_source(spark)
    run_stream(
        spark.readStream.format("icebergstream").option("path", root).load()
        .writeStream.format("memory").queryName("sg_iw_stream")
        .outputMode("append")
    )
    got = sorted(r.k for r in spark.table("sg_iw_stream").collect())
    assert got == list(range(5))


def test_merge_schema_evolution(spark, tmp_path):
    # r9: add-column evolution — new columns get FRESH field ids after
    # last-column-id in a NEW schema entry; earlier files read as null;
    # a type conflict refuses
    import json as _json
    import os

    root = str(tmp_path / "itev")
    iceberg_append(_df(spark, 0, 3), root)
    wide = spark.range(3, 5).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
        F.lit("x").alias("tag"),
    )
    with pytest.raises(ValueError, match="append schema"):
        iceberg_append(wide, root)
    assert iceberg_append(wide, root, merge_schema=True) == 2
    got = sorted((r.k, r.tag) for r in read_iceberg(spark, root).collect())
    assert got == [(0, None), (1, None), (2, None), (3, "x"), (4, "x")]
    # the evolved schema entry carries fresh ids and bumps last-column-id
    from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
        _read_metadata,
    )

    meta = _read_metadata(root)
    assert meta["current-schema-id"] == 1
    cur = [s for s in meta["schemas"] if s["schema-id"] == 1][0]
    ids = [f["id"] for f in cur["fields"]]
    assert ids == sorted(set(ids)) and meta["last-column-id"] == max(ids)
    # type conflict refuses even under merge_schema
    bad = spark.range(5, 6).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
        F.lit(1).alias("tag"),
    )
    with pytest.raises(ValueError, match="conflicts with"):
        iceberg_append(bad, root, merge_schema=True)


def test_append_after_expiry_allocates_fresh_ids(spark, tmp_path):
    # ADVICE-r9 high: len(snapshots)+1 collides with live snapshot ids
    # once expiry has pruned the list, making the append invisible and
    # regressing sequence-number below last-sequence-number
    from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
        _read_metadata,
    )
    from kafka_connect_expand_json_transform_spark.sources.uniform import (
        expire_iceberg_snapshots,
    )

    root = str(tmp_path / "exp")
    for i in range(5):
        iceberg_append(_df(spark, i, i + 1), root)
    expire_iceberg_snapshots(root, keep_last=3)  # live ids: [3, 4, 5]
    new_id = iceberg_append(_df(spark, 5, 7), root)
    assert new_id == 6  # past the max live id, not len+1 (= 4, a collision)
    meta = _read_metadata(root)
    assert meta["current-snapshot-id"] == 6
    snap = [s for s in meta["snapshots"] if s["snapshot-id"] == 6][0]
    assert snap["sequence-number"] > max(
        s["sequence-number"] for s in meta["snapshots"]
        if s["snapshot-id"] != 6
    )
    assert meta["last-sequence-number"] == snap["sequence-number"]
    # the append is visible through the independent reader
    got = sorted(r.k for r in read_iceberg(spark, root).collect())
    assert got == list(range(7))


def test_append_to_partitioned_table_preserves_specs(spark, tmp_path):
    # ADVICE-r9 high, closed in r10 by MANIFEST CARRYING: appending to a
    # partitioned table no longer rewrites carried entries (which would
    # have dropped their partition tuples) — previous manifests carry
    # verbatim with their own spec ids, and the new files ride an
    # unpartitioned spec added beside the table's default
    import json as _json
    import os

    from kafka_connect_expand_json_transform_spark.sources import (
        avro_codec as AC,
    )

    root = str(tmp_path / "part")
    iceberg_append(_df(spark, 0, 3), root)
    meta_path = os.path.join(root, "metadata", "v1.metadata.json")
    with open(meta_path) as fh:
        meta = _json.load(fh)
    meta["partition-specs"] = [{"spec-id": 0, "fields": [
        {"name": "k", "transform": "identity", "source-id": 1,
         "field-id": 1000}]}]
    with open(meta_path, "w") as fh:
        _json.dump(meta, fh)
    iceberg_append(_df(spark, 3, 5), root)
    got = sorted(r.k for r in read_iceberg(spark, root).collect())
    assert got == [0, 1, 2, 3, 4]
    from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
        _read_metadata,
        _resolve,
    )

    meta2 = _read_metadata(root)
    # the partitioned default spec survives untouched; the new files
    # ride a fresh empty spec
    by_id = {sp["spec-id"]: sp for sp in meta2["partition-specs"]}
    assert by_id[0]["fields"] and meta2["default-spec-id"] == 0
    empty_ids = [i for i, sp in by_id.items() if not sp["fields"]]
    assert empty_ids
    snap = [x for x in meta2["snapshots"]
            if x["snapshot-id"] == meta2["current-snapshot-id"]][0]
    loc = meta2.get("location", root)
    rows = list(AC.read_container(_resolve(root, loc,
                                           snap["manifest-list"])))
    # one carried manifest (old spec id, old snapshot) + one new
    assert len(rows) == 2
    new_rows = [r for r in rows
                if r["added_snapshot_id"] == snap["snapshot-id"]]
    old_rows = [r for r in rows
                if r["added_snapshot_id"] != snap["snapshot-id"]]
    assert len(new_rows) == 1 and new_rows[0]["partition_spec_id"] in empty_ids
    assert len(old_rows) == 1 and old_rows[0]["partition_spec_id"] == 0


def test_snapshot_stamps_commit_schema_id(spark, tmp_path):
    # ADVICE-r9 medium: the snapshot must carry the schema id active at
    # commit (the evolved id after merge_schema), not a hardcoded 0
    from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
        _read_metadata,
    )

    root = str(tmp_path / "sid")
    iceberg_append(_df(spark, 0, 3), root)
    wide = spark.range(3, 5).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
        F.lit("x").alias("tag"),
    )
    iceberg_append(wide, root, merge_schema=True)
    meta = _read_metadata(root)
    by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
    assert by_id[1]["schema-id"] == 0
    assert by_id[2]["schema-id"] == 1 == meta["current-schema-id"]


def test_position_delete_write_roundtrip(spark, tmp_path):
    # r10: DELETE WHERE writes a v2 position-delete file + delete
    # manifest; the independent reader applies it; time travel sees the
    # pre-delete state; appends after deletes carry the delete files
    from kafka_connect_expand_json_transform_spark.sources.iceberg_writer import (
        iceberg_delete_where,
    )

    root = str(tmp_path / "dw")
    s1 = iceberg_append(_df(spark, 0, 10).coalesce(2), root)
    s2, n = iceberg_delete_where(spark, root, "k >= 6")
    assert n == 4 and s2 == 2
    assert sorted(r.k for r in read_iceberg(spark, root).collect()) \
        == [0, 1, 2, 3, 4, 5]
    # time travel: pre-delete snapshot intact
    assert read_iceberg(spark, root, snapshot_id=s1).count() == 10
    # delete file carries the reserved field ids, sorted by (path, pos)
    import glob as _glob
    import os

    import pyarrow.parquet as _pq

    dfile = _glob.glob(os.path.join(root, "data", "delete-*.parquet"))
    assert len(dfile) == 1
    sch = _pq.read_schema(dfile[0])
    assert sch.field("file_path").metadata[b"PARQUET:field_id"] \
        == b"2147483546"
    assert sch.field("pos").metadata[b"PARQUET:field_id"] == b"2147483545"
    # append AFTER the delete: carried delete files still apply to the
    # old files, new rows unaffected
    s3 = iceberg_append(_df(spark, 20, 23), root)
    got = sorted(r.k for r in read_iceberg(spark, root).collect())
    assert got == [0, 1, 2, 3, 4, 5, 20, 21, 22]
    # second delete hits old + new files; already-deleted rows are not
    # re-counted
    s4, n4 = iceberg_delete_where(spark, root, "k >= 5")
    assert n4 == 4  # k=5 plus the three appended; 6..9 already gone
    assert sorted(r.k for r in read_iceberg(spark, root).collect()) \
        == [0, 1, 2, 3, 4]
    # no-match delete: no new snapshot
    s5, n5 = iceberg_delete_where(spark, root, "k > 1000")
    assert n5 == 0 and s5 == s4
    # every historical snapshot still reads
    assert read_iceberg(spark, root, snapshot_id=s3).count() == 9
    assert s4 > s3 > s2


def test_position_deletes_name_data_files_as_the_manifest_does(spark, tmp_path):
    # a root whose name Spark percent-encodes: the delete file holds the
    # manifest's file URI, not Spark's encoded one, and the reader applies it
    import pyarrow.parquet as _pq

    from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
        _read_metadata,
        _snapshot_entries,
    )
    from kafka_connect_expand_json_transform_spark.sources.iceberg_writer import (
        iceberg_delete_where,
    )

    root = str(tmp_path / "a b%c")
    iceberg_append(_df(spark, 0, 6).coalesce(2), root)
    _sid, n = iceberg_delete_where(spark, root, "k IN (1, 4)")
    assert n == 2
    assert sorted(r.k for r in read_iceberg(spark, root).collect()) == [0, 2, 3, 5]
    import os

    loc = "file://" + os.path.abspath(root)
    _files, (pos_file,), _eq, _pv = _snapshot_entries(root, _read_metadata(root), None)
    assert all(p.startswith(loc + "/data/") and os.path.exists(p[len("file://"):])
               for p in _pq.read_table(pos_file).column("file_path").to_pylist())


def test_icebergstream_over_delete_bearing_snapshots(spark, tmp_path):
    # r10: a delete snapshot aborts the stream (a retraction cannot be
    # appended) unless skipped wholesale or ignoreChanges — but LATER
    # appends over a delete-bearing table stream cleanly, because
    # carried delete files can never hit the data a snapshot adds
    from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
        register_iceberg_stream_source,
    )
    from kafka_connect_expand_json_transform_spark.sources.iceberg_writer import (
        iceberg_delete_where,
    )

    root = str(tmp_path / "isd")
    iceberg_append(_df(spark, 0, 4), root)
    iceberg_delete_where(spark, root, "k >= 2")
    iceberg_append(_df(spark, 10, 12), root)
    register_iceberg_stream_source(spark)
    # no flags: the delete snapshot aborts
    with pytest.raises(StreamingQueryException, match="(?i)delete"):
        run_stream(
            spark.readStream.format("icebergstream").option("path", root)
            .load().writeStream.format("memory").queryName("sg_isd_abort")
            .outputMode("append")
        )
    # skip-delete-snapshots: appends stream, the delete is skipped
    # wholesale (so pre-delete adds stream in full — documented)
    run_stream(
        spark.readStream.format("icebergstream").option("path", root)
        .option("streaming-skip-delete-snapshots", "true").load()
        .writeStream.format("memory").queryName("sg_isd_skip")
        .outputMode("append")
    )
    got = sorted(r.k for r in spark.table("sg_isd_skip").collect())
    assert got == [0, 1, 2, 3, 10, 11]
    # ignoreChanges: the delete snapshot adds no data files, so it
    # contributes nothing and the stream proceeds
    run_stream(
        spark.readStream.format("icebergstream").option("path", root)
        .option("ignoreChanges", "true").load()
        .writeStream.format("memory").queryName("sg_isd_ic")
        .outputMode("append")
    )
    got3 = sorted(r.k for r in spark.table("sg_isd_ic").collect())
    assert got3 == [0, 1, 2, 3, 10, 11]


def test_equality_delete_write_sequence_scoped(spark, tmp_path):
    # r10 (spec "Equality Delete Files"): delete-by-key writes an
    # equality delete file + manifest, no data file read or rewritten;
    # the repo's own reader applies it sequence-scoped, so a LATER
    # re-insert of a deleted key survives — the CDC semantics
    from pyspark.sql import functions as F

    from kafka_connect_expand_json_transform_spark.sources.iceberg_writer import (
        iceberg_delete_keys,
    )

    root = str(tmp_path / "eqd")
    s1 = iceberg_append(_df(spark, 0, 6), root)
    keys = spark.createDataFrame([(1,), (4,), (99,)], "k long")
    s2, n = iceberg_delete_keys(spark, root, keys)
    assert n == 3 and s2 == s1 + 1
    got = sorted(r.k for r in read_iceberg(spark, root).collect())
    assert got == [0, 2, 3, 5]
    # time travel: pre-delete snapshot intact
    assert read_iceberg(spark, root, snapshot_id=s1).count() == 6
    # re-insert a deleted key in a LATER append: it must survive (its
    # data sequence exceeds the delete's)
    iceberg_append(
        spark.createDataFrame([(4, 400)], "k long, v long"), root
    )
    got = sorted((r.k, r.v) for r in read_iceberg(spark, root).collect())
    assert (4, 400) in got and (1, 2) not in got
    assert [k for k, _ in got] == [0, 2, 3, 4, 5]
    # field-id stamping on the delete file
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    f = _glob.glob(_os.path.join(root, "data", "eqdelete-*.parquet"))[0]
    sch = _pq.read_schema(f)
    assert sch.field("k").metadata[b"PARQUET:field_id"] == b"1"
    # a non-table key column refuses
    with pytest.raises(ValueError, match="not table columns"):
        iceberg_delete_keys(
            spark, root, spark.createDataFrame([(1,)], "zzz long")
        )
    # empty key frame: no-op
    s_cur = read_iceberg(spark, root).count()
    sid, n0 = iceberg_delete_keys(
        spark, root,
        spark.createDataFrame([], "k long"),
    )
    assert n0 == 0 and read_iceberg(spark, root).count() == s_cur


def test_compact_materializes_deletes_and_resets_manifest_chain(
    spark, tmp_path
):
    # r10: rewriteDataFiles — deletes materialize, the manifest-list
    # chain (one manifest per carried commit) resets to ONE manifest,
    # old snapshots stay time-travelable, and the replace snapshot does
    # not re-stream
    from kafka_connect_expand_json_transform_spark.sources import (
        avro_codec as AC,
    )
    from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
        _read_metadata,
        _resolve,
        register_iceberg_stream_source,
    )
    from kafka_connect_expand_json_transform_spark.sources.iceberg_writer import (
        iceberg_compact,
        iceberg_delete_keys,
        iceberg_delete_where,
    )

    root = str(tmp_path / "cmp")
    iceberg_append(_df(spark, 0, 6), root)
    iceberg_append(_df(spark, 6, 9), root)
    iceberg_delete_where(spark, root, "k = 2")
    iceberg_delete_keys(spark, root,
                        spark.createDataFrame([(7,)], "k long"))
    pre = sorted(r.k for r in read_iceberg(spark, root).collect())
    assert pre == [0, 1, 3, 4, 5, 6, 8]
    sc = iceberg_compact(spark, root)
    assert sorted(r.k for r in read_iceberg(spark, root).collect()) == pre
    meta = _read_metadata(root)
    snap = [x for x in meta["snapshots"] if x["snapshot-id"] == sc][0]
    assert snap["summary"]["operation"] == "replace"
    rows = list(AC.read_container(_resolve(
        root, meta.get("location", root), snap["manifest-list"]
    )))
    assert len(rows) == 1 and rows[0]["content"] == 0
    # old snapshots still read (deletes still applied there)
    assert read_iceberg(spark, root, snapshot_id=1).count() == 6
    # appends after compaction carry just the one manifest + one new
    iceberg_append(_df(spark, 20, 21), root)
    meta2 = _read_metadata(root)
    snap2 = [x for x in meta2["snapshots"]
             if x["snapshot-id"] == meta2["current-snapshot-id"]][0]
    rows2 = list(AC.read_container(_resolve(
        root, meta2.get("location", root), snap2["manifest-list"]
    )))
    assert len(rows2) == 2
    # streaming with skip-delete: replace snapshots are skipped, so the
    # compaction re-streams nothing
    register_iceberg_stream_source(spark)
    run_stream(
        spark.readStream.format("icebergstream").option("path", root)
        .option("streaming-skip-delete-snapshots", "true").load()
        .writeStream.format("memory").queryName("sg_cmp_stream")
        .outputMode("append")
    )
    got = sorted(r.k for r in spark.table("sg_cmp_stream").collect())
    assert got == list(range(9)) + [20]
