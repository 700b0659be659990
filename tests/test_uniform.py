"""UniForm-style Delta export of txlog tables (sources/uniform.py): the
shared-data/dual-metadata contract — export, incremental re-export after
CoW DML, no-op detection, and the fail-closed refusals — verified by
reading every exported version back through the independent
delta_reader."""

import os

import pytest
from pyspark.sql import functions as F

from kafka_connect_expand_json_transform_spark.sources import txlog as TX
from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
    delta_history,
    read_delta,
)
from kafka_connect_expand_json_transform_spark.sources.uniform import (
    UniformExportUnsupported,
    export_delta,
)


def _seed(spark, tmp_path, name="t"):
    root = str(tmp_path / name)
    df = spark.createDataFrame(
        [(i, f"v{i}", i * 10) for i in range(20)], "k bigint, v string, x bigint"
    )
    TX.append_table(df.where(F.col("k") < 10).coalesce(1), root)
    TX.append_table(df.where(F.col("k") >= 10).coalesce(1), root)
    return root


def test_export_and_read_back(spark, tmp_path):
    root = _seed(spark, tmp_path)
    assert export_delta(root) == 0
    native = {(r.k, r.v, r.x) for r in TX.read_table(spark, root).collect()}
    via_delta = {(r.k, r.v, r.x) for r in read_delta(spark, root).collect()}
    assert native == via_delta and len(native) == 20
    # metadata-only: no data file was copied
    assert not any(n.endswith(".parquet")
                   for n in os.listdir(root + "/_delta_log"))


def test_incremental_export_after_cow_dml(spark, tmp_path):
    root = _seed(spark, tmp_path)
    export_delta(root)
    TX.delete_where(spark, root, "k % 2 = 0")
    assert export_delta(root) == 1
    via_delta = sorted(r.k for r in read_delta(spark, root).collect())
    assert via_delta == [i for i in range(20) if i % 2 == 1]
    # time travel on the EXPORTED log still sees the pre-delete snapshot
    assert read_delta(spark, root, version=0).count() == 20
    # no change -> no new version
    assert export_delta(root) == 1
    assert [h["version"] for h in delta_history(root)] == [1, 0]


def test_mor_dv_export_roundtrip(spark, tmp_path):
    # MoR deletion vectors export as REAL Delta DV files (r8): the txlog
    # (file, pos) sidecars become RoaringBitmapArray bitmaps and the
    # independent delta_reader applies them.
    root = _seed(spark, tmp_path, "dv")
    TX.delete_where_mor(spark, root, "k = 3")
    assert export_delta(root) == 0
    native = {(r.k, r.v, r.x) for r in TX.read_table(spark, root).collect()}
    via_delta = {(r.k, r.v, r.x) for r in read_delta(spark, root).collect()}
    assert via_delta == native and len(native) == 19
    # a second MoR delete changes the DV -> re-issued add, new version
    TX.delete_where_mor(spark, root, "k = 5")
    assert export_delta(root) == 1
    assert sorted(r.k for r in read_delta(spark, root).collect()) == [
        k for k in range(20) if k not in (3, 5)
    ]
    # no change -> no new version
    assert export_delta(root) == 1
    # the SAME MoR table also exports to Iceberg: DVs become a v2
    # position-delete file + delete manifest the reader applies
    from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
        read_iceberg,
    )
    from kafka_connect_expand_json_transform_spark.sources.uniform import (
        export_iceberg,
    )

    assert export_iceberg(root) == 1
    got = sorted(r.k for r in read_iceberg(spark, root).collect())
    assert got == [k for k in range(20) if k not in (3, 5)]
    # no change -> same snapshot
    assert export_iceberg(root) == 1
    # another MoR delete -> new snapshot with the updated delete file
    TX.delete_where_mor(spark, root, "k = 7")
    assert export_iceberg(root) == 2
    assert sorted(r.k for r in read_iceberg(spark, root).collect()) == [
        k for k in range(20) if k not in (3, 5, 7)
    ]


def test_refusals(spark, tmp_path):
    root2 = _seed(spark, tmp_path, "cm")
    TX.rename_column(root2, "x", "y")
    with pytest.raises(UniformExportUnsupported, match="column-mapping"):
        export_delta(root2)


def test_partitioned_export_both_directions(spark, tmp_path):
    # r9: hive-partitioned txlog tables export to BOTH formats — Delta
    # adds carry partitionValues (hive directory names) + metaData
    # partitionColumns; the Iceberg tree gets an identity partition spec
    # and typed per-file partition tuples, which the reader re-injects
    # into the column (absent from the data files) and prunes on
    from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
        read_iceberg,
    )
    from kafka_connect_expand_json_transform_spark.sources.uniform import (
        export_iceberg,
    )

    root = str(tmp_path / "pexp")
    df = spark.range(8).select(
        F.col("id").alias("k"),
        F.concat(F.lit("g"), (F.col("id") % 2).cast("string")).alias("g"),
    )
    TX.append_table(df.coalesce(2), root, partition_by=["g"])
    assert export_delta(root) == 0
    assert export_iceberg(root) == 1
    exp = sorted((k, f"g{k % 2}") for k in range(8))
    assert sorted((r.k, r.g)
                  for r in read_delta(spark, root).collect()) == exp
    assert sorted((r.k, r.g)
                  for r in read_iceberg(spark, root).collect()) == exp
    # partition pruning through both exported metadata trees
    assert sorted(
        r.k for r in read_delta(spark, root,
                                where=[("g", "=", "g1")]).collect()
    ) == [1, 3, 5, 7]
    assert sorted(
        r.k for r in read_iceberg(spark, root,
                                  where=[("g", "=", "g1")]).collect()
    ) == [1, 3, 5, 7]
    # MoR delete then incremental re-export: DVs land beside partitions
    TX.delete_where_mor(spark, root, "k IN (2, 5)")
    export_delta(root)
    export_iceberg(root)
    left = [k for k in range(8) if k not in (2, 5)]
    assert sorted(r.k for r in read_delta(spark, root).collect()) == left
    assert sorted(r.k for r in read_iceberg(spark, root).collect()) == left
    # a null and a URL-quoted partition value keep their values through
    # the txlog sidecar, both exports' partition values and the
    # txlogstream constants
    import json

    from kafka_connect_expand_json_transform_spark.sources import avro_codec
    from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
        _read_metadata,
    )

    odd = "a b/c%=d"
    root = str(tmp_path / "podd")
    want = {(0, odd), (1, None), (2, "g")}
    TX.append_table(
        spark.createDataFrame(sorted(want, key=str), "k bigint, g string"),
        root, partition_by=["g"],
    )
    (entry,) = TX._list_entries(root)
    assert {tuple(st.get("g", [None, None])) for st in entry["stats"].values()} \
        == {(odd, odd), (None, None), ("g", "g")}
    assert export_delta(root) == 0 and export_iceberg(root) == 1
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json")) as fh:
        adds = [json.loads(x)["add"] for x in fh if '"add"' in x]
    assert {a["partitionValues"]["g"] for a in adds} == {odd, None, "g"}
    (snap,) = _read_metadata(root)["snapshots"]
    assert {
        e["data_file"]["partition"]["g"]
        for m in avro_codec.read_container(snap["manifest-list"].removeprefix("file://"))
        for e in avro_codec.read_container(m["manifest_path"].removeprefix("file://"))
    } == {odd, None, "g"}
    stream = TX._TxLogStream({"path": root}, TX._TxLogStream.read_schema({"path": root}))
    tasks = stream.changes(stream.initial_offset(), stream.latest_offset())
    assert {t.constants["g"] for t in tasks} == {odd, None, "g"}
    # both exports read back the escaped value (Spark percent-encodes
    # _metadata.file_path and leaves '+' as is), also after a MoR delete
    # on the escaped partition turns into Delta DVs and Iceberg position
    # deletes
    assert {(r.k, r.g) for r in read_delta(spark, root).collect()} == want
    assert {(r.k, r.g) for r in read_iceberg(spark, root).collect()} == want
    TX.delete_where_mor(spark, root, "k = 0")
    export_delta(root)
    export_iceberg(root)
    want = {(1, None), (2, "g")}
    assert {(r.k, r.g) for r in read_delta(spark, root).collect()} == want
    assert {(r.k, r.g) for r in read_iceberg(spark, root).collect()} == want
    TX.append_table(spark.createDataFrame([(3, "x+y")], "k bigint, g string"), root)
    export_delta(root)
    export_iceberg(root)
    want |= {(3, "x+y")}
    assert {(r.k, r.g) for r in read_delta(spark, root).collect()} == want
    assert {(r.k, r.g) for r in read_iceberg(spark, root).collect()} == want
    assert [r.k for r in read_delta(spark, root, where=[("g", "=", "x+y")]).collect()] == [3]
    assert [r.k for r in read_iceberg(spark, root, where=[("g", "=", "x+y")]).collect()] == [3]


def test_export_iceberg_and_read_back(spark, tmp_path):
    from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
        read_iceberg,
    )
    from kafka_connect_expand_json_transform_spark.sources.uniform import (
        export_iceberg,
    )

    root = _seed(spark, tmp_path, "ice")
    assert export_iceberg(root) == 1
    native = {(r.k, r.v, r.x) for r in TX.read_table(spark, root).collect()}
    assert {(r.k, r.v, r.x) for r in read_iceberg(spark, root).collect()} == native
    # CoW DML then incremental export -> a second snapshot
    TX.delete_where(spark, root, "k >= 15")
    assert export_iceberg(root) == 2
    assert sorted(r.k for r in read_iceberg(spark, root).collect()) == list(range(15))
    # Iceberg time travel back to the pre-delete snapshot
    assert read_iceberg(spark, root, snapshot_id=1).count() == 20
    # no change -> same snapshot id
    assert export_iceberg(root) == 2


def test_export_commit_claim_is_atomic(spark, tmp_path, monkeypatch):
    # ADVICE r7 #4: the version file is created once (_commit.publish) — a
    # loser whose state read raced a winner's commit gets TxLogConflict
    # and NEVER clobbers the winner (the old exists-check + os.replace
    # was a TOCTOU race where both passed the check).
    from kafka_connect_expand_json_transform_spark.sources import uniform as U

    root = _seed(spark, tmp_path, "race")
    assert export_delta(root) == 0  # the winner commits version 0
    marker = os.path.join(root, "_delta_log", f"{0:020d}.json")
    with open(marker) as fh:
        winner = fh.read()
    # the loser computed its version from a PRE-commit view of the log
    monkeypatch.setattr(U, "_delta_replayed", lambda r: (None, set(), {}))
    with pytest.raises(TX.TxLogConflict):
        U.export_delta(root)
    with open(marker) as fh:
        assert fh.read() == winner  # never overwritten

    from kafka_connect_expand_json_transform_spark.sources.uniform import (
        export_iceberg,
    )

    assert export_iceberg(root) == 1  # winner writes v1.metadata.json
    imarker = os.path.join(root, "metadata", "v1.metadata.json")
    with open(imarker) as fh:
        iwinner = fh.read()
    # loser's stale view: no previous metadata -> also targets v1
    monkeypatch.setattr(
        U.IR if hasattr(U, "IR") else __import__(
            "kafka_connect_expand_json_transform_spark.sources.iceberg_reader",
            fromlist=["_metadata_head"],
        ),
        "_metadata_head",
        lambda r: (_ for _ in ()).throw(FileNotFoundError(r)),
    )
    with pytest.raises(TX.TxLogConflict):
        U.export_iceberg(root)
    with open(imarker) as fh:
        assert fh.read() == iwinner


def test_expire_iceberg_snapshots(spark, tmp_path):
    # r9: exported-tree maintenance — expired snapshots' manifest lists,
    # manifests, and uniform delete files are removed; DATA files are
    # txlog-owned and never touched; current snapshot keeps reading
    from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
        read_iceberg,
    )
    from kafka_connect_expand_json_transform_spark.sources.uniform import (
        expire_iceberg_snapshots,
        export_iceberg,
    )

    root = _seed(spark, tmp_path, "exp")
    assert export_iceberg(root) == 1
    TX.delete_where(spark, root, "k >= 15")
    assert export_iceberg(root) == 2
    TX.delete_where(spark, root, "k >= 10")
    assert export_iceberg(root) == 3

    n_data = len([1 for _dir, _d, names in os.walk(root)
                  for n in names if n.endswith(".parquet")
                  and "metadata" not in _dir])
    removed = expire_iceberg_snapshots(root, keep_last=1)
    assert removed and all(r.startswith("metadata/") for r in removed)
    # current snapshot still reads; expired ones are gone
    assert sorted(r.k for r in read_iceberg(spark, root).collect()) \
        == list(range(10))
    with pytest.raises(ValueError, match="not in table metadata"):
        read_iceberg(spark, root, snapshot_id=1).collect()
    # data files untouched
    n_data2 = len([1 for _dir, _d, names in os.walk(root)
                   for n in names if n.endswith(".parquet")
                   and "metadata" not in _dir])
    assert n_data2 == n_data
    # the current snapshot can never be expired
    with pytest.raises(ValueError, match="keep_last"):
        expire_iceberg_snapshots(root, keep_last=0)
    # nothing more to expire
    assert expire_iceberg_snapshots(root, keep_last=1) == []
