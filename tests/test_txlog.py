"""Txlog table-format semantics: versioned snapshots, time travel, schema
enforcement, optimistic-concurrency conflicts, atomic commit layout."""

import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from kafka_connect_expand_json_transform_spark.sources import _commit, txlog
from kafka_connect_expand_json_transform_spark.streaming import run_stream


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )


def test_append_versions_and_time_travel(spark, tmp_path):
    root = str(tmp_path / "t")
    v0 = txlog.append_table(_df(spark, 0, 10), root)
    v1 = txlog.append_table(_df(spark, 10, 30), root)
    assert (v0, v1) == (0, 1)
    assert txlog.read_table(spark, root).count() == 30
    assert txlog.read_table(spark, root, version=0).count() == 10
    assert txlog.latest_version(root) == 1
    assert [h["op"] for h in txlog.history(root)] == ["append", "append"]
    # empty Spark partitions, the first among them, commit no zero-row
    # file, and the sidecar lists every file the commit holds
    import glob

    import pyarrow.parquet as pq

    sparse = spark.range(30, 40, numPartitions=4).where("id >= 35").select(
        "id", (F.col("id") * 2).alias("v")
    )
    txlog.append_table(sparse, root)
    entry = txlog._list_entries(root)[-1]
    rows = {
        os.path.relpath(f, root): pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(root, entry["files"][0], "*.parquet"))
    }
    assert set(rows) == set(entry["stats"]) and all(rows.values())
    assert sum(rows.values()) == sparse.count() == 5


def test_overwrite_resets_file_set(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append_table(_df(spark, 0, 10), root)
    txlog.append_table(_df(spark, 10, 20), root)
    txlog.overwrite_table(_df(spark, 100, 105), root)
    assert txlog.read_table(spark, root).count() == 5
    # history is preserved: the pre-overwrite snapshot still reads fully
    assert txlog.read_table(spark, root, version=1).count() == 20


def test_append_schema_enforced_overwrite_may_change(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append_table(_df(spark, 0, 5), root)
    other = spark.range(5).select(F.col("id").cast("string").alias("s"))
    with pytest.raises(txlog.TxLogSchemaMismatch):
        txlog.append_table(other, root)
    txlog.overwrite_table(other, root)  # overwrite may evolve the schema
    assert txlog.read_table(spark, root).columns == ["s"]


def test_optimistic_concurrency_conflict(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append_table(_df(spark, 0, 5), root)
    # writer A read at version 0; writer B commits version 1 first
    txlog.append_table(_df(spark, 5, 10), root)
    with pytest.raises(txlog.TxLogConflict):
        txlog.append_table(_df(spark, 10, 15), root, expected_version=0)
    # raced claim on the same version number also conflicts
    claim = os.path.join(root, "_log", "00000002.json")
    os.close(os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    with pytest.raises(txlog.TxLogConflict):
        txlog.append_table(_df(spark, 10, 15), root)


def test_reading_future_or_missing_table_raises(spark, tmp_path):
    root = str(tmp_path / "t")
    with pytest.raises(FileNotFoundError):
        txlog.read_table(spark, root)
    txlog.append_table(_df(spark, 0, 5), root)
    with pytest.raises(ValueError):
        txlog.read_table(spark, root, version=7)
    # a root holding glob syntax is refused at the first commit: Spark's
    # parquet reader would expand it, so the table could never be read
    bad = str(tmp_path / "f5['g']{x}")
    with pytest.raises(ValueError, match=r"\[\]\{\}\*\?\\"):
        txlog.append_table(_df(spark, 0, 5), bad)
    assert txlog.latest_version(bad) is None


def test_snapshot_scan_keeps_pushdown(spark, tmp_path):
    """The snapshot is a plain parquet scan: predicate pushdown survives."""
    root = str(tmp_path / "t")
    txlog.append_table(_df(spark, 0, 1000), root)
    df = txlog.read_table(spark, root).where(F.col("id") < 10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "LessThan(id,10)" in plan


def test_foreach_batch_sink_exactly_once_across_restart(spark, tmp_path):
    """availableNow stream into the txlog sink, restarted after more input
    arrives: every input row lands once; a REPLAYED batch id is skipped."""
    import json as _json

    src = tmp_path / "in"
    src.mkdir()
    root = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    schema = "id INT, v INT"

    def write_input(name, rows):
        (src / name).write_text(
            "\n".join(_json.dumps({"id": i, "v": i * 2}) for i in rows)
        )

    def run_once():
        stream = spark.readStream.schema(schema).json(str(src))
        run_stream(
            stream.writeStream.foreachBatch(txlog.foreach_batch_sink(root))
            .option("checkpointLocation", ckpt)
        )

    write_input("b0.json", range(5))
    run_once()
    assert txlog.read_table(spark, root).count() == 5
    write_input("b1.json", range(5, 12))
    run_once()
    assert txlog.read_table(spark, root).count() == 12
    # simulate a crash-replay of the LAST batch: calling the sink again
    # with an already-committed batch id must be a no-op
    last = txlog.read_table(spark, root)
    sink = txlog.foreach_batch_sink(root)
    replay_df = spark.createDataFrame([(99, 198)], "id INT, v INT")
    committed_ids = [
        e.get("batch_id")
        for e in txlog._list_entries(root)
        if e.get("batch_id") is not None
    ]
    sink(replay_df, committed_ids[-1])
    assert txlog.read_table(spark, root).count() == last.count()


def _chunk_encodings(root):
    """{(file relative to root, column path): (physical type, encodings)}
    for every column chunk of every parquet file under root."""
    import glob

    import pyarrow.parquet as pq

    out = {}
    for f in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True):
        if not os.path.isfile(f):
            continue
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                out[(os.path.relpath(f, root), col.path_in_schema)] = (
                    col.physical_type,
                    set(col.encodings),
                )
    return out


def test_sink_batches_skip_dictionaries_other_writes_keep_defaults(
    spark, tmp_path
):
    """Streaming sink batches (``foreach_batch_sink``,
    ``foreach_batch_wap_sink``) carry no dictionary-encoded column chunk
    and their 64-bit integers are DELTA_BINARY_PACKED (v2 pages).  Every
    other file txlog writes -- an append commit, a WAP commit and a
    merge-on-read MERGE's data, deletion-vector and change files -- keeps
    Spark's defaults: no delta encodings, dictionaries on."""
    from kafka_connect_expand_json_transform_spark.operators.expectations import (
        Expectation,
    )

    root = str(tmp_path / "t")

    def rows(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id", "CAST(id % 3 AS STRING) AS s", "CAST(id * 2 AS INT) AS v"
        )

    suite = [Expectation("v_nonneg", "predicate", params={"sql": "v >= 0"})]
    txlog.append_table(rows(0, 200), root)
    txlog.foreach_batch_sink(root)(rows(200, 400), batch_id=0)
    txlog.foreach_batch_wap_sink(root, suite)(rows(400, 600), batch_id=1)
    txlog.write_audit_publish(spark, rows(600, 800), root, [])
    txlog.merge_into_mor(
        spark, root, rows(150, 250).withColumn("v", F.col("v") + 1), ["id"]
    )
    sink_dirs = {
        f for e in txlog._list_entries(root) if "batch_id" in e for f in e["files"]
    }
    assert len(sink_dirs) == 2
    chunks = _chunk_encodings(root)
    sink = {k: v for k, v in chunks.items() if os.path.dirname(k[0]) in sink_dirs}
    other = {k: v for k, v in chunks.items() if k not in sink}
    assert {os.path.dirname(f) for f, _ in sink} == sink_dirs
    assert {f.split(os.sep)[0] for f, _ in other} == {"data", "_dv", "_changes"}
    dictionary = {"PLAIN_DICTIONARY", "RLE_DICTIONARY"}
    delta = {"DELTA_BINARY_PACKED", "DELTA_BYTE_ARRAY"}
    assert {k for k, (_, enc) in sink.items() if enc & dictionary} == set()
    assert {c for (_, c), (phys, _) in sink.items() if phys == "INT64"} == {"id"}
    assert {
        k
        for k, (phys, enc) in sink.items()
        if phys == "INT64" and "DELTA_BINARY_PACKED" not in enc
    } == set()
    assert {k for k, (_, enc) in other.items() if enc & delta} == set()
    low_card = {k: enc for k, (_, enc) in other.items() if k[1] in ("s", "file")}
    assert low_card and all(enc & dictionary for enc in low_card.values())
    assert txlog.read_table(spark, root).count() == 800


def test_sink_written_files_read_in_duckdb_with_stats(spark, tmp_path):
    """v2 pages stay readable outside Spark: DuckDB over the files of a
    sink-written table with a nested column agrees with ``read_table``,
    and the entry's stats sidecar still holds the flat columns' min/max
    (read from the v2 footers)."""
    import glob

    import duckdb

    root = str(tmp_path / "t")
    sink = txlog.foreach_batch_sink(root)
    for b in range(2):
        sink(
            spark.range(b * 500, (b + 1) * 500).selectExpr(
                "id",
                "concat('u', id) AS name",
                "CAST(id AS DOUBLE) / 4 AS price",
                "array(named_struct('qty', CAST(id % 7 AS INT)),"
                " named_struct('qty', 1)) AS items",
            ).repartition(2),
            batch_id=b,
        )
    want = txlog.read_table(spark, root).selectExpr(
        "count(*) AS n",
        "sum(id) AS ids",
        "sum(aggregate(items, 0L, (a, x) -> a + x.qty)) AS qty",
    ).first()
    files = sorted(
        glob.glob(os.path.join(root, "data", "*.parquet", "*.parquet"))
    )
    got = duckdb.connect().execute(
        "SELECT count(*), sum(id), sum(list_sum(list_transform(items, x -> x.qty)))"
        " FROM read_parquet(?)",
        [files],
    ).fetchone()
    assert tuple(got) == (want["n"], want["ids"], want["qty"]) == (1000, 499500, 3997)
    for b, e in enumerate(txlog._list_entries(root)):
        stats = e["stats"]
        assert len(stats) == 2
        assert min(s["id"][0] for s in stats.values()) == b * 500
        assert max(s["id"][1] for s in stats.values()) == b * 500 + 499
        for s in stats.values():
            assert set(s) == {"id", "name", "price"}  # nested items skipped


def test_table_files_written_only_through_files_module():
    """Source scan: the table formats (txlog, Delta, Iceberg, Hudi and the
    uniform export) create no DataFrame writer; ``sources/_files.py``
    creates exactly one, in ``write``, and it writes parquet, so every
    table file goes through one place that sets its encoding.  The hive
    null-partition literal and footer ``.statistics`` reads appear only
    in ``_files.py`` across the package: one partition parser, one stats
    rule."""
    import ast
    import pathlib

    from kafka_connect_expand_json_transform_spark.sources import _files

    def writers(node):
        # ``df.write`` / ``df.writeTo(...)``; a CALLED ``.write(...)`` is a
        # file handle's
        called = {id(n.func) for n in ast.walk(node) if isinstance(n, ast.Call)}
        return [
            n
            for n in ast.walk(node)
            if isinstance(n, ast.Attribute)
            and (n.attr == "writeTo" or (n.attr == "write" and id(n) not in called))
        ]

    sources = pathlib.Path(_files.__file__).parent
    for name in ("txlog", "delta_writer", "iceberg_writer", "hudi_reader", "uniform"):
        assert writers(ast.parse((sources / f"{name}.py").read_text())) == [], name
    tree = ast.parse(pathlib.Path(_files.__file__).read_text())
    (fn,) = [n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "write"]
    assert len(writers(tree)) == len(writers(fn)) == 1
    assert [
        n
        for n in ast.walk(fn)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "parquet"
    ]
    found = set()
    for py in sources.parent.rglob("*.py"):
        for n in ast.walk(ast.parse(py.read_text())):
            if (isinstance(n, ast.Attribute) and n.attr == "statistics") or (
                isinstance(n, ast.Constant) and n.value == "__HIVE_DEFAULT_PARTITION__"
            ):
                found.add(py.relative_to(sources.parent).as_posix())
    assert found == {"sources/_files.py"}


def test_one_snapshot_and_one_scan():
    """Source scan: ``txlog._Snapshot`` is the only derivation of table
    state and ``txlog._scan`` the only reader of table data files.

    In ``sources/txlog.py`` only ``_Snapshot`` lists the log, and outside
    it a state key (files, vectors, schema, mapping, partitioning,
    sidecars) is read only off the ``entry`` a writer is building, or by
    ``history``, which reports each entry's own file count.  Only
    ``_scan`` anti-joins deletion vectors.  Parquet reads outside it are
    of files no snapshot holds yet or that are not table data, and each
    is named here: the vectors themselves (``_apply_dvs``), change files
    (``read_changes``, through ``_changes_path``), WAP staged files (the
    audit runs before the entry exists), and the indexed columns of the
    files a commit just wrote (``_build_part_blooms``).  The physical
    schema and the rename back go with those reads: ``_scan`` and the
    two WAP auditors.  Every other module reaches the txlog's private
    state only through ``_Snapshot``."""
    import ast
    import pathlib

    src = pathlib.Path(txlog.__file__)
    tree = ast.parse(src.read_text())
    state_keys = {
        "files", "dv_files", "dv_reset", "schema", "schema_json", "rename",
        "drop", "partition_by", "stats", "bloom",
    }
    allowed = {
        "_list_entries": {"_Snapshot"},
        "_apply_dvs": {"_scan"},
        "_phys_struct": {"_scan", "write_audit_publish", "foreach_batch_wap_sink"},
        "_select_logical": {"_scan", "write_audit_publish", "foreach_batch_wap_sink"},
        ".parquet": {
            "_scan", "_apply_dvs", "read_changes", "write_audit_publish",
            "foreach_batch_wap_sink", "_build_part_blooms",
        },
    }
    bad = []
    for top in tree.body:
        name = getattr(top, "name", None)
        for n in ast.walk(top):
            if isinstance(n, ast.Call):
                f = n.func
                callee = (
                    f.id if isinstance(f, ast.Name)
                    else "." + f.attr if isinstance(f, ast.Attribute) else None
                )
                if callee in allowed and name not in allowed[callee]:
                    bad.append((name, callee))
                if callee == ".parquet" and name == "read_changes":
                    assert [
                        a.func.id for a in n.args
                        if isinstance(a, ast.Call) and isinstance(a.func, ast.Name)
                    ] == ["_changes_path"]
                if (
                    callee == ".get"
                    and n.args
                    and isinstance(n.args[0], ast.Constant)
                    and n.args[0].value in state_keys
                    and name != "_Snapshot"
                    and not (isinstance(f.value, ast.Name) and f.value.id == "entry")
                ):
                    bad.append((name, n.args[0].value))
            if (
                isinstance(n, ast.Subscript)
                and isinstance(n.ctx, ast.Load)
                and isinstance(n.slice, ast.Constant)
                and n.slice.value in state_keys
                and name not in ("_Snapshot", "history")
                and not (isinstance(n.value, ast.Name) and n.value.id == "entry")
            ):
                bad.append((name, n.slice.value))
    assert bad == []
    # the rest of the package: txlog's private names are _Snapshot only
    for py in src.parent.parent.rglob("*.py"):
        if py == src:
            continue
        mod = ast.parse(py.read_text())
        aliases = {
            a.asname or a.name
            for n in ast.walk(mod)
            if isinstance(n, ast.ImportFrom)
            for a in n.names
            if a.name == "txlog"
        }
        for n in ast.walk(mod):
            if (
                isinstance(n, ast.Attribute)
                and isinstance(n.value, ast.Name)
                and n.value.id in aliases
                and n.attr.startswith("_")
            ):
                assert n.attr == "_Snapshot", (py.name, n.attr)
            if isinstance(n, ast.ImportFrom) and (n.module or "").endswith(".txlog"):
                assert all(not a.name.startswith("_") for a in n.names), py.name



def test_one_commit_primitive():
    """Source scan: every log and metadata commit of txlog, Delta,
    Iceberg, Hudi and ``uniform`` goes through ``sources/_commit.py``
    (``publish`` for create-once entries, ``replace`` for mutable single
    files), so an installed ``CommitBackend`` sees every publish and no
    format hand-writes a claim.  Outside ``_commit.py`` no module
    uses ``O_EXCL`` or renames with ``os.replace``, and
    ``version-hint.text`` is named only in a ``replace`` call.  The one
    rename left is ``_files.stage`` moving a staged data file to the name
    its format chose: a data file is invisible until a published entry
    names it, so its move needs no atomic publish."""
    import ast
    import pathlib

    pkg = pathlib.Path(txlog.__file__).parent
    bad = []
    for mod in (
        "txlog", "delta_reader", "delta_writer", "iceberg_reader",
        "iceberg_writer", "hudi_reader", "uniform", "_files",
    ):
        tree = ast.parse((pkg / f"{mod}.py").read_text())
        in_replace = {
            id(c)
            for n in ast.walk(tree)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
            and n.func.id == "replace"
            for c in ast.walk(n)
        }
        for top in tree.body:
            for n in ast.walk(top):
                if isinstance(n, ast.Attribute) and n.attr == "O_EXCL":
                    bad.append((mod, "O_EXCL"))
                if (
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and isinstance(n.func.value, ast.Name)
                    and n.func.value.id == "os"
                    and n.func.attr in ("replace", "rename")
                    and (mod, getattr(top, "name", None)) != ("_files", "stage")
                ):
                    bad.append((mod, "os." + n.func.attr))
                if (
                    isinstance(n, ast.Constant)
                    and n.value == "version-hint.text"
                    and id(n) not in in_replace
                ):
                    bad.append((mod, "version-hint.text"))
    assert bad == []

def test_txlog_cdc_apply_roundtrip(spark, tmp_path):
    """MERGE-style CDC apply onto a txlog table: upserts + deletes land as
    one overwrite commit; the pre-merge snapshot stays time-travelable."""
    from kafka_connect_expand_json_transform_spark.operators.relational import (
        merge_upsert,
    )

    root = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id INT, s STRING"
    )
    txlog.append_table(base, root)
    changes = spark.createDataFrame(
        [(2, "B", "U", 1), (4, "d", "I", 2), (3, None, "D", 3)],
        "id INT, s STRING, op STRING, seq INT",
    )
    snap = txlog.read_table(spark, root)
    merged = merge_upsert(snap, changes, key_cols="id", order_col="seq").select(
        "id", "s"
    )
    txlog.overwrite_table(merged, root)
    got = {
        (r["id"], r["s"]) for r in txlog.read_table(spark, root).collect()
    }
    assert got == {(1, "a"), (2, "B"), (4, "d")}
    # version 0 still reads the pre-merge state
    assert txlog.read_table(spark, root, version=0).count() == 3


def test_checkpoint_read_equals_full_replay(spark, tmp_path):
    """read_table_from_checkpoint must equal read_table at every version,
    with and without commits after the checkpoint."""
    root = str(tmp_path / "t")
    txlog.append_table(_df(spark, 0, 10), root)
    txlog.append_table(_df(spark, 10, 20), root)
    cp_v = txlog.checkpoint_log(root)
    assert cp_v == 1
    txlog.append_table(_df(spark, 20, 25), root)  # post-checkpoint commit
    txlog.overwrite_table(_df(spark, 100, 103), root)
    for v in (0, 1, 2, 3, None):
        a = txlog.read_table(spark, root, version=v).count()
        b = txlog.read_table_from_checkpoint(spark, root, version=v).count()
        assert a == b, (v, a, b)
    # deletion vectors after the checkpoint apply too
    dv = str(tmp_path / "dv")
    txlog.append_table(_df(spark, 0, 100), dv)
    txlog.checkpoint_log(dv)
    txlog.delete_where_mor(spark, dv, "id < 10")
    assert txlog.read_table_from_checkpoint(spark, dv).count() == 90
    # a hive-partitioned table with two commits reads per data dir
    pt = str(tmp_path / "pt")
    for g in ("a", "b"):
        txlog.append_table(
            _df(spark, 0, 10).withColumn("g", F.lit(g)), pt,
            partition_by=["g"] if g == "a" else None,
        )
    txlog.checkpoint_log(pt)
    assert txlog.read_table_from_checkpoint(spark, pt).count() == 20


def test_vacuum_deletes_unreferenced_and_sets_floor(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.append_table(_df(spark, 0, 10), root)      # v0
    txlog.overwrite_table(_df(spark, 50, 55), root)  # v1: v0's file unreferenced
    txlog.append_table(_df(spark, 55, 58), root)     # v2
    # retention_seconds=0: single-writer test, files are seconds old
    out = txlog.vacuum(root, retain_versions=2, retention_seconds=0.0)
    assert out["floor"] == 1 and out["deleted"] == 1
    assert txlog.read_table(spark, root).count() == 8
    assert txlog.read_table(spark, root, version=1).count() == 5
    with pytest.raises(ValueError):
        txlog.read_table(spark, root, version=0)  # below the floor


def test_stream_source_reads_only_committed_versions(spark, tmp_path):
    """The txlogstream source sees committed versions only: an orphan
    parquet directory in data/ (in-flight writer) contributes nothing, and
    a second run after a new commit picks up exactly the delta."""
    root = str(tmp_path / "t")
    txlog.append_table(_df(spark, 0, 10), root)
    # orphan data files: written but never committed (crashed writer)
    _df(spark, 900, 950).write.parquet(
        os.path.join(root, "data", "orphan.parquet")
    )
    txlog.register_stream_source(spark)

    out = str(tmp_path / "out")

    def drain():
        run_stream(
            spark.readStream.format("txlogstream")
            .option("path", root)
            .load()
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
        )
        return spark.read.parquet(out).count()

    assert drain() == 10  # orphan rows invisible
    txlog.append_table(_df(spark, 10, 17), root)
    # restart against the same checkpoint: only the new version arrives
    assert drain() == 17

    # a version streams only the files that were not live before it: the
    # merge (1 update + 1 insert) rewrites v1's dir and carries v0's dir
    # unrewritten, so only the rewritten 101 rows re-stream; the MoR
    # delete retracts and streams nothing
    carried = str(tmp_path / "carried")
    txlog.append_table(_df(spark, 0, 100), carried)
    txlog.append_table(_df(spark, 100, 200), carried)
    txlog.merge_into(spark, carried, _df(spark, 150, 151).union(_df(spark, 200, 201)), ["id"])
    v0_files = txlog._list_entries(carried)[0]["files"]
    assert set(v0_files) < set(txlog._list_entries(carried)[2]["files"])
    txlog.delete_where_mor(spark, carried, "id < 10")
    run_stream(
        spark.readStream.format("txlogstream")
        .option("path", carried)
        .load()
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", str(tmp_path / "carried_out"))
        .option("checkpointLocation", str(tmp_path / "carried_ckpt"))
    )
    assert spark.read.parquet(str(tmp_path / "carried_out")).count() == 301


def test_abandoned_claim_is_recovered_after_grace(spark, tmp_path):
    """Crash between the O_CREAT|O_EXCL claim and os.replace (VERDICT r03
    wrong#1): the zero-length claim at the next version's name must NOT
    wedge the table forever — once older than the grace period it is
    reclaimed and the commit succeeds.  Every format commits through
    ``_commit.publish``, so each gets the same crash state: a young claim
    is a conflict and invisible to reads, an aged one is reclaimed AT
    that version instead of being committed past."""
    from kafka_connect_expand_json_transform_spark.sources import (
        delta_reader,
        delta_writer,
        hudi_reader,
        iceberg_reader,
        iceberg_writer,
    )

    def age(path):
        old = os.stat(path).st_mtime - (_commit._CLAIM_GRACE_SECONDS + 1)
        os.utime(path, (old, old))

    t0, t1 = "20260101000000000", "20260101000000001"
    formats = {
        # name: (commit batch i, claim name, conflict, read, head)
        "delta": (
            lambda r, i: delta_writer.delta_append(_df(spark, 5 * i, 5 * i + 5), r),
            os.path.join("_delta_log", f"{1:020d}.json"),
            delta_writer.DeltaCommitConflict,
            lambda r: delta_reader.read_delta(spark, r).count(),
            lambda r: delta_reader._replay(r, None)[3],
        ),
        "iceberg": (
            lambda r, i: iceberg_writer.iceberg_append(_df(spark, 5 * i, 5 * i + 5), r),
            os.path.join("metadata", "v2.metadata.json"),
            iceberg_writer.IcebergCommitConflict,
            lambda r: iceberg_reader.read_iceberg(spark, r).count(),
            lambda r: iceberg_reader._metadata_head(r)[0],
        ),
        "hudi": (
            lambda r, i: hudi_reader.hudi_append(
                _df(spark, 5 * i, 5 * i + 5), r, "id", instant=(t0, t1)[i]
            ),
            os.path.join(".hoodie", f"{t1}.commit"),
            hudi_reader.HudiCommitConflict,
            lambda r: hudi_reader.read_hudi(spark, r).count(),
            lambda r: hudi_reader.hudi_timeline(r)[0]["instant"],
        ),
    }
    for name, (commit, claim_rel, conflict, count, head) in formats.items():
        fr = str(tmp_path / name)
        commit(fr, 0)
        before = head(fr)
        claim = os.path.join(fr, claim_rel)
        os.close(os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        with pytest.raises(conflict):
            commit(fr, 1)
        assert (count(fr), head(fr)) == (5, before), name
        age(claim)
        commit(fr, 1)
        assert count(fr) == 10, name
        assert os.path.getsize(claim) > 0, name  # reclaimed at that name
        assert head(fr) == {"delta": 1, "iceberg": 2, "hudi": t1}[name]

    root = str(tmp_path / "t")
    txlog.append_table(_df(spark, 0, 5), root)
    # simulate the crashed writer: claim v1's name, never publish content
    claim = os.path.join(root, "_log", "00000001.json")
    os.close(os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    # young claim: still a live writer's in-flight commit -> conflict
    with pytest.raises(txlog.TxLogConflict):
        txlog.append_table(_df(spark, 5, 10), root)
    # age the claim past the grace period (backdate mtime instead of sleeping)
    old = os.stat(claim).st_mtime - (_commit._CLAIM_GRACE_SECONDS + 1)
    os.utime(claim, (old, old))
    v = txlog.append_table(_df(spark, 5, 10), root)
    assert v == 1
    assert txlog.read_table(spark, root).count() == 10
    # and the table is NOT wedged for later commits either
    assert txlog.append_table(_df(spark, 10, 12), root) == 2
    # same recovery for the streaming sink's claim path
    claim2 = os.path.join(root, "_log", "00000003.json")
    os.close(os.open(claim2, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    old2 = os.stat(claim2).st_mtime - (_commit._CLAIM_GRACE_SECONDS + 1)
    os.utime(claim2, (old2, old2))
    txlog.foreach_batch_sink(root)(_df(spark, 12, 14), batch_id=7)
    assert txlog.latest_version(root) == 3
    assert txlog.read_table(spark, root).count() == 14


def test_vacuum_retention_spares_inflight_writer_data(spark, tmp_path):
    """Vacuum race (VERDICT r03 wrong#2): a concurrent writer's parquet is
    on disk BEFORE its log entry publishes (the documented commit order).
    Age-based retention must skip young unreferenced dirs so the in-flight
    commit's snapshot stays readable after it publishes."""
    root = str(tmp_path / "t")
    txlog.append_table(_df(spark, 0, 10), root)      # v0
    txlog.overwrite_table(_df(spark, 50, 55), root)  # v1: v0's file unreferenced
    # in-flight writer: data written, log entry not yet published
    inflight_rel = os.path.join("data", "inflight.parquet")
    _df(spark, 100, 107).write.parquet(os.path.join(root, inflight_rel))
    # make the genuinely-dead v0 file old; the in-flight dir stays young
    data_dir = os.path.join(root, "data")
    for n in os.listdir(data_dir):
        rel = os.path.join("data", n)
        if rel != inflight_rel:
            p = os.path.join(data_dir, n)
            old = os.stat(p).st_mtime - (txlog._VACUUM_RETENTION_SECONDS + 1)
            os.utime(p, (old, old))
    out = txlog.vacuum(root, retain_versions=1)
    # only v0's old unreferenced file is deleted; the young in-flight dir
    # survives the default retention guard
    assert out["deleted"] == 1
    assert os.path.isdir(os.path.join(root, inflight_rel))
    # the in-flight writer now publishes; its snapshot reads fully
    import json as _json
    entry = {
        "version": 2,
        "op": "append",
        "files": [inflight_rel],
        "schema": _df(spark, 0, 1).schema.simpleString(),
        "schema_json": _df(spark, 0, 1).schema.json(),
    }
    with open(os.path.join(root, "_log", "00000002.json"), "w") as f:
        _json.dump(entry, f)
    assert txlog.read_table(spark, root).count() == 12  # 5 + 7


def test_checkpoint_read_respects_vacuum_floor(spark, tmp_path):
    """read_table_from_checkpoint must raise the documented ValueError for
    a vacuumed version, same as read_table (VERDICT r03 wrong#2, :317) —
    not an opaque missing-parquet error."""
    root = str(tmp_path / "t")
    txlog.append_table(_df(spark, 0, 10), root)      # v0
    txlog.overwrite_table(_df(spark, 50, 55), root)  # v1
    txlog.checkpoint_log(root)
    txlog.vacuum(root, retain_versions=1, retention_seconds=0.0)
    with pytest.raises(ValueError, match="vacuumed"):
        txlog.read_table_from_checkpoint(spark, root, version=0)
    # reads at/above the floor still work through the checkpoint path
    assert txlog.read_table_from_checkpoint(spark, root, version=1).count() == 5
    assert txlog.read_table_from_checkpoint(spark, root).count() == 5


def test_erasure_requires_vacuum_past_the_floor(spark, tmp_path):
    """GDPR-style deletion semantics, documented by test: an overwrite
    commit removes a user's rows from the CURRENT snapshot, but the data
    survives in historical versions until vacuum moves the floor past
    them and deletes the unreferenced files — 'delete' in a versioned
    table is a two-step contract."""
    root = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "keep"), (2, "erase-me"), (3, "keep")], "id INT, s STRING"
    )
    txlog.append_table(base, root)
    txlog.overwrite_table(
        txlog.read_table(spark, root).where(F.col("id") != 2), root
    )
    # current snapshot is clean, but history still holds the row
    assert txlog.read_table(spark, root).count() == 2
    assert (
        txlog.read_table(spark, root, version=0)
        .where(F.col("id") == 2)
        .count()
        == 1
    )
    out = txlog.vacuum(root, retain_versions=1, retention_seconds=0.0)
    assert out["deleted"] == 1  # version 0's file is physically gone
    with pytest.raises(ValueError):
        txlog.read_table(spark, root, version=0)


def test_data_skipping_prunes_files_and_preserves_results(spark, tmp_path):
    """Footer-stats data skipping: disjoint-range appends give per-file
    min/max that prove non-overlap, skipping_report shows files pruned,
    and the pruned read is row-identical to the unpruned filtered read —
    including the all-pruned empty case (parquet-nullable schema)."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "t")
    for lo in (0, 1000, 2000):
        df = spark.range(lo, lo + 1000).select(
            F.col("id").alias("k"),
            F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
        ).coalesce(2)
        txlog.append_table(df, root)
    where = [("k", ">=", 1200), ("k", "<", 1800)]
    rep = txlog.skipping_report(root, where)
    assert rep["files_total"] == 6 and rep["files_read"] == 2, rep
    pruned = txlog.read_table_pruned(spark, root, where)
    plain = txlog.read_table(spark, root).where(
        (F.col("k") >= 1200) & (F.col("k") < 1800)
    )
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, plain.collect()))
    # stats prove emptiness -> zero files handed to Spark, schema still real
    assert txlog.skipping_report(root, [("k", ">", 10**6)])["files_read"] == 0
    empty = txlog.read_table_pruned(spark, root, [("k", ">", 10**6)])
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["k", "s"]
    # string-range predicate prunes too; type-mismatched literal never prunes
    assert txlog.skipping_report(root, [("s", "=", "zzz")])["files_read"] == 0
    assert txlog.skipping_report(root, [("k", "=", "not-an-int")])["files_read"] == 6
    # residual filter owns correctness: a predicate stats can't prove is applied
    assert txlog.read_table_pruned(spark, root, [("k", "=", 1500)]).count() == 1


@pytest.mark.parametrize("fmt", ["txlog", "delta"])
def test_skipping_keeps_rows_of_row_groups_without_min_max(spark, tmp_path, fmt):
    """A file of 4 row groups whose last ``s`` chunk holds a 5,000-char
    value: parquet-mr writes no min/max for that chunk, so ``s`` gets no
    range and a predicate on it never prunes the file.  ``n`` is null in
    the first two row groups, which keeps its range [200, 399]."""
    import glob
    import json

    import pyarrow.parquet as pq

    from kafka_connect_expand_json_transform_spark.sources import delta_writer
    from kafka_connect_expand_json_transform_spark.sources.delta_reader import read_delta

    root = str(tmp_path / "t")
    df = spark.range(400).select(
        "id",
        F.when(F.col("id") == 390, F.lit("z" * 5000))
        .otherwise(F.format_string("a%05d", "id"))
        .alias("s"),
        F.when(F.col("id") >= 200, F.col("id")).alias("n"),
    ).coalesce(1)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    old = conf.get("parquet.block.size")
    conf.set("parquet.block.size", "2048")
    try:
        if fmt == "txlog":
            txlog.append_table(df, root)
        else:
            delta_writer.delta_append(df, root)
    finally:
        if old is None:
            conf.unset("parquet.block.size")
        else:
            conf.set("parquet.block.size", old)
    (path,) = glob.glob(os.path.join(root, "**", "part-*.parquet"), recursive=True)
    assert pq.ParquetFile(path).metadata.num_row_groups == 4
    hint = [("s", ">=", "y")]
    if fmt == "txlog":
        (stats,) = txlog._list_entries(root)[0]["stats"].values()
        assert "s" not in stats and stats["n"] == [200, 399]
        assert txlog.skipping_report(root, [("n", "<", 100)])["files_read"] == 0
        assert txlog.read_table_pruned(spark, root, hint).count() == 1
        assert txlog.delete_where(spark, root, "s >= 'y'", prune_hint=hint) == (1, 1)
        assert txlog.read_table(spark, root).count() == 399
    else:
        with open(os.path.join(root, "_delta_log", f"{0:020d}.json")) as fh:
            (add,) = [json.loads(x)["add"] for x in fh if '"add"' in x]
        stats = json.loads(add["stats"])
        assert "s" not in stats["minValues"] and stats["minValues"]["n"] == 200
        assert read_delta(spark, root, where=hint).where("s >= 'y'").count() == 1
        assert delta_writer.delta_delete_where(spark, root, "s >= 'y'") == (1, 1)
        assert read_delta(spark, root).count() == 399


def test_compact_table_preserves_rows_and_time_travel(spark, tmp_path):
    from pyspark.sql import functions as F

    root = str(tmp_path / "c")
    for lo in (0, 500, 1000):
        txlog.append_table(
            spark.range(lo, lo + 500).select(F.col("id").alias("k")).coalesce(2),
            root,
        )
    before = sorted(r["k"] for r in txlog.read_table(spark, root).collect())
    v = txlog.compact_table(spark, root, target_files=1)
    assert v == 3
    h = txlog.history(root)
    assert h[-1]["op"] == "overwrite"
    after = sorted(r["k"] for r in txlog.read_table(spark, root).collect())
    assert after == before
    # compacted snapshot is one part file
    import glob, os
    latest_dir = txlog._list_entries(root)[-1]["files"][0]
    assert len(glob.glob(os.path.join(root, latest_dir, "*.parquet"))) == 1
    # pre-compaction versions stay readable
    assert txlog.read_table(spark, root, version=1).count() == 1000
    # data skipping still works on the compacted table (stats recorded)
    rep = txlog.skipping_report(root, [("k", "<", 100)])
    assert rep["files_total"] == 1 and rep["files_read"] == 1


def test_delete_where_copy_on_write(spark, tmp_path):
    from pyspark.sql import functions as F

    root = str(tmp_path / "d")
    txlog.append_table(
        spark.range(100).select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 10 == 0, F.lit(None).cast("int"))
            .otherwise((F.col("id") % 3).cast("int")).alias("grp"),
        ),
        root,
    )
    # grp=1 rows: id%3==1 (33 ids) minus the id%10==0 NULL overrides (3)
    v, n = txlog.delete_where(spark, root, "grp = 1")
    assert v == 1 and n == 30
    kept = txlog.read_table(spark, root)
    assert kept.count() == 70
    assert kept.where(F.col("grp") == 1).count() == 0
    # NULL-predicate rows are never deleted (three-valued logic: keep)
    assert kept.where(F.col("grp").isNull()).count() == 10
    # time travel still sees the pre-delete snapshot until vacuum
    assert txlog.read_table(spark, root, version=0).count() == 100
    # SQL-string and Column predicates agree
    v2, n2 = txlog.delete_where(spark, root, F.col("k") < 5)
    assert n2 == txlog.read_table(spark, root, version=1).where("k < 5").count()


def test_update_where_copy_on_write(spark, tmp_path):
    from pyspark.sql import functions as F

    root = str(tmp_path / "u")
    txlog.append_table(
        spark.range(50).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ),
        root,
    )
    v, n = txlog.update_where(spark, root, "k >= 40", {"v": "v + 1"})
    assert v == 1 and n == 10
    got = {r["k"]: r["v"] for r in txlog.read_table(spark, root).collect()}
    assert got[40] == 401 and got[39] == 390 and len(got) == 50
    # schema preserved (cast back to the column's type), history is overwrite
    assert txlog.read_table(spark, root).schema == txlog.read_table(
        spark, root, version=0
    ).schema
    assert txlog.history(root)[-1]["op"] == "overwrite"
    with pytest.raises(ValueError, match="unknown column"):
        txlog.update_where(spark, root, "k = 1", {"nope": "1"})


def test_merge_into_all_three_clauses(spark, tmp_path):
    root = str(tmp_path / "m")
    txlog.append_table(
        spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v")),
        root,
    )
    # updates k=0..2 (v -> k*100), tombstone k=3, inserts k=20..21
    src = spark.createDataFrame(
        [(0, 0, False), (1, 100, False), (2, 200, False),
         (3, None, True), (20, 2000, False), (21, 2100, False)],
        "k long, v long, is_delete boolean",
    )
    version, stats = txlog.merge_into(
        spark, root, src, ["k"], delete_when="s.is_delete"
    )
    assert version == 1
    assert stats == {"inserted": 2, "updated": 3, "deleted": 1}
    got = {r["k"]: r["v"] for r in txlog.read_table(spark, root).collect()}
    assert got[0] == 0 and got[1] == 100 and got[2] == 200  # updated
    assert 3 not in got  # deleted
    assert got[20] == 2000 and got[21] == 2100  # inserted
    assert got[9] == 90 and len(got) == 11  # target-only kept
    # pre-merge snapshot still time-travels
    assert txlog.read_table(spark, root, version=0).count() == 10
    # extra source-only column (is_delete) never leaks into the target schema
    assert txlog.read_table(spark, root).columns == ["k", "v"]


def test_merge_into_update_dict_and_insert_false(spark, tmp_path):
    root = str(tmp_path / "m2")
    txlog.append_table(
        spark.range(5).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v")),
        root,
    )
    src = spark.createDataFrame([(1, 7), (99, 7)], "k long, delta long")
    # dict assignments may reference BOTH namespaces; unmatched source dropped
    _, stats = txlog.merge_into(
        spark, root, src, ["k"], update={"v": "t.v + s.delta"}, insert=False
    )
    assert stats == {"inserted": 0, "updated": 1, "deleted": 0}
    got = {r["k"]: r["v"] for r in txlog.read_table(spark, root).collect()}
    assert got[1] == 17 and got[2] == 20 and len(got) == 5

    # update=None keeps matched target rows byte-identical (insert-only merge)
    src2 = spark.createDataFrame([(1, 1111), (50, 500)], "k long, v long")
    _, stats2 = txlog.merge_into(spark, root, src2, ["k"], update=None)
    assert stats2 == {"inserted": 1, "updated": 0, "deleted": 0}
    got2 = {r["k"]: r["v"] for r in txlog.read_table(spark, root).collect()}
    assert got2[1] == 17 and got2[50] == 500


def test_merge_into_guards(spark, tmp_path):
    root = str(tmp_path / "m3")
    txlog.append_table(
        spark.range(3).select(F.col("id").alias("k"), F.col("id").alias("v")), root
    )
    dup = spark.createDataFrame([(1, 1), (1, 2)], "k long, v long")
    with pytest.raises(ValueError, match="duplicate merge keys"):
        txlog.merge_into(spark, root, dup, ["k"])
    with pytest.raises(ValueError, match="missing from target or source"):
        txlog.merge_into(
            spark, root, spark.createDataFrame([(1,)], "z long"), ["z"]
        )
    with pytest.raises(ValueError, match="unknown column"):
        txlog.merge_into(
            spark,
            root,
            spark.createDataFrame([(1, 1)], "k long, v long"),
            ["k"],
            update={"nope": "1"},
        )
    # NULL delete_when means keep-and-update (three-valued logic)
    src = spark.createDataFrame(
        [(1, 42, None)], "k long, v long, flag boolean"
    )
    _, stats = txlog.merge_into(spark, root, src, ["k"], delete_when="s.flag")
    assert stats == {"inserted": 0, "updated": 1, "deleted": 0}
    assert {r["k"]: r["v"] for r in txlog.read_table(spark, root).collect()}[1] == 42


def test_merge_into_loses_to_concurrent_commit(spark, tmp_path):
    """merge_into's concurrency claim: the CoW rewrite commits with
    expected_version, so a writer landing mid-merge wins and the merge
    raises TxLogConflict instead of silently dropping the winner's rows."""
    import unittest.mock as mock

    root = str(tmp_path / "mc")
    txlog.append_table(
        spark.range(5).select(F.col("id").alias("k"), F.lit(1).alias("v")), root
    )
    src = spark.createDataFrame([(1, 9)], "k long, v int")

    real_overwrite = txlog.overwrite_table

    def racing_overwrite(df, r, expected_version=None, **kw):
        # a concurrent writer publishes between the merge's read and commit
        txlog.append_table(
            spark.createDataFrame([(100, 1)], "k long, v int"), r
        )
        return real_overwrite(df, r, expected_version=expected_version, **kw)

    with mock.patch.object(txlog, "overwrite_table", racing_overwrite):
        with pytest.raises(txlog.TxLogConflict):
            txlog.merge_into(spark, root, src, ["k"])
    # the winner's row survives; the merge's rewrite never landed
    got = {r["k"]: r["v"] for r in txlog.read_table(spark, root).collect()}
    assert got[100] == 1 and got[1] == 1 and len(got) == 6


def test_read_changes_append_and_overwrite_paths(spark, tmp_path):
    root = str(tmp_path / "cdf")
    txlog.append_table(
        spark.range(4).select(F.col("id").alias("k"), F.lit(1).alias("v")), root
    )
    txlog.append_table(
        spark.createDataFrame([(10, 1)], "k long, v int"), root
    )  # v1: append -> pure inserts, read from the commit's own files
    txlog.delete_where(spark, root, "k = 0")  # v2: overwrite diff
    txlog.update_where(spark, root, "k = 1", {"v": "v + 5"})  # v3: pre+post pair

    ch = txlog.read_changes(spark, root, 0).collect()
    got = sorted((r["_commit_version"], r["_change_type"], r["k"], r["v"]) for r in ch)
    assert got == [
        (1, "insert", 10, 1),
        (2, "delete", 0, 1),
        (3, "delete", 1, 1),
        (3, "insert", 1, 6),
    ]
    # sub-range (1, 2]: only the delete
    sub = txlog.read_changes(spark, root, 1, 2).collect()
    assert [(r["_change_type"], r["k"]) for r in sub] == [("delete", 0)]
    # empty range (3, 3] -> zero rows, schema intact
    empty = txlog.read_changes(spark, root, 3, 3)
    assert empty.count() == 0
    assert set(empty.columns) == {"k", "v", "_change_type", "_commit_version"}
    with pytest.raises(ValueError, match="bad change range"):
        txlog.read_changes(spark, root, 2, 99)
    # compaction produces NO change rows (identical multiset before/after)
    txlog.compact_table(spark, root)
    assert txlog.read_changes(spark, root, 3, 4).count() == 0


def test_read_changes_respects_vacuum_floor(spark, tmp_path):
    root = str(tmp_path / "cdfv")
    for lo in (0, 5, 10):
        txlog.append_table(_df(spark, lo, lo + 5), root)
    txlog.checkpoint_log(root)
    txlog.vacuum(root, retain_versions=1, retention_seconds=0)
    with pytest.raises(ValueError, match="vacuumed"):
        txlog.read_changes(spark, root, 0)


def test_restore_table_recommits_old_snapshot(spark, tmp_path):
    root = str(tmp_path / "rst")
    txlog.append_table(_df(spark, 0, 5), root)  # v0
    txlog.append_table(_df(spark, 5, 9), root)  # v1
    txlog.delete_where(spark, root, "id < 3")  # v2
    v = txlog.restore_table(spark, root, 0)
    assert v == 3
    got = sorted(r["id"] for r in txlog.read_table(spark, root).collect())
    assert got == [0, 1, 2, 3, 4]  # v0's exact rows
    # history preserved: the restored-over v2 still time-travels
    assert txlog.read_table(spark, root, version=2).count() == 6
    # the restore shows in the change feed as the snapshot diff
    ch = txlog.read_changes(spark, root, 2, 3)
    types = {r["_change_type"] for r in ch.collect()}
    assert types == {"insert", "delete"}
    with pytest.raises(ValueError):
        txlog.restore_table(spark, root, 99)


def test_merge_into_composite_keys(spark, tmp_path):
    root = str(tmp_path / "mk")
    txlog.append_table(
        spark.createDataFrame(
            [(1, "a", 10), (1, "b", 20), (2, "a", 30)], "k1 long, k2 string, v long"
        ),
        root,
    )
    src = spark.createDataFrame(
        [(1, "a", 100), (2, "b", 200)], "k1 long, k2 string, v long"
    )
    _, stats = txlog.merge_into(spark, root, src, ["k1", "k2"])
    assert stats == {"inserted": 1, "updated": 1, "deleted": 0}
    got = {(r["k1"], r["k2"]): r["v"] for r in txlog.read_table(spark, root).collect()}
    assert got == {(1, "a"): 100, (1, "b"): 20, (2, "a"): 30, (2, "b"): 200}


def test_merge_capture_equals_diff_fallback(spark, tmp_path):
    """Write-time change capture must be byte-identical to the snapshot-diff
    fallback — including excluding no-op updates — and a missing change file
    (crash between commit and capture) heals via the diff path."""
    import os as _os
    import shutil as _shutil

    root = str(tmp_path / "cap")
    txlog.append_table(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "k long, v long"
        ),
        root,
    )
    # update k=1 (real change), k=2 (NO-OP: same value), delete k=3, insert k=9
    src = spark.createDataFrame(
        [(1, 11, False), (2, 20, False), (3, None, True), (9, 90, False)],
        "k long, v long, is_delete boolean",
    )
    version, _ = txlog.merge_into(spark, root, src, ["k"], delete_when="s.is_delete")
    cpath = txlog._changes_path(root, version)
    assert _os.path.isdir(cpath)

    def feed():
        return sorted(
            (r["_change_type"], r["k"], r["v"])
            for r in txlog.read_changes(spark, root, 0).collect()
        )

    captured = feed()
    # no-op update on k=2 must NOT appear on either path
    assert captured == [
        ("delete", 1, 10),
        ("delete", 3, 30),
        ("insert", 1, 11),
        ("insert", 9, 90),
    ]
    _shutil.rmtree(cpath)  # simulate the crash-before-capture window
    assert feed() == captured  # diff fallback, identical rows

    # vacuum reclaims change files below the floor
    version2, _ = txlog.merge_into(
        spark, root, spark.createDataFrame([(1, 12)], "k long, v long"), ["k"]
    )
    txlog.checkpoint_log(root)
    txlog.vacuum(root, retain_versions=1, retention_seconds=0)
    assert not _os.path.isdir(txlog._changes_path(root, version2 - 1))


def test_merge_update_may_not_assign_keys(spark, tmp_path):
    root = str(tmp_path / "keyas")
    txlog.append_table(
        spark.createDataFrame([(1, 10)], "k long, v long"), root
    )
    src = spark.createDataFrame([(1, 99)], "k long, v long")
    with pytest.raises(ValueError, match="may not assign key column"):
        txlog.merge_into(spark, root, src, ["k"], update={"k": "s.k + 1"})


def test_cdf_stream_source_streams_captured_changes(spark, tmp_path):
    """txlogcdf streams append versions as inserts and merge versions from
    their captured change files; an uncaptured overwrite fails loudly."""
    root = str(tmp_path / "cdfs")
    txlog.append_table(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"), root
    )
    txlog.merge_into(
        spark,
        root,
        spark.createDataFrame([(1, 11, False), (2, None, True), (9, 90, False)],
                              "k long, v long, is_delete boolean"),
        ["k"],
        delete_when="s.is_delete",
    )
    txlog.register_cdf_stream_source(spark)
    run_stream(
        spark.readStream.format("txlogcdf")
        .option("path", root)
        .load()
        .writeStream.format("memory")
        .queryName("sg_cdf_test")
        .outputMode("append")
    )
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in spark.table("sg_cdf_test").collect()
    )
    assert got == [
        (0, "insert", 1, 10),
        (0, "insert", 2, 20),
        (1, "delete", 1, 10),
        (1, "delete", 2, 20),
        (1, "insert", 1, 11),
        (1, "insert", 9, 90),
    ]
    # matches the batch feed exactly over the shared range (0, latest]
    batch = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in txlog.read_changes(spark, root, 0).collect()
    )
    assert [g for g in got if g[0] >= 1] == batch

    # an overwrite WITHOUT captured changes must fail the stream, not drop rows
    txlog.compact_table(spark, root)
    with pytest.raises(StreamingQueryException, match="no captured change"):
        run_stream(
            spark.readStream.format("txlogcdf")
            .option("path", root)
            .load()
            .writeStream.format("memory")
            .queryName("sg_cdf_test2")
            .outputMode("append")
        )


def test_merge_prunes_untouched_files(spark, tmp_path):
    """File-pruned MERGE: data dirs provably outside the source key range
    are carried into the new version UNREWRITTEN (same rel path in the new
    entry), results identical to the full rewrite."""
    root = str(tmp_path / "mp")
    # three key-range commits (like a partitioned ingest)
    for lo in (0, 100, 200):
        txlog.append_table(
            spark.range(lo, lo + 50).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            ),
            root,
        )
    pre_files = set(txlog._list_entries(root)[-1]["files"])
    all_files = [f for e in txlog._list_entries(root) for f in e["files"]]
    # source touches ONLY the middle range
    src = spark.createDataFrame([(110, 1), (120, 2), (130, None)],
                                "k long, v long")
    version, stats = txlog.merge_into(spark, root, src, ["k"])
    assert stats == {"inserted": 0, "updated": 3, "deleted": 0}
    entry = txlog._list_entries(root)[-1]
    assert entry["version"] == version and entry["op"] == "overwrite"
    reused = [f for f in entry["files"] if f in all_files]
    assert len(reused) == 2, entry["files"]  # ranges 0-49 and 200-249 carried
    # snapshot correct: updated rows changed, pruned rows untouched
    got = {r["k"]: r["v"] for r in txlog.read_table(spark, root).collect()}
    assert got[110] == 1 and got[120] == 2 and got[130] is None
    assert got[0] == 0 and got[249] == 2490 and len(got) == 150
    # identical to the unpruned rewrite
    root2 = str(tmp_path / "mp2")
    for lo in (0, 100, 200):
        txlog.append_table(
            spark.range(lo, lo + 50).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            ),
            root2,
        )
    txlog.merge_into(spark, root2, src, ["k"], prune_files=False)
    got2 = {r["k"]: r["v"] for r in txlog.read_table(spark, root2).collect()}
    assert got == got2
    # change feed identical on both paths too
    ch = sorted((r["_change_type"], r["k"]) for r in
                txlog.read_changes(spark, root, version - 1, version).collect())
    ch2 = sorted((r["_change_type"], r["k"]) for r in
                 txlog.read_changes(spark, root2, version - 1, version).collect())
    assert ch == ch2
    # the pruned merge after a merge-on-read delete keeps k = 5 deleted
    root3 = str(tmp_path / "mp3")
    for lo in (0, 100):
        txlog.append_table(
            spark.range(lo, lo + 100).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            ),
            root3,
        )
    txlog.delete_where_mor(spark, root3, "k = 5")
    txlog.merge_into(
        spark, root3, spark.createDataFrame([(7, -1)], "k long, v long"), ["k"]
    )
    snap = txlog.read_table(spark, root3)
    assert snap.count() == 199 and snap.where("k = 5").count() == 0


def test_merge_prune_insert_only_when_nothing_overlaps(spark, tmp_path):
    root = str(tmp_path / "mpi")
    txlog.append_table(
        spark.range(10).select(F.col("id").alias("k"), F.lit(1).alias("v")), root
    )
    src = spark.createDataFrame([(1000, 5)], "k long, v int")
    _, stats = txlog.merge_into(spark, root, src, ["k"])
    assert stats == {"inserted": 1, "updated": 0, "deleted": 0}
    got = {r["k"]: r["v"] for r in txlog.read_table(spark, root).collect()}
    assert got[1000] == 5 and len(got) == 11
    # the original dir was carried over, not rewritten
    entry = txlog._list_entries(root)[-1]
    first = txlog._list_entries(root)[0]["files"][0]
    assert first in entry["files"]


def test_delete_and_update_prune_hints(spark, tmp_path):
    root = str(tmp_path / "dh")
    for lo in (0, 100, 200):
        txlog.append_table(
            spark.range(lo, lo + 50).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            ),
            root,
        )
    all_dirs = [f for e in txlog._list_entries(root) for f in e["files"]]
    v, n = txlog.delete_where(
        spark, root, "k >= 100 AND k < 110",
        prune_hint=[("k", ">=", 100), ("k", "<", 110)],
    )
    assert n == 10
    entry = txlog._list_entries(root)[-1]
    assert sum(1 for f in entry["files"] if f in all_dirs) == 2  # two reused
    assert txlog.read_table(spark, root).count() == 140

    v2, n2 = txlog.update_where(
        spark, root, "k >= 200", {"v": "v + 1"}, prune_hint=[("k", ">=", 200)]
    )
    assert n2 == 50
    got = {r["k"]: r["v"] for r in txlog.read_table(spark, root).collect()}
    assert got[200] == 2001 and got[0] == 0 and len(got) == 140
    # identical to unpruned semantics
    root2 = str(tmp_path / "dh2")
    for lo in (0, 100, 200):
        txlog.append_table(
            spark.range(lo, lo + 50).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            ),
            root2,
        )
    txlog.delete_where(spark, root2, "k >= 100 AND k < 110")
    txlog.update_where(spark, root2, "k >= 200", {"v": "v + 1"})
    got2 = {r["k"]: r["v"] for r in txlog.read_table(spark, root2).collect()}
    assert got == got2
    # a partial rewrite after a merge-on-read delete: the touched dir is
    # rewritten from a DV-applied read, so k = 5 stays deleted
    root3 = str(tmp_path / "dh3")
    for lo in (0, 100):
        txlog.append_table(
            spark.range(lo, lo + 100).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            ),
            root3,
        )
    txlog.delete_where_mor(spark, root3, "k = 5")
    txlog.delete_where(spark, root3, "k = 6", prune_hint=[("k", "=", 6)])
    snap = txlog.read_table(spark, root3)
    assert snap.count() == 198 and snap.where("k = 5").count() == 0


def test_optimize_zorder_tightens_skipping(spark, tmp_path):
    """OPTIMIZE ZORDER: after clustering, a range predicate on the SECOND
    column prunes files it could not prune before (the multi-column
    data-skipping claim), with rows and time travel intact."""
    root = str(tmp_path / "zo")
    n = 4096
    df = spark.range(n).select(
        (F.col("id") % 64).alias("a"),
        ((F.col("id") * 2654435761) % 64).alias("b"),  # decorrelated from a
        F.col("id").alias("payload"),
    )
    txlog.append_table(df.repartition(8), root)
    where = [("b", ">=", 0), ("b", "<=", 7)]
    before = txlog.skipping_report(root, where)
    v = txlog.optimize_zorder(spark, root, ["a", "b"], bits=3, target_files=8)
    after = txlog.skipping_report(root, where)
    assert after["files_read"] < before["files_read"] or (
        before["files_read"] < before["files_total"]  # already tight: accept
    ), (before, after)
    assert after["files_read"] < after["files_total"]  # pruning happens
    # rows identical, pre-optimize snapshot still readable
    assert txlog.read_table(spark, root).count() == n
    assert (
        txlog.read_table_pruned(spark, root, where).where("b between 0 and 7").count()
        == txlog.read_table(spark, root).where("b between 0 and 7").count()
    )
    assert txlog.read_table(spark, root, version=v - 1).count() == n


def test_append_schema_evolution_widening(spark, tmp_path):
    """allow_add_columns: appends may WIDEN the schema; reads pin the LOG's
    latest schema so pre-evolution files null-fill the new column, and time
    travel to a pre-evolution version serves the old schema."""
    root = str(tmp_path / "se")
    txlog.append_table(
        spark.createDataFrame([(1, 10)], "k long, v long"), root
    )
    wide = spark.createDataFrame([(2, 20, "x")], "k long, v long, tag string")
    with pytest.raises(txlog.TxLogSchemaMismatch):
        txlog.append_table(wide, root)  # widening needs the explicit flag
    v = txlog.append_table(wide, root, allow_add_columns=True)
    assert v == 1
    got = {r["k"]: (r["v"], r["tag"]) for r in txlog.read_table(spark, root).collect()}
    assert got == {1: (10, None), 2: (20, "x")}  # old rows null-fill
    # time travel: version 0 still has the ORIGINAL two-column schema
    assert txlog.read_table(spark, root, version=0).columns == ["k", "v"]
    # reordered or retyped columns are NOT widening
    with pytest.raises(txlog.TxLogSchemaMismatch):
        txlog.append_table(
            spark.createDataFrame([(3, "y", 30)], "k long, tag string, v long"),
            root,
            allow_add_columns=True,
        )
    # further appends must match the WIDENED schema
    txlog.append_table(
        spark.createDataFrame([(4, 40, None)], "k long, v long, tag string"), root
    )
    assert txlog.read_table(spark, root).count() == 3


def test_with_retries_remerges_after_conflict(spark, tmp_path):
    """with_retries: a merge that loses to a concurrent commit re-reads and
    re-merges against the winner's state — both writers' effects land."""
    import unittest.mock as mock

    root = str(tmp_path / "wr")
    txlog.append_table(
        spark.range(5).select(F.col("id").alias("k"), F.lit(1).alias("v")), root
    )
    src = spark.createDataFrame([(1, 9)], "k long, v int")

    real_overwrite = txlog.overwrite_table
    raced = {"done": False}

    def racing_overwrite(df, r, expected_version=None, **kw):
        if not raced["done"]:
            raced["done"] = True  # interleave exactly one concurrent commit
            txlog.append_table(
                spark.createDataFrame([(100, 7)], "k long, v int"), r
            )
        return real_overwrite(df, r, expected_version=expected_version, **kw)

    with mock.patch.object(txlog, "overwrite_table", racing_overwrite):
        version, stats = txlog.with_retries(
            lambda: txlog.merge_into(spark, root, src, ["k"])
        )
    assert stats["updated"] == 1
    got = {r["k"]: r["v"] for r in txlog.read_table(spark, root).collect()}
    assert got[1] == 9 and got[100] == 7 and len(got) == 6  # both effects

    # exhausted retries re-raise the conflict
    def always_conflict():
        raise txlog.TxLogConflict("always")

    with pytest.raises(txlog.TxLogConflict):
        txlog.with_retries(always_conflict, max_retries=2)


def test_merge_prunes_across_schema_evolution(spark, tmp_path):
    """Evolution x pruning: when every touched dir predates a widening
    append, the partial rewrite must still run at the LOG's full width
    (null-filling the new column) instead of refusing the commit."""
    root = str(tmp_path / "mpe")
    txlog.append_table(
        spark.range(0, 50).select(F.col("id").alias("k"), F.lit(1).alias("v")),
        root,
    )
    txlog.append_table(
        spark.range(1000, 1050).select(
            F.col("id").alias("k"), F.lit(2).alias("v"), F.lit("t").alias("tag")
        ),
        root,
        allow_add_columns=True,
    )
    # source touches ONLY the pre-evolution range
    src = spark.createDataFrame([(10, 99)], "k long, v long")
    version, stats = txlog.merge_into(spark, root, src, ["k"])
    assert stats == {"inserted": 0, "updated": 1, "deleted": 0}
    entry = txlog._list_entries(root)[-1]
    assert len(entry["files"]) == 2  # post-evolution dir carried over
    got = {r["k"]: (r["v"], r["tag"]) for r in txlog.read_table(spark, root).collect()}
    assert got[10] == (99, None) and got[1000] == (2, "t") and len(got) == 100


def test_stream_sources_nullfill_across_evolution(spark, tmp_path):
    """Both Python stream readers map parquet columns BY NAME against the
    log schema: pre-evolution append versions stream with the widened
    schema, null-filling the new column (positional mapping would shear)."""
    root = str(tmp_path / "sev")
    txlog.append_table(
        spark.createDataFrame([(1, 10)], "k long, v long"), root
    )
    txlog.append_table(
        spark.createDataFrame([(2, 20, "x")], "k long, v long, tag string"),
        root,
        allow_add_columns=True,
    )
    txlog.register_stream_source(spark)
    run_stream(
        spark.readStream.format("txlogstream")
        .option("path", root)
        .load()
        .writeStream.format("memory")
        .queryName("sg_sev")
        .outputMode("append")
    )
    got = sorted(
        (r["k"], r["v"], r["tag"]) for r in spark.table("sg_sev").collect()
    )
    assert got == [(1, 10, None), (2, 20, "x")]


def test_checkpoint_covers_partial_cow_file_sets(spark, tmp_path):
    """A log checkpoint taken after a file-pruned merge must replay the
    mixed file set (reused dirs + rewrite dir) identically to full replay."""
    root = str(tmp_path / "ckp")
    for lo in (0, 100):
        txlog.append_table(
            spark.range(lo, lo + 50).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            ),
            root,
        )
    txlog.merge_into(
        spark, root, spark.createDataFrame([(110, 1)], "k long, v long"), ["k"]
    )
    entry = txlog._list_entries(root)[-1]
    assert len(entry["files"]) == 2  # pruned: one reused dir + one rewrite
    txlog.checkpoint_log(root)
    full = {r["k"]: r["v"] for r in txlog.read_table(spark, root).collect()}
    ck = {
        r["k"]: r["v"]
        for r in txlog.read_table_from_checkpoint(spark, root).collect()
    }
    assert full == ck and ck[110] == 1 and len(ck) == 100


def test_vacuum_keeps_dirs_reused_by_partial_cow(spark, tmp_path):
    """Vacuum must keep a data dir that an OLD version created but the NEW
    (post-pruned-merge) version still references — and reclaim only the
    truly unreferenced rewrite inputs."""
    root = str(tmp_path / "vpc")
    for lo in (0, 100):
        txlog.append_table(
            spark.range(lo, lo + 50).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            ),
            root,
        )
    txlog.merge_into(
        spark, root, spark.createDataFrame([(110, 1)], "k long, v long"), ["k"]
    )
    txlog.checkpoint_log(root)
    txlog.vacuum(root, retain_versions=1, retention_seconds=0)
    got = {r["k"]: r["v"] for r in txlog.read_table(spark, root).collect()}
    assert got[110] == 1 and got[0] == 0 and len(got) == 100
    with pytest.raises(ValueError, match="vacuumed"):
        txlog.read_table(spark, root, version=0)


def test_check_constraints_gate_all_commit_paths(spark, tmp_path):
    """CHECK constraints (sidecar metadata): violating appends, updates,
    and merges all raise BEFORE publishing; NULL results pass (SQL CHECK
    convention); drop lifts the gate."""
    root = str(tmp_path / "cc")
    txlog.append_table(
        spark.createDataFrame([(1, 10)], "k long, v long"), root
    )
    txlog.set_check_constraint(root, "v_positive", "v > 0")
    with pytest.raises(txlog.TxLogConstraintViolation, match="v_positive"):
        txlog.append_table(
            spark.createDataFrame([(2, -5)], "k long, v long"), root
        )
    assert txlog.latest_version(root) == 0  # nothing committed
    # the CoW DML paths commit via overwrite -> also gated
    with pytest.raises(txlog.TxLogConstraintViolation):
        txlog.update_where(spark, root, "k = 1", {"v": "-1"})
    with pytest.raises(txlog.TxLogConstraintViolation):
        txlog.merge_into(
            spark, root,
            spark.createDataFrame([(1, -9)], "k long, v long"), ["k"],
        )
    # NULL passes (three-valued CHECK), valid rows pass
    txlog.append_table(
        spark.createDataFrame([(3, None)], "k long, v long"), root
    )
    txlog.append_table(
        spark.createDataFrame([(4, 40)], "k long, v long"), root
    )
    assert txlog.read_table(spark, root).count() == 3
    txlog.drop_check_constraint(root, "v_positive")
    txlog.append_table(
        spark.createDataFrame([(5, -50)], "k long, v long"), root
    )
    assert txlog.read_table(spark, root).count() == 4
    with pytest.raises(KeyError):
        txlog.drop_check_constraint(root, "nope")


def test_vacuum_default_retention_is_hours_not_claim_grace(spark, tmp_path):
    """ADVICE r04 #2: vacuum's age guard must comfortably exceed the longest
    plausible data write (hours at scale), NOT the 60 s claim-file grace —
    a large in-flight commit writes parquet for far longer than 60 s before
    its log entry publishes, and a default vacuum during that window must
    not delete its data."""
    assert txlog._VACUUM_RETENTION_SECONDS >= 24 * 3600
    root = str(tmp_path / "t")
    txlog.append_table(_df(spark, 0, 10), root)      # v0
    txlog.overwrite_table(_df(spark, 50, 55), root)  # v1: v0's file dead
    # a slow in-flight writer: data on disk for 2 hours, entry not published
    inflight_rel = os.path.join("data", "slow-writer.parquet")
    _df(spark, 100, 107).write.parquet(os.path.join(root, inflight_rel))
    p = os.path.join(root, inflight_rel)
    two_hours_ago = os.stat(p).st_mtime - 2 * 3600
    os.utime(p, (two_hours_ago, two_hours_ago))
    out = txlog.vacuum(root, retain_versions=1)  # DEFAULT retention
    assert out["deleted"] == 0  # 2h-old in-flight data survives the default
    assert os.path.isdir(p)
    # explicit 0.0 retention (single-writer maintenance) still reclaims
    out = txlog.vacuum(root, retain_versions=1, retention_seconds=0.0)
    assert out["deleted"] == 2  # v0's dead file + the orphan
    assert not os.path.isdir(p)


def test_pruned_read_pins_log_schema_across_evolution(spark, tmp_path):
    """ADVICE r04 #1: read_table_pruned must pin the log's schema like
    read_table does.  After an allow_add_columns widening the survivor set
    mixes pre/post-evolution files; footer inference from an arbitrary file
    can silently drop the widened column, breaking the documented
    bit-identical-to-read_table contract."""
    root = str(tmp_path / "t")
    txlog.append_table(_df(spark, 0, 10), root)  # narrow: (id, v)
    wide = spark.range(100, 110).select(
        F.col("id"), (F.col("id") * 2).alias("v"), F.lit("x").alias("tag")
    )
    txlog.append_table(wide, root, allow_add_columns=True)
    where = [("id", ">=", 0)]  # prunes nothing: both files survive
    pruned = txlog.read_table_pruned(spark, root, where)
    full = txlog.read_table(spark, root).where(F.col("id") >= 0)
    assert pruned.schema == full.schema  # widened column present, same types
    assert sorted(pruned.collect()) == sorted(full.collect())
    # pre-evolution rows null-fill the widened column on the pruned path too
    assert pruned.where(F.col("id") < 10).where(F.col("tag").isNull()).count() == 10
    # filtering ON the widened column works even when a pre-evolution file
    # survives pruning (the inference-based read errored or dropped rows)
    got = txlog.read_table_pruned(spark, root, [("tag", "=", "x")])
    assert got.count() == 10


def test_claim_ownership_check_prevents_log_fork(spark, tmp_path, monkeypatch):
    """ADVICE r04 #3: a writer stalled >grace between claiming and
    publishing may have its claim reclaimed by a recoverer; its later
    os.replace must NOT silently overwrite the recoverer's committed entry
    (that forks the log).  The ownership check (claim fd inode == current
    inode at the entry name) turns the clobber into TxLogConflict."""
    import json as _json

    root = str(tmp_path / "t")
    txlog.append_table(_df(spark, 0, 5), root)
    final = os.path.join(root, "_log", "00000001.json")
    competing = {
        "version": 1,
        "op": "append",
        "files": [],
        "schema": _df(spark, 0, 1).schema.simpleString(),
        "schema_json": _df(spark, 0, 1).schema.json(),
    }

    orig_acquire = _commit._acquire_claim
    fired = {"n": 0}

    def stalled_then_reclaimed(path):
        fd = orig_acquire(path)
        if fired["n"] == 0:
            fired["n"] += 1
            # simulate: this writer stalls past the grace; a recoverer
            # unlinks the abandoned claim and publishes its own entry at
            # the same name (one-shot — the recoverer acted once)
            os.unlink(path)
            tmp = path + ".tmp.recoverer"
            with open(tmp, "w") as f:
                _json.dump(competing, f)
            os.replace(tmp, path)
        return fd

    monkeypatch.setattr(_commit, "_acquire_claim", stalled_then_reclaimed)
    # a commuting append RETRIES past the reclaimed claim: the competing
    # v1 entry survives and the append lands as v2 (same data dir)
    assert txlog.append_table(_df(spark, 5, 10), root) == 2
    monkeypatch.undo()
    with open(final) as f:
        assert _json.load(f) == competing  # the recoverer was NOT clobbered
    assert txlog.read_table(spark, root).count() == 10

    # a NON-commuting commit (overwrite reads the table first) surfaces
    # the ownership conflict to the caller instead of auto-retrying
    fired["n"] = 0
    monkeypatch.setattr(_commit, "_acquire_claim", stalled_then_reclaimed)
    competing["version"] = 3
    with pytest.raises(txlog.TxLogConflict, match="reclaimed"):
        txlog.overwrite_table(_df(spark, 50, 52), root)
    monkeypatch.undo()
    with open(os.path.join(root, "_log", "00000003.json")) as f:
        assert _json.load(f)["version"] == 3  # recoverer's entry intact
    # the conflicted writer re-reads and retries normally afterwards
    assert txlog.overwrite_table(_df(spark, 50, 52), root) == 4
    assert txlog.read_table(spark, root).count() == 2


def test_abandoned_claim_not_reclaimed_if_published_meanwhile(
    tmp_path, monkeypatch
):
    """ADVICE r04 #3 (stat->unlink window): _acquire_claim re-checks the
    claim immediately before unlinking — if the owner PUBLISHED between the
    abandonment judgment and the unlink (inode/size changed), the committed
    entry must survive and the contender must see the conflict, not delete
    the entry.  Interleaving is simulated by making the FIRST stat return
    the stale zero-length abandoned view while the entry is already
    published on disk."""
    import json as _json

    final = str(tmp_path / "00000001.json")
    with open(final, "w") as f:
        _json.dump({"version": 1, "op": "append", "files": []}, f)
    # the stale view the first stat saw: an old zero-length claim
    decoy = str(tmp_path / "decoy")
    open(decoy, "w").close()
    old = os.stat(decoy).st_mtime - (_commit._CLAIM_GRACE_SECONDS + 5)
    os.utime(decoy, (old, old))
    stale = os.stat(decoy)

    real_stat = os.stat
    first = {"pending": True}

    def fake_stat(path, *a, **kw):
        if path == final and first["pending"]:
            first["pending"] = False
            return stale
        return real_stat(path, *a, **kw)

    monkeypatch.setattr(_commit.os, "stat", fake_stat)
    with pytest.raises(FileExistsError):
        _commit._acquire_claim(final)
    monkeypatch.undo()
    # the published entry survived the contender's recovery attempt
    with open(final) as f:
        assert _json.load(f)["version"] == 1


def test_read_changes_across_widening_evolution(spark, tmp_path):
    """ADVICE r04 #4: a CDF range spanning an allow_add_columns widening
    mixes narrow pre-evolution append frames with wide post-evolution ones;
    read_changes must null-fill each per-version frame to the range's
    latest schema (like the txlogcdf stream reader) instead of raising."""
    root = str(tmp_path / "t")
    txlog.append_table(_df(spark, 0, 3), root)   # v0 narrow (id, v)
    txlog.append_table(_df(spark, 3, 5), root)   # v1 narrow append IN range
    wide = spark.range(100, 103).select(
        F.col("id"), (F.col("id") * 2).alias("v"), F.lit("w").alias("tag")
    )
    txlog.append_table(wide, root, allow_add_columns=True)  # v2 widening
    ch = txlog.read_changes(spark, root, from_version=0)
    assert ch.columns == ["id", "v", "tag", "_change_type", "_commit_version"]
    rows = {(r["id"], r["tag"], r["_change_type"], r["_commit_version"])
            for r in ch.collect()}
    assert rows == (
        {(i, None, "insert", 1) for i in (3, 4)}
        | {(i, "w", "insert", 2) for i in (100, 101, 102)}
    )
    # the overwrite DIFF path across the boundary: v3 overwrite (no capture)
    # drops one pre-evolution row; prev(v2) vs cur(v3) union/diff cleanly
    snap = txlog.read_table(spark, root).where(F.col("id") != 0)
    txlog.overwrite_table(snap, root)  # v3
    ch2 = txlog.read_changes(spark, root, from_version=2)
    got = {(r["id"], r["_change_type"]) for r in ch2.collect()}
    assert got == {(0, "delete")}


def test_concurrent_appenders_all_land_exactly_once(spark, tmp_path):
    """Optimistic-concurrency stress for the commit path (exercises the
    round-5 ownership check under REAL thread interleaving): 8 threads
    each append their own disjoint range under with_retries; every commit
    must land exactly once, versions must be contiguous, and the final
    snapshot must hold exactly the union of all rows."""
    import threading

    root = str(tmp_path / "t")
    txlog.append_table(_df(spark, 0, 5), root)  # v0
    n_threads, per = 8, 10
    errors = []

    def worker(i):
        lo = 100 + i * per
        try:
            txlog.with_retries(
                lambda: txlog.append_table(_df(spark, lo, lo + per), root),
                max_retries=n_threads * 3,
            )
        except Exception as exc:  # noqa: BLE001 — collected for the assert
            errors.append((i, repr(exc)))

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert txlog.latest_version(root) == n_threads  # contiguous versions
    got = sorted(r["id"] for r in txlog.read_table(spark, root).collect())
    want = sorted(
        list(range(0, 5))
        + [100 + i * per + j for i in range(n_threads) for j in range(per)]
    )
    assert got == want  # exactly once: no loss, no duplication
    # commuting-append retry (round 5): each append wrote its data dir
    # exactly ONCE — a version-claim conflict re-points the same dir at
    # the next slot instead of rewriting, so no orphan dirs accumulate
    import glob

    assert len(glob.glob(os.path.join(root, "data", "*"))) == n_threads + 1


def test_cdf_replay_reconstructs_any_snapshot(spark, tmp_path):
    """read_changes' semantic contract over a MIXED op sequence (appends,
    widening append, captured merge, diff-fallback overwrite): applying
    the change feed (from_version=v) onto snapshot(v) reproduces
    snapshot(latest) exactly, for EVERY v — insert rows are added, delete
    rows removed, multiset semantics."""
    from collections import Counter

    root = str(tmp_path / "t")
    base = spark.createDataFrame([(i, i * 2) for i in range(6)], "k long, v long")
    txlog.append_table(base, root)                                    # v0
    txlog.append_table(
        spark.createDataFrame([(10, 20), (11, 22)], "k long, v long"), root
    )                                                                 # v1
    wide = spark.createDataFrame([(20, 40, "w")], "k long, v long, tag string")
    txlog.append_table(wide, root, allow_add_columns=True)            # v2
    txlog.merge_into(                                                 # v3 (captured)
        spark,
        root,
        spark.createDataFrame([(1, 99, "m"), (30, 60, "m")], "k long, v long, tag string"),
        ["k"],
    )
    snap = txlog.read_table(spark, root).where(F.col("k") != 10)
    txlog.overwrite_table(snap, root)                                 # v4 (diff path)

    latest = txlog.latest_version(root)
    cols = txlog.read_table(spark, root).columns
    final = Counter(
        tuple(r[c] for c in cols) for r in txlog.read_table(spark, root).collect()
    )
    for v in range(latest + 1):
        start = Counter(
            tuple(r[c] for c in cols)
            for r in txlog.read_table(spark, root, version=v)
            .select(  # null-fill pre-evolution snapshots to the final shape
                *[
                    F.col(c) if c in txlog.read_table(spark, root, version=v).columns
                    else F.lit(None).cast("string").alias(c)
                    for c in cols
                ]
            )
            .collect()
        )
        ch = txlog.read_changes(spark, root, from_version=v)
        for r in ch.collect():
            key = tuple(r[c] for c in cols)
            if r["_change_type"] == "insert":
                start[key] += 1
            else:
                start[key] -= 1
                if start[key] == 0:
                    del start[key]
        assert start == final, f"replay from v{v} diverged"


def test_bloom_skipping_prunes_high_cardinality_equality(spark, tmp_path):
    """Bloom-filter data skipping (round 5): ids hash-scattered across part
    files make every file's min/max range cover the whole domain — range
    stats prune NOTHING on a point lookup — but the per-file bloom proves
    absence and prunes.  Pruned read stays bit-identical to the full
    read + filter (blooms only ever skip provably-absent files)."""
    root = str(tmp_path / "t")
    txlog.set_bloom_columns(root, ["id"], m_bits=8192, k_hashes=3)
    # repartition(4) hash-distributes ids: each file spans ~the full range
    df = spark.range(1000).select("id", (F.col("id") * 3).alias("v")).repartition(4)
    txlog.append_table(df, root)
    rep_all = txlog.skipping_report(root, [("id", ">=", 0)])
    assert rep_all["files_total"] == 4

    # min/max alone cannot prune a point lookup on scattered ids...
    entries = txlog._list_entries(root)
    stats = {}
    blooms = {}
    for e in entries:
        stats.update(e.get("stats") or {})
        blooms.update(e.get("bloom") or {})
    assert all(
        s["id"][0] < 250 and s["id"][1] > 750 for s in stats.values()
    ), stats  # every file covers most of the domain
    assert set(blooms) == set(stats)  # a bloom was recorded per file

    # ...but the bloom prunes to (at most, FPR) the one file holding id=417
    rep = txlog.skipping_report(root, [("id", "=", 417)])
    assert rep["files_read"] < rep["files_total"]
    got = txlog.read_table_pruned(spark, root, [("id", "=", 417)])
    assert [(r["id"], r["v"]) for r in got.collect()] == [(417, 1251)]
    # absent value: every file bloom-proves absence (deterministic hashes)
    assert txlog.skipping_report(root, [("id", "=", 10**9)])["files_read"] == 0
    assert txlog.read_table_pruned(spark, root, [("id", "=", 10**9)]).count() == 0

    # range predicates ignore blooms (k-bit test is equality-only): every
    # hash-scattered file has max > 500, so nothing can prune this
    assert txlog.skipping_report(root, [("id", ">", 500)])["files_read"] == 4


def test_bloom_string_column_and_unconfigured_files(spark, tmp_path):
    """String-key blooms prune; files committed BEFORE the config carry no
    bloom and are never bloom-pruned (partial coverage stays correct)."""
    root = str(tmp_path / "t")
    # overlapping name ranges so the min/max stats CANNOT prune the probe
    pre = spark.createDataFrame([("alpha", 1), ("omega", 2)], "name string, v int")
    txlog.append_table(pre.coalesce(1), root)  # v0: before any bloom config
    txlog.set_bloom_columns(root, ["name"])
    post = spark.createDataFrame([("beta", 3), ("zeta", 4)], "name string, v int")
    txlog.append_table(post.coalesce(1), root)  # v1: bloom recorded
    # 'epsilon' is absent but inside BOTH files' ranges: v1's file
    # bloom-prunes, v0's (committed pre-config, no bloom) survives
    rep = txlog.skipping_report(root, [("name", "=", "epsilon")])
    assert rep == {"files_total": 2, "files_read": 1}
    assert txlog.read_table_pruned(spark, root, [("name", "=", "epsilon")]).count() == 0
    # present value reads correctly through the bloom path
    got = txlog.read_table_pruned(spark, root, [("name", "=", "beta")])
    assert [(r["name"], r["v"]) for r in got.collect()] == [("beta", 3)]


def test_shallow_clone_zero_copy_branching(spark, tmp_path):
    """clone_table(shallow=True): zero-copy branch of a snapshot — no data
    files move, the clone reads the source's files by absolute reference,
    is immediately writable (its CoW writes land under ITS root, the
    source never changes), carries the source's bloom sidecar, and its
    own vacuum never touches source files."""
    import glob

    src = str(tmp_path / "src")
    dst = str(tmp_path / "branch")
    txlog.set_bloom_columns(src, ["id"])
    txlog.append_table(_df(spark, 0, 100).repartition(2), src)   # v0
    txlog.append_table(_df(spark, 100, 120), src)                # v1
    v = txlog.clone_table(spark, src, dst, version=0, shallow=True)
    assert v == 0
    # zero-copy: the clone owns no data files yet
    assert glob.glob(os.path.join(dst, "data", "*")) == []
    assert txlog.read_table(spark, dst).count() == 100  # v0 snapshot only
    # bloom sidecar carried over: absent-key probe prunes everything
    assert txlog.skipping_report(dst, [("id", "=", 10**9)])["files_read"] == 0
    # the branch diverges without touching the source
    txlog.append_table(_df(spark, 500, 505), dst)
    txlog.delete_where(spark, dst, "id < 10")
    assert txlog.read_table(spark, dst).count() == 95  # 100 - 10 + 5
    assert txlog.read_table(spark, src).count() == 120  # source untouched
    assert txlog.read_table(spark, src, version=0).count() == 100
    # the clone's vacuum deletes only under ITS data dir
    n_src_files = len(glob.glob(os.path.join(src, "data", "*")))
    txlog.vacuum(dst, retain_versions=1, retention_seconds=0.0)
    assert len(glob.glob(os.path.join(src, "data", "*"))) == n_src_files
    assert txlog.read_table(spark, dst).count() == 95
    # a hive-partitioned source with two commits: the clone keeps its
    # layout, so each data dir still scans on its own; partition pruning
    # keeps working on the carried stats
    psrc, pdst = str(tmp_path / "psrc"), str(tmp_path / "pbranch")
    for g in ("a", "b"):
        txlog.append_table(
            _df(spark, 0, 10).withColumn("g", F.lit(g)), psrc,
            partition_by=["g"] if g == "a" else None,
        )
    txlog.clone_table(spark, psrc, pdst)
    assert txlog.read_table(spark, pdst).count() == 20
    rep = txlog.skipping_report(pdst, [("g", "=", "b")])
    assert rep["files_read"] < rep["files_total"], rep


def test_deep_clone_severs_source_dependency(spark, tmp_path):
    """clone_table(shallow=False) re-materializes the snapshot into
    dst-owned files: vacuuming the SOURCE past the cloned version cannot
    break a deep clone (the documented shallow-clone hazard, severed)."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "deep")
    txlog.append_table(_df(spark, 0, 50), src)       # v0
    txlog.overwrite_table(_df(spark, 900, 903), src)  # v1: v0 dead
    # deep-clone v0 BEFORE the source vacuums it away
    txlog.clone_table(spark, src, dst, version=0, shallow=False)
    txlog.vacuum(src, retain_versions=1, retention_seconds=0.0)
    with pytest.raises(ValueError):
        txlog.read_table(spark, src, version=0)  # gone at the source...
    assert txlog.read_table(spark, dst).count() == 50  # ...alive in the clone


def test_restore_default_is_zero_copy_and_vacuum_safe(spark, tmp_path):
    """Round-5 refinement: restore re-points at the old version's files
    (no data rewrite — restoring 100 TB costs one log entry); vacuum's
    replay-based keep-set protects the re-referenced dirs; stats carry
    over so pruned reads still skip; materialize=True still rewrites."""
    import glob

    root = str(tmp_path / "rz")
    txlog.append_table(_df(spark, 0, 100).coalesce(1), root)     # v0
    txlog.overwrite_table(_df(spark, 500, 503).coalesce(1), root)  # v1
    n_files_before = len(glob.glob(os.path.join(root, "data", "*")))
    v = txlog.restore_table(spark, root, 0)  # zero-copy default
    assert v == 2
    # no new data files were written
    assert len(glob.glob(os.path.join(root, "data", "*"))) == n_files_before
    assert sorted(r["id"] for r in txlog.read_table(spark, root).collect()) == list(range(100))
    # vacuum keeps the re-referenced v0 dir (it backs the newest snapshot)
    out = txlog.vacuum(root, retain_versions=1, retention_seconds=0.0)
    assert out["deleted"] == 1  # only v1's orphaned overwrite file
    assert txlog.read_table(spark, root).count() == 100
    # stats carried over: pruned read still value-correct and skipping
    assert txlog.skipping_report(root, [("id", ">", 10**6)])["files_read"] == 0
    # materialize=True writes fresh files (the CoW escape hatch)
    v = txlog.restore_table(spark, root, 2, materialize=True)
    assert v == 3
    assert len(glob.glob(os.path.join(root, "data", "*"))) > 1


def test_maintain_table_compacts_only_past_threshold(spark, tmp_path):
    """maintain_table: the per-batch maintenance hook — no-op below
    max_files (cheap to call every batch), one compaction commit above,
    rows and history preserved."""
    root = str(tmp_path / "t")
    for i in range(6):
        txlog.append_table(_df(spark, i * 10, i * 10 + 10).repartition(4), root)
    assert txlog.maintain_table(spark, root, max_files=64) is None  # 24 files
    v = txlog.maintain_table(spark, root, max_files=10, target_files=2)
    assert v == 6  # compaction committed as the next version
    # a partitioned table's part files live under hive dirs: they count too
    pt = str(tmp_path / "pt")
    for i in range(5):
        txlog.append_table(
            _df(spark, i * 10, i * 10 + 10).withColumn("g", F.lit("a"))
            .repartition(4),
            pt,
            partition_by=["g"] if i == 0 else None,
        )
    assert txlog.maintain_table(spark, pt, max_files=8) == 5
    assert txlog.read_table(spark, pt).count() == 50
    import glob

    files = txlog._Snapshot(root).files
    n_parts = sum(
        len(glob.glob(os.path.join(root, d, "*.parquet"))) for d in files
    )
    assert n_parts <= 2
    assert txlog.read_table(spark, root).count() == 60
    assert txlog.read_table(spark, root, version=5).count() == 60  # history
    # already compact: calling again is a no-op
    assert txlog.maintain_table(spark, root, max_files=10) is None


def test_bloom_no_false_negatives_and_calibrated_fpr():
    """Bloom core property (pure Python, no Spark): every inserted value
    tests positive (zero false negatives — the correctness-critical half),
    and the false-positive rate on absent probes is within 3x of the
    (1 - e^(-kn/m))^k theory line (the efficiency half)."""
    import base64
    import math

    m, k, n = 8192, 3, 800
    bits = bytearray(m // 8)
    for v in range(n):
        for pos in txlog._bloom_positions(v, k, m):
            bits[pos // 8] |= 1 << (pos % 8)
    bloom = {"m": m, "k": k, "bits": base64.b64encode(bytes(bits)).decode()}
    assert all(txlog._bloom_may_contain(bloom, v) for v in range(n))
    probes = 5000
    fp = sum(
        txlog._bloom_may_contain(bloom, 10_000_000 + i) for i in range(probes)
    )
    theory = (1 - math.exp(-k * n / m)) ** k
    assert fp / probes < 3 * theory, (fp / probes, theory)
    # type-tagged hashing: int 7 and str '7' do not alias
    assert txlog._bloom_positions(7, k, m) != txlog._bloom_positions("7", k, m)


def test_append_type_widening_evolution(spark, tmp_path):
    """allow_widen_types: an append may promote column types (int->bigint,
    float->double, decimal precision growth) without rewriting history —
    the reader upcasts pre-evolution files to the log-owned wider schema;
    unsafe changes (narrowing, string->int) still raise."""
    root = str(tmp_path / "t")
    narrow = spark.range(5).select(
        F.col("id").cast("int").alias("k"),
        F.col("id").cast("float").alias("v"),
        F.col("id").cast("decimal(5,2)").alias("d"),
    )
    txlog.append_table(narrow, root)  # v0 narrow
    wide = spark.range(5, 8).select(
        (F.col("id") * 10**10).alias("k"),  # bigint: overflows int
        F.col("id").cast("double").alias("v"),
        F.col("id").cast("decimal(12,2)").alias("d"),
    )
    with pytest.raises(txlog.TxLogSchemaMismatch):
        txlog.append_table(wide, root)  # not allowed silently
    v = txlog.append_table(wide, root, allow_widen_types=True)
    assert v == 1
    got = txlog.read_table(spark, root)
    assert [f.dataType.simpleString() for f in got.schema.fields] == [
        "bigint", "double", "decimal(12,2)"
    ]
    assert got.count() == 8
    # pre-evolution rows upcast losslessly
    assert got.where(F.col("k") == 3).select("v").first()["v"] == 3.0
    # time travel still serves the old narrow schema
    old = txlog.read_table(spark, root, version=0)
    assert [f.dataType.simpleString() for f in old.schema.fields] == [
        "int", "float", "decimal(5,2)"
    ]
    # widening + a new column in one append (both flags)
    wider = spark.range(8, 9).select(
        F.col("id").alias("k"),
        F.col("id").cast("double").alias("v"),
        F.col("id").cast("decimal(12,2)").alias("d"),
        F.lit("x").alias("tag"),
    )
    txlog.append_table(wider, root, allow_add_columns=True, allow_widen_types=True)
    assert txlog.read_table(spark, root).count() == 9
    # narrowing is rejected even with the flag
    with pytest.raises(txlog.TxLogSchemaMismatch):
        txlog.append_table(narrow, root, allow_widen_types=True)
    # unsafe promotion (bigint -> int would be required) rejected
    assert not txlog._type_widens("bigint", "int")
    assert not txlog._type_widens("string", "int")
    assert not txlog._type_widens("decimal(12,2)", "decimal(12,4)")  # scale change


def test_stream_source_coerces_across_type_widening(spark, tmp_path):
    """txlogstream across an allow_widen_types promotion: pre-evolution
    int/float values coerce to the log-owned bigint/double schema through
    the Python DataSource row path — no reader crash, no value drift."""
    root = str(tmp_path / "t")
    narrow = spark.range(5).select(
        F.col("id").cast("int").alias("k"), F.col("id").cast("float").alias("v")
    )
    txlog.append_table(narrow, root)
    wide = spark.range(5, 8).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    txlog.append_table(wide, root, allow_widen_types=True)
    txlog.register_stream_source(spark)
    got = []
    run_stream(
        spark.readStream.format("txlogstream")
        .option("path", root)
        .load()
        .writeStream.foreachBatch(lambda df, bid: got.extend(df.collect()))
    )
    assert sorted((r["k"], r["v"]) for r in got) == [(i, float(i)) for i in range(8)]


def test_generated_columns_materialize_and_validate(spark, tmp_path):
    """GENERATED ALWAYS AS: omitted -> materialized from the expression at
    every commit path; provided-but-wrong -> TxLogConstraintViolation;
    provided-and-right -> accepted. Footer stats on the generated column
    drive pruning like any other."""
    root = str(tmp_path / "t")
    txlog.set_generated_column(root, "bucket", "id % 4")
    txlog.append_table(spark.range(8).select("id"), root)  # omitted
    got = txlog.read_table(spark, root)
    assert got.columns == ["id", "bucket"]
    assert {(r["id"], r["bucket"]) for r in got.collect()} == {
        (i, i % 4) for i in range(8)
    }
    # provided and consistent: accepted (schema now includes bucket)
    ok = spark.range(8, 10).select("id", (F.col("id") % 4).alias("bucket"))
    txlog.append_table(ok, root)
    # provided but diverging: rejected before anything commits
    bad = spark.range(10, 12).select("id", F.lit(99).alias("bucket"))
    with pytest.raises(txlog.TxLogConstraintViolation, match="bucket"):
        txlog.append_table(bad, root)
    assert txlog.read_table(spark, root).count() == 10
    # the CoW DML paths regenerate too (delete rewrites through _commit)
    txlog.delete_where(spark, root, "bucket = 1")
    left = txlog.read_table(spark, root)
    assert left.where(F.col("bucket") == 1).count() == 0
    assert left.count() == 7  # ids 1,5,9 dropped
    # pruning works on the generated key (equality via footer stats)
    rep = txlog.skipping_report(root, [("bucket", "=", 99)])
    assert rep["files_read"] < rep["files_total"] or rep["files_read"] == 0


def test_evolution_opt_ins_are_separate(spark, tmp_path):
    """allow_widen_types alone must NOT authorize column ADDITION, and
    allow_add_columns alone must NOT authorize type promotion — each
    evolution kind requires its own explicit opt-in."""
    root = str(tmp_path / "sep")
    txlog.append_table(spark.createDataFrame([(1, 10)], "k long, v int"), root)
    extra = spark.createDataFrame([(2, 20, "x")], "k long, v int, tag string")
    with pytest.raises(txlog.TxLogSchemaMismatch):
        txlog.append_table(extra, root, allow_widen_types=True)  # add needs its flag
    promoted = spark.createDataFrame([(3, 30)], "k long, v long")
    with pytest.raises(txlog.TxLogSchemaMismatch):
        txlog.append_table(promoted, root, allow_add_columns=True)  # widen needs its flag
    # with the RIGHT flag each succeeds
    txlog.append_table(promoted, root, allow_widen_types=True)
    txlog.append_table(
        spark.createDataFrame([(4, 40, "y")], "k long, v long, tag string"),
        root,
        allow_add_columns=True,
    )
    got = txlog.read_table(spark, root)
    assert got.count() == 3 and got.schema["v"].dataType.simpleString() == "bigint"
    assert got.columns == ["k", "v", "tag"]


def test_delete_where_mor_deletion_vectors(spark, tmp_path):
    """Merge-on-read DELETE (deletion vectors): rows vanish logically with
    NO data rewrite; time travel sees them; the vectors compose across
    deletes; compaction materializes them; pruned reads stay bit-identical."""
    import glob as _glob

    root = str(tmp_path / "mor")
    txlog.append_table(
        spark.range(0, 100).selectExpr("id AS k", "id % 10 AS g"), root
    )
    files_before = set(_glob.glob(os.path.join(root, "data", "*", "*.parquet")))
    v, n = txlog.delete_where_mor(spark, root, "k % 10 = 3")
    assert (v, n) == (1, 10)
    files_after = set(_glob.glob(os.path.join(root, "data", "*", "*.parquet")))
    assert files_before == files_after  # no data rewrite — that's the point
    got = txlog.read_table(spark, root)
    assert got.count() == 90 and got.where("k % 10 = 3").count() == 0
    # time travel: pre-delete snapshot still serves the deleted rows
    assert txlog.read_table(spark, root, version=0).count() == 100
    # vectors COMPOSE: second MoR delete stacks on the first
    v2, n2 = txlog.delete_where_mor(spark, root, "k < 5")
    assert n2 == 4  # k=3 already deleted by the first vector
    assert txlog.read_table(spark, root).count() == 86
    # CDF: the delete is capture-backed (no snapshot diff)
    ch = txlog.read_changes(spark, root, 0, 1)
    assert ch.where("_change_type = 'delete'").count() == 10
    # pruned read stays bit-identical to read_table().where(...)
    pruned = txlog.read_table_pruned(spark, root, [("k", ">=", 0)])
    assert pruned.count() == 86
    # compaction MATERIALIZES the vectors: rows stay gone, files rewritten
    cv = txlog.compact_table(spark, root)
    assert txlog.read_table(spark, root).count() == 86
    assert txlog.read_table(spark, root, version=cv).where("k < 5").count() == 0
    # post-compaction appends are not shadowed by stale vectors
    txlog.append_table(
        spark.createDataFrame([(3, 3), (4, 4)], "k bigint, g bigint"), root
    )
    assert txlog.read_table(spark, root).where("k in (3, 4)").count() == 2


def test_restore_resets_deletion_vectors(spark, tmp_path):
    """RESTORE to a pre-delete version pins that snapshot's DV set — a
    later MoR delete must not keep erasing rows through the restore."""
    root = str(tmp_path / "morr")
    txlog.append_table(spark.range(0, 50).selectExpr("id AS k"), root)
    txlog.delete_where_mor(spark, root, "k >= 40")  # v1
    assert txlog.read_table(spark, root).count() == 40
    rv = txlog.restore_table(spark, root, version=0)  # zero-copy restore
    assert txlog.read_table(spark, root, version=rv).count() == 50  # rows back
    # and a restore to the POST-delete version keeps the vector
    rv2 = txlog.restore_table(spark, root, version=1)
    assert txlog.read_table(spark, root, version=rv2).count() == 40


def test_clone_carries_deletion_vectors(spark, tmp_path):
    """A shallow clone of a MoR-deleted snapshot serves the same logical
    rows (vectors reference the same immutable absolute files)."""
    src = str(tmp_path / "morsrc")
    dst = str(tmp_path / "mordst")
    txlog.append_table(spark.range(0, 30).selectExpr("id AS k"), src)
    txlog.delete_where_mor(spark, src, "k % 3 = 0")
    txlog.clone_table(spark, src, dst)
    assert txlog.read_table(spark, dst).count() == 20
    # the clone's own MoR delete never touches the source
    txlog.delete_where_mor(spark, dst, "k = 1")
    assert txlog.read_table(spark, dst).count() == 19
    assert txlog.read_table(spark, src).count() == 20


def test_update_where_mor_atomic_dv_plus_postimage(spark, tmp_path):
    """MoR UPDATE: one atomic commit carries the deletion vector AND the
    postimage append — rows change in place logically, untouched files
    physically; CDF serves preimage/postimage pairs; set exprs never
    evolve the schema."""
    root = str(tmp_path / "moru")
    txlog.append_table(
        spark.range(0, 60).selectExpr("id AS k", "CAST(id * 10 AS INT) AS v"), root
    )
    ver, n = txlog.update_where_mor(spark, root, {"v": "v + 1"}, "k % 6 = 0")
    assert (ver, n) == (1, 10)
    got = txlog.read_table(spark, root)
    assert got.count() == 60  # an update never changes cardinality
    assert got.where("k % 6 = 0 AND v = k * 10 + 1").count() == 10
    assert got.where("k % 6 <> 0 AND v = k * 10").count() == 50
    # schema pinned: the int column stayed int despite the bigint-ish expr
    assert got.schema["v"].dataType.simpleString() == "int"
    # time travel to the pre-update snapshot
    assert txlog.read_table(spark, root, version=0).where("v = 1").count() == 0
    # CDF: preimage delete + postimage insert, captured (no diff fallback)
    ch = txlog.read_changes(spark, root, 0, 1)
    assert ch.where("_change_type = 'delete'").count() == 10
    assert ch.where("_change_type = 'insert' AND v % 10 = 1").count() == 10
    # MoR update stacks on a MoR delete and vice versa
    txlog.delete_where_mor(spark, root, "k = 0")
    v3, n3 = txlog.update_where_mor(spark, root, {"v": "0"}, "k = 6")
    assert n3 == 1
    final = txlog.read_table(spark, root)
    assert final.count() == 59 and final.where("k = 6").first()["v"] == 0
    with pytest.raises(ValueError, match="unknown column"):
        txlog.update_where_mor(spark, root, {"nope": "1"}, "k = 1")


def test_mor_read_plan_is_broadcast_anti_join(spark, tmp_path):
    """The MoR read path must stay a BROADCAST left-anti against the tiny
    DV table — never a shuffle of the scan on (file, pos), and never a
    nested loop."""
    root = str(tmp_path / "morplan")
    txlog.append_table(spark.range(0, 1000).selectExpr("id AS k"), root)
    txlog.delete_where_mor(spark, root, "k % 97 = 0")
    df = txlog.read_table(spark, root)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan
    assert df.count() == 1000 - 11  # ceil(1000/97) = 11 multiples incl. 0


def test_vacuum_collects_orphaned_dv_dirs(spark, tmp_path):
    """Vacuum reclaims DV dirs no retained snapshot replays (post-
    compaction vectors), under the same age guard as data dirs."""
    import glob as _glob

    root = str(tmp_path / "morvac")
    txlog.append_table(spark.range(0, 40).selectExpr("id AS k"), root)
    txlog.delete_where_mor(spark, root, "k >= 30")
    assert len(_glob.glob(os.path.join(root, "_dv", "*"))) == 1
    txlog.compact_table(spark, root)  # materializes; severs the vector
    # retain only the compacted snapshot; age guard off (no other writers)
    txlog.vacuum(root, retain_versions=1, retention_seconds=0.0)
    assert _glob.glob(os.path.join(root, "_dv", "*")) == []  # orphan collected
    assert txlog.read_table(spark, root).count() == 30  # rows stay gone


def test_merge_into_mor_clauses_match_cow_merge(spark, tmp_path):
    """The three MERGEs share one planner: txlog CoW, txlog MoR and Delta
    give equal final rows and equal clause stats on the same target,
    source and clauses (MoR has no ``insert_when``), MoR's change capture
    equals CoW's, and each refusal raises the same ``ValueError`` text
    from all three.  Only the physical write differs: MoR leaves the
    untouched files alone and commits DV + one new dir atomically."""
    import glob as _glob
    import shutil

    from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
        read_delta,
    )
    from kafka_connect_expand_json_transform_spark.sources.delta_writer import (
        delta_append,
        delta_merge_into,
    )

    target = spark.range(0, 50).selectExpr("id AS k", "CAST(id AS INT) AS v")
    seeds = {fmt: str(tmp_path / f"seed_{fmt}") for fmt in ("txlog", "delta")}
    txlog.append_table(target, seeds["txlog"])
    delta_append(target, seeds["delta"])
    # 98 is an absent key flagged dead: delete_when never touches it (it
    # is not matched), insert_when skips it
    src = spark.createDataFrame(
        [(10, 1000, False), (20, 2000, False), (30, 0, True),
         (98, 9800, True), (99, 9900, False)],
        "k bigint, v int, dead boolean",
    )
    merges = {
        "cow": ("txlog", txlog.merge_into, txlog.read_table),
        "mor": ("txlog", txlog.merge_into_mor, txlog.read_table),
        "delta": ("delta", delta_merge_into, read_delta),
    }
    # (case, clauses, stats, final v of keys 10 / 30 / 98; None = absent)
    cases = [
        ("all", {"update": "all"},
         {"inserted": 2, "updated": 3, "deleted": 0}, (1000, 0, 9800)),
        ("dict", {"update": {"v": "t.v + s.v"}},
         {"inserted": 2, "updated": 3, "deleted": 0}, (1010, 30, 9800)),
        ("none", {"update": None},
         {"inserted": 2, "updated": 0, "deleted": 0}, (10, 30, 9800)),
        ("delete", {"delete_when": "s.dead"},
         {"inserted": 2, "updated": 2, "deleted": 1}, (1000, None, 9800)),
        ("no_insert", {"insert": False, "delete_when": "s.dead"},
         {"inserted": 0, "updated": 2, "deleted": 1}, (1000, None, None)),
        ("insert_when", {"insert_when": "NOT s.dead", "delete_when": "s.dead"},
         {"inserted": 1, "updated": 2, "deleted": 1}, (1000, None, None)),
    ]
    for case, kwargs, want, spot in cases:
        finals = {}
        for name, (fmt, merge, read) in merges.items():
            if name == "mor" and "insert_when" in kwargs:
                continue
            root = str(tmp_path / f"{case}_{name}")
            shutil.copytree(seeds[fmt], root)
            data_files = os.path.join(root, "data", "*", "*.parquet")
            files_before = set(_glob.glob(data_files))
            _, stats = merge(spark, root, src, ["k"], **kwargs)
            assert stats == want, (case, name, stats)
            finals[name] = sorted(
                (r["k"], r["v"]) for r in read(spark, root).collect()
            )
            if name == "mor":
                # original files untouched (one NEW dir for postimages+inserts)
                assert files_before <= set(_glob.glob(data_files))
        assert finals["cow"] == finals["delta"], case
        got = dict(finals["cow"])
        assert tuple(got.get(k) for k in (10, 30, 98)) == spot, case
        if "mor" in finals:
            assert finals["mor"] == finals["cow"], case
            # CDF: logical changes only, the same multiset as the CoW capture
            cow_ch, mor_ch = (
                sorted(
                    (r["k"], r["v"], r["_change_type"])
                    for r in txlog.read_changes(
                        spark, str(tmp_path / f"{case}_{n}"), 0, 1
                    ).collect()
                )
                for n in ("cow", "mor")
            )
            assert mor_ch == cow_ch, case
    # refusals: the same text from all three
    refusals = [
        (src.unionByName(src), {}, "duplicate merge keys"),
        (src, {"update": {"k": "s.k"}}, "may not assign key column"),
        (src, {"update": {"nope": "1"}}, "unknown column"),
    ]
    for source, kwargs, match in refusals:
        texts = set()
        for name, (fmt, merge, _) in merges.items():
            with pytest.raises(ValueError, match=match) as err:
                merge(spark, seeds[fmt], source, ["k"], **kwargs)
            texts.add(str(err.value))
        assert len(texts) == 1, texts


def test_merge_job_counts_do_not_grow(spark, tmp_path):
    """Job-count guard for the three MERGEs on a fixed fixture: 20,000
    target rows in 4 files, a 2,000-row source overlapping 1,000 keys, a
    delete clause true on every 7th key.  The bounds are the counts
    measured when the three merges came to share one planner; the MoR
    bound is the count once it scanned only candidate target rows and
    took its inserts off the one checkpointed join (it was 14)."""
    from kafka_connect_expand_json_transform_spark.sources.delta_writer import (
        delta_append,
        delta_merge_into,
    )

    target = spark.range(0, 20000, numPartitions=4).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("s"),
    )
    source = spark.range(19000, 21000, numPartitions=2).select(
        F.col("id").alias("k"), (F.col("id") * 5).alias("v"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
        (F.col("id") % 7 == 0).alias("is_delete"),
    )
    sc = spark.sparkContext
    merges = [
        ("merge_into", txlog.append_table, txlog.merge_into, 10),
        ("merge_into_mor", txlog.append_table, txlog.merge_into_mor, 10),
        ("delta_merge_into", delta_append, delta_merge_into, 10),
    ]
    for name, write, merge, bound in merges:
        root = str(tmp_path / name)
        write(target, root)
        group = f"merge-job-count-{name}"
        sc.setJobGroup(group, name)
        try:
            _, stats = merge(spark, root, source, ["k"], delete_when="s.is_delete")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert stats == {"inserted": 1000, "updated": 857, "deleted": 143}, name
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert jobs <= bound, (name, jobs)


def test_optimize_zorder_incremental_never_rewrites_clustered_files(spark, tmp_path):
    """Incremental OPTIMIZE ZORDER: only data committed since the last
    ZORDER commit is rewritten; the clustered dirs are carried into the new
    version unrewritten (same relative paths), MoR deletes on the new dirs
    are materialized by the rewrite, a repeat call is a no-op, and a
    different clustering spec is rejected."""
    root = str(tmp_path / "zoi")
    n = 2048
    mk = lambda lo, hi: spark.range(lo, hi).select(
        (F.col("id") % 64).alias("a"),
        ((F.col("id") * 2654435761) % 64).alias("b"),
        F.col("id").alias("payload"),
    )
    txlog.append_table(mk(0, n).repartition(4), root)                    # v0
    zv = txlog.optimize_zorder(spark, root, ["a", "b"], bits=3, target_files=4)
    zfiles = set(txlog._list_entries(root)[zv]["files"])
    txlog.append_table(mk(n, n + 512).repartition(2), root)              # new wave
    txlog.delete_where_mor(spark, root, f"payload >= {n + 500}")         # 12 rows
    with pytest.raises(ValueError):
        txlog.optimize_zorder_incremental(spark, root, ["a"], bits=3)
    iv = txlog.optimize_zorder_incremental(
        spark, root, ["a", "b"], bits=3, target_files=2
    )
    entry = txlog._list_entries(root)[iv]
    carried = set(entry["files"]) & zfiles
    assert carried == zfiles  # every clustered dir rides along untouched
    assert len(set(entry["files"]) - zfiles) == 1  # one fresh clustered dir
    # the rewrite materialized the new-wave MoR delete; totals are right
    assert txlog.read_table(spark, root).count() == n + 500
    # skipping still prunes on the second column across BOTH generations
    rep = txlog.skipping_report(root, [("b", ">=", 0), ("b", "<=", 7)])
    assert rep["files_read"] < rep["files_total"]
    # nothing new since: no-op, version unchanged
    assert txlog.optimize_zorder_incremental(spark, root, ["a", "b"], bits=3) == iv
    # never clustered -> falls back to the full rewrite path
    root2 = str(tmp_path / "zoi2")
    txlog.append_table(mk(0, 256).repartition(2), root2)
    fv = txlog.optimize_zorder_incremental(spark, root2, ["a", "b"], bits=3)
    assert txlog._list_entries(root2)[fv].get("zorder")
    assert txlog.read_table(spark, root2).count() == 256
    # a hive-partitioned table: the new dirs scan one by one
    root3 = str(tmp_path / "zoi3")
    part = lambda lo, hi, g: mk(lo, hi).withColumn("g", F.lit(g))
    txlog.append_table(part(0, 256, "x"), root3, partition_by=["g"])
    txlog.optimize_zorder(spark, root3, ["a", "b"], bits=3, target_files=2)
    txlog.append_table(part(256, 384, "y"), root3)
    txlog.append_table(part(384, 512, "z"), root3)
    txlog.optimize_zorder_incremental(spark, root3, ["a", "b"], bits=3)
    assert txlog.read_table(spark, root3).count() == 512


def test_partitioned_table_pruning_and_dml(spark, tmp_path):
    """Hive-partitioned txlog tables: partition values ride the stats
    sidecar as exact per-file ranges, so the existing skipping machinery
    prunes whole partitions; DML rewrites and MoR vectors inherit the
    layout; a conflicting partition spec is rejected."""
    root = str(tmp_path / "pt")
    df = spark.range(0, 400).selectExpr(
        "id AS k", "CAST(id % 4 AS STRING) AS g", "id * 2 AS v"
    )
    txlog.append_table(df, root, partition_by=["g"])
    got = txlog.read_table(spark, root)
    assert got.columns == ["k", "g", "v"]  # log order, not discovery order
    assert got.count() == 400 and got.where("g = '2'").count() == 100
    # a second append INHERITS the partitioning (no explicit arg)
    txlog.append_table(
        spark.range(400, 500).selectExpr(
            "id AS k", "CAST(id % 4 AS STRING) AS g", "id * 2 AS v"
        ),
        root,
    )
    assert txlog.read_table(spark, root).count() == 500
    # partition pruning through the stats sidecar: g='1' reads only its dirs
    rep = txlog.skipping_report(root, [("g", "=", "1")])
    assert rep["files_read"] < rep["files_total"], rep
    pruned = txlog.read_table_pruned(spark, root, [("g", "=", "1"), ("k", "<", 100)])
    assert pruned.count() == 25
    assert pruned.columns == ["k", "g", "v"]
    # conflicting spec rejected; flat table cannot silently gain partitions
    with pytest.raises(ValueError):
        txlog.append_table(df, root, partition_by=["v"])
    # CoW DELETE rewrites stay partitioned and correct
    txlog.delete_where(spark, root, "k % 10 = 0")
    assert txlog.read_table(spark, root).count() == 450
    # MoR delete: vectors apply per-scan across the partition dirs
    _, n = txlog.delete_where_mor(spark, root, "g = '3' AND k < 40")
    assert n == 10
    snap = txlog.read_table(spark, root)
    assert snap.count() == 440 and snap.where("g = '3' AND k < 40").count() == 0
    # pruned read stays bit-identical under vectors
    p2 = txlog.read_table_pruned(spark, root, [("g", "=", "3")])
    assert p2.count() == snap.where("g = '3'").count()
    # time travel to the pre-delete snapshot
    assert txlog.read_table(spark, root, version=1).count() == 500
    # compaction keeps the layout and materializes the vectors
    txlog.compact_table(spark, root)
    assert txlog.read_table(spark, root).count() == 440
    import glob as _glob

    last = txlog._list_entries(root)[-1]
    assert last.get("partition_by") == ["g"]
    nested = _glob.glob(os.path.join(root, last["files"][-1], "g=*", "*.parquet"))
    assert nested, "compacted dir must be hive-partitioned"

    # two commits under different partition values: the MoR writers scan
    # each data dir on its own, and the prune hint looks inside hive dirs
    def two_commits(name):
        r = str(tmp_path / name)
        txlog.append_table(
            spark.range(0, 10).selectExpr("id AS k", "'a' AS g", "id AS v"),
            r, partition_by=["g"],
        )
        txlog.append_table(
            spark.range(100, 110).selectExpr("id AS k", "'b' AS g", "id AS v"), r
        )
        return r

    r = two_commits("pt_del")
    assert txlog.delete_where_mor(spark, r, "k = 5")[1] == 1
    assert txlog.read_table(spark, r).count() == 19
    r = two_commits("pt_merge")
    src = spark.createDataFrame([(5, "a", -1)], "k long, g string, v long")
    assert txlog.merge_into_mor(spark, r, src, ["k"])[1]["updated"] == 1
    got = {x["k"]: x["v"] for x in txlog.read_table(spark, r).collect()}
    assert len(got) == 20 and got[5] == -1
    snap = txlog._Snapshot(two_commits("pt_prune"))
    touched, reused = txlog._prune_dirs(snap, [("k", "=", 5)])
    assert touched == snap.files[:1] and reused == snap.files[1:]


def test_stream_source_over_partitioned_table(spark, tmp_path):
    """txlogstream over a hive-partitioned table: pyarrow discovers the
    partition column with an INFERRED dictionary type (numeric-looking
    values infer int32), and the reader must cast it back to the LOG
    schema's type so the streamed rows equal the batch snapshot."""
    root = str(tmp_path / "pts")
    # numeric-LOOKING string partition values: the inference trap
    df = spark.range(0, 60).selectExpr(
        "id AS k", "CAST(id % 3 AS STRING) AS g", "id * 2 AS v"
    )
    txlog.append_table(df, root, partition_by=["g"])
    txlog.register_stream_source(spark)
    out = str(tmp_path / "out")
    run_stream(
        spark.readStream.format("txlogstream")
        .option("path", root)
        .load()
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    got = spark.read.parquet(out)
    assert got.count() == 60
    assert dict(got.dtypes)["g"] == "string"
    assert got.where("g = '2'").count() == 20


def test_foreach_batch_sink_inherits_partitioning(spark, tmp_path):
    """The exactly-once streaming sink keeps a partitioned table
    partitioned: batches land hive-laid-out, the entry carries the
    partition marker, and partition-key pruning spans batch and stream
    generations."""
    import glob as _glob
    import json as _json

    src = tmp_path / "in"
    src.mkdir()
    root = str(tmp_path / "ptable")
    txlog.append_table(
        spark.createDataFrame([(0, "a", 0)], "id int, g string, v int"),
        root,
        partition_by=["g"],
    )
    (src / "b0.json").write_text(
        "\n".join(
            _json.dumps({"id": i, "g": "ab"[i % 2], "v": i * 2})
            for i in range(1, 9)
        )
    )
    stream = spark.readStream.schema("id int, g string, v int").json(str(src))
    run_stream(
        stream.writeStream.foreachBatch(txlog.foreach_batch_sink(root))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    assert txlog.read_table(spark, root).count() == 9
    last = txlog._list_entries(root)[-1]
    assert last.get("partition_by") == ["g"]
    assert _glob.glob(os.path.join(root, last["files"][-1], "g=*", "*.parquet"))
    rep_pruned = txlog.read_table_pruned(spark, root, [("g", "=", "b")])
    assert rep_pruned.count() == 4


def test_partitioned_and_flat_tables_are_semantically_identical(spark, tmp_path):
    """Layout-independence property: the SAME operation sequence (append,
    CoW delete, MoR delete, MoR update, compact) on a flat and a
    hive-partitioned table yields row-identical snapshots at every
    version — partitioning is a physical layout choice, never a semantics
    change."""
    def mk(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id AS k", "CAST(id % 3 AS STRING) AS g",
            "CAST(id * 7 AS BIGINT) AS v"
        )

    roots = {}
    for kind, part in (("flat", None), ("hive", ["g"])):
        root = str(tmp_path / kind)
        roots[kind] = root
        txlog.append_table(mk(0, 300), root, partition_by=part)          # v0
        txlog.append_table(mk(300, 400), root)                           # v1
        txlog.delete_where(spark, root, "k % 11 = 0")                    # v2
        txlog.delete_where_mor(spark, root, "k % 13 = 1")                # v3
        txlog.update_where_mor(spark, root, {"v": "v + 1"}, "k % 17 = 2")  # v4
        if part:  # the MoR postimage dir keeps the table's hive layout
            new_dir = os.path.join(
                root, txlog._Snapshot(root).entries[4]["files"][0]
            )
            names = os.listdir(new_dir)
            assert any(n.startswith("g=") for n in names)
            assert not any(n.endswith(".parquet") for n in names)
        txlog.compact_table(spark, root, target_files=2)                 # v5

    for version in range(6):
        rows = {}
        for kind, root in roots.items():
            rows[kind] = sorted(
                (r["k"], r["g"], r["v"])
                for r in txlog.read_table(spark, root, version=version).collect()
            )
        assert rows["flat"] == rows["hive"], f"diverged at version {version}"
    # pruned reads agree with each other and with the full-scan filter
    where = [("g", "=", "1"), ("k", ">=", 50)]
    flat_p = sorted(
        (r["k"], r["v"])
        for r in txlog.read_table_pruned(spark, roots["flat"], where).collect()
    )
    hive_p = sorted(
        (r["k"], r["v"])
        for r in txlog.read_table_pruned(spark, roots["hive"], where).collect()
    )
    assert flat_p == hive_p


def test_change_feed_on_partitioned_table(spark, tmp_path):
    """read_changes over a hive-partitioned table: capture-backed DML
    changes and snapshot-diff appends both serve the partition column with
    its log-schema type."""
    root = str(tmp_path / "ptcdf")
    txlog.append_table(
        spark.range(0, 60).selectExpr(
            "id AS k", "CAST(id % 3 AS STRING) AS g", "id * 2 AS v"
        ),
        root,
        partition_by=["g"],
    )
    txlog.delete_where_mor(spark, root, "k % 10 = 4")            # v1: capture
    txlog.update_where(spark, root, "k % 10 = 5", {"v": "v + 1"})  # v2
    ch = txlog.read_changes(spark, root, from_version=0)  # versions 1..head
    assert dict(ch.dtypes)["g"] == "string"
    assert ch.where("_change_type = 'delete' AND k % 10 = 4").count() == 6
    # the update contributes preimage+postimage rows (or insert/delete
    # pairs depending on capture mode) — postimages must carry the bump
    post = ch.where("_change_type IN ('update_postimage', 'insert') AND k % 10 = 5")
    assert post.count() == 6
    assert post.where("v % 2 = 1").count() == 6  # v+1 on even v -> odd


def test_partition_by_generated_column(spark, tmp_path):
    """The Delta-classic layout: GENERATED ALWAYS AS day-bucket column +
    hive partitioning on it — writers never compute the partition key by
    hand, and a day-equality read prunes to one directory subtree."""
    root = str(tmp_path / "ptg")
    txlog.set_generated_column(root, "day", "CAST(date_trunc('DAY', ts) AS DATE)")
    df = spark.range(0, 96).selectExpr(
        "id AS k",
        "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,CAST(id AS INT),0,0)"
        " AS ts",
    )
    txlog.append_table(df, root, partition_by=["day"])  # day materialized
    got = txlog.read_table(spark, root)
    assert got.count() == 96 and dict(got.dtypes)["day"] == "date"
    rep = txlog.skipping_report(root, [("day", "=", "2026-01-02")])
    assert rep["files_read"] < rep["files_total"], rep
    pruned = txlog.read_table_pruned(spark, root, [("day", "=", "2026-01-02")])
    assert pruned.count() == 24


def test_read_point_lookups_partition_safe(spark, tmp_path):
    """read_point_lookups: batched needle probes read the survivor union
    once, bit-identical to a full-scan filter — including on a
    hive-partitioned table (bare file paths would drop the partition
    column) and after a MoR delete (vectors apply)."""
    for kind, part in (("flat", None), ("hive", ["g"])):
        root = str(tmp_path / kind)
        txlog.set_bloom_columns(root, ["k"], m_bits=8192, k_hashes=3)
        txlog.append_table(
            spark.range(0, 500).selectExpr(
                "id AS k", "CAST(id % 4 AS STRING) AS g", "id * 3 AS v"
            ).repartition(8),
            root,
            partition_by=part,
        )
        txlog.delete_where_mor(spark, root, "k = 77")
        keys = [7, 77, 123, 456, 999999]
        got = sorted(
            (r["k"], r["g"], r["v"])
            for r in txlog.read_point_lookups(spark, root, "k", keys).collect()
        )
        want = sorted(
            (r["k"], r["g"], r["v"])
            for r in txlog.read_table(spark, root)
            .where(F.col("k").isin(keys))
            .collect()
        )
        assert got == want and (77, "1", 231) not in got, (kind, got)
    # empty plan: stable schema, zero rows
    empty = txlog.read_point_lookups(spark, str(tmp_path / "flat"), "k", [10**9])
    assert empty.count() == 0 and empty.columns == ["k", "g", "v"]


def test_write_audit_publish_gates_visibility(spark, tmp_path):
    """WAP: a failing audit discards the staged files and publishes NO
    version (readers never see them); a passing audit publishes with the
    usual sidecars; partition layout is inherited."""
    from kafka_connect_expand_json_transform_spark.operators.expectations import (
        Expectation,
    )

    root = str(tmp_path / "wap")
    txlog.append_table(
        spark.range(0, 50).selectExpr(
            "id AS k", "CAST(id % 2 AS STRING) AS g", "id * 2 AS v"
        ),
        root,
        partition_by=["g"],
    )
    suite = [
        Expectation("v_nonneg", "predicate", params={"sql": "v >= 0"}),
        Expectation("k_not_null", "not_null", column="k"),
    ]
    import glob as _glob

    n_dirs_before = len(_glob.glob(os.path.join(root, "data", "*.parquet")))
    bad = spark.range(50, 60).selectExpr(
        "id AS k", "CAST(id % 2 AS STRING) AS g", "id * -1 AS v"
    )
    with pytest.raises(txlog.TxLogConstraintViolation, match="v_nonneg"):
        txlog.write_audit_publish(spark, bad, root, suite)
    # no version published, staged dir discarded, readers unaffected
    assert txlog.latest_version(root) == 0
    assert len(_glob.glob(os.path.join(root, "data", "*.parquet"))) == n_dirs_before
    assert txlog.read_table(spark, root).count() == 50
    good = spark.range(50, 60).selectExpr(
        "id AS k", "CAST(id % 2 AS STRING) AS g", "id * 2 AS v"
    )
    v, report = txlog.write_audit_publish(spark, good, root, suite)
    assert v == 1 and all(r["passed"] == 1 for r in report)
    assert txlog.read_table(spark, root).count() == 60
    entry = txlog._list_entries(root)[v]
    assert entry.get("partition_by") == ["g"] and entry.get("stats")
    # partition pruning works on the WAP-published files too
    assert txlog.read_table_pruned(spark, root, [("g", "=", "1")]).count() == 30


def test_unpartitioned_history_cannot_gain_partitioning(spark, tmp_path):
    """Partition constancy is BOTH directions: a partitioned table rejects a
    conflicting spec, and an UNPARTITIONED table with committed history
    rejects a later partition_by (a mid-history marker would reroute reads
    — including time travel to pre-marker versions — through the
    partitioned path)."""
    root = str(tmp_path / "flat")
    txlog.append_table(
        spark.range(0, 10).selectExpr("id AS k", "CAST(id % 2 AS STRING) AS g"),
        root,
    )
    with pytest.raises(ValueError, match="unpartitioned committed history"):
        txlog.append_table(
            spark.range(10, 20).selectExpr(
                "id AS k", "CAST(id % 2 AS STRING) AS g"
            ),
            root,
            partition_by=["g"],
        )
    # the table stays flat and readable
    assert txlog.read_table(spark, root).count() == 10
    assert txlog._Snapshot(root).partition_by is None


def test_stream_source_over_date_partitioned_table(spark, tmp_path):
    """txlogstream over a DATE-partitioned table: hive discovery hands the
    partition column back as strings; the reader must build the Arrow
    target from the LOG schema (date32) so streamed rows type-match the
    batch snapshot (ADVICE r6: only string/int partitions were covered)."""
    root = str(tmp_path / "dts")
    df = spark.range(0, 30).selectExpr(
        "id AS k",
        "DATE_ADD(DATE'2026-01-01', CAST(id % 3 AS INT)) AS d",
        "id * 2 AS v",
    )
    txlog.append_table(df, root, partition_by=["d"])
    txlog.register_stream_source(spark)
    out = str(tmp_path / "out")
    run_stream(
        spark.readStream.format("txlogstream")
        .option("path", root)
        .load()
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    got = spark.read.parquet(out)
    assert got.count() == 30
    assert dict(got.dtypes)["d"] == "date"
    import datetime

    assert got.where(F.col("d") == datetime.date(2026, 1, 2)).count() == 10
    # streamed rows equal the batch snapshot exactly
    assert (
        got.exceptAll(txlog.read_table(spark, root)).count() == 0
        and txlog.read_table(spark, root).exceptAll(got).count() == 0
    )


def test_wap_publish_retry_revalidates_evolved_schema(spark, tmp_path):
    """A WAP publish racing a concurrent allow_add_columns append must NOT
    commit its narrower schema after the conflict retry (it would regress
    the log-owned read schema) — the retry re-validates against the
    re-listed entries, discards the staged files, and raises."""
    import glob as _glob
    import unittest.mock as mock

    from kafka_connect_expand_json_transform_spark.operators.expectations import (
        Expectation,
    )

    root = str(tmp_path / "wapr")
    txlog.append_table(
        spark.range(0, 10).selectExpr("id AS k", "id * 2 AS v"), root
    )
    suite = [Expectation("k_not_null", "not_null", column="k")]
    evolved = spark.range(10, 20).selectExpr(
        "id AS k", "id * 2 AS v", "CAST(id AS STRING) AS extra"
    )
    narrow = spark.range(20, 30).selectExpr("id AS k", "id * 2 AS v")
    orig_publish = txlog._publish_entry
    state = {"raced": False}

    def racy_publish(r, version, entry):
        if not state["raced"]:
            state["raced"] = True
            # a concurrent widening append wins this version number
            with mock.patch.object(txlog, "_publish_entry", orig_publish):
                txlog.append_table(evolved, root, allow_add_columns=True)
            raise txlog.TxLogConflict("raced")
        return orig_publish(r, version, entry)

    with mock.patch.object(txlog, "_publish_entry", racy_publish):
        with pytest.raises(txlog.TxLogSchemaMismatch, match="evolved"):
            txlog.write_audit_publish(spark, narrow, root, suite)
    # the concurrent append is the table's latest version; the WAP batch's
    # staged files are gone and nothing regressed the read schema
    assert txlog.latest_version(root) == 1
    assert txlog.read_table(spark, root).columns == ["k", "v", "extra"]
    files = txlog._Snapshot(root).files
    on_disk = {
        os.path.relpath(p, root)
        for p in _glob.glob(os.path.join(root, "data", "*.parquet"))
    }
    assert on_disk == set(files)  # no orphaned staged dir


def test_foreach_batch_wap_sink_rejects_and_reads_empty(spark, tmp_path):
    """foreach_batch_wap_sink: a failing audit publishes an op=audit_reject
    entry (history records the rejection, zero files contribute), and
    read_table over a table whose ONLY batch was rejected returns an empty
    frame shaped by the recorded schema_json — not a zero-path scan error."""
    from kafka_connect_expand_json_transform_spark.operators.expectations import (
        Expectation,
    )

    root = str(tmp_path / "wapsink")
    suite = [Expectation("v_nonneg", "predicate", params={"sql": "v >= 0"})]
    sink = txlog.foreach_batch_wap_sink(root, suite)
    bad = spark.range(0, 5).selectExpr("id AS k", "id * -1 AS v")
    sink(bad, 0)
    entries = txlog._list_entries(root)
    assert [e["op"] for e in entries] == ["audit_reject"]
    assert entries[0]["failed_expectations"] == ["v_nonneg"]
    # replay yields zero files but schema_json shapes the empty read
    got = txlog.read_table(spark, root)
    assert got.columns == ["k", "v"] and got.count() == 0
    # replaying the same batch id is an exactly-once no-op (stays rejected)
    sink(bad, 0)
    assert len(txlog._list_entries(root)) == 1
    # a clean batch then publishes normally on top of the rejection
    good = spark.range(0, 5).selectExpr("id AS k", "id * 2 AS v")
    sink(good, 1)
    assert txlog.read_table(spark, root).count() == 5
    assert [e["op"] for e in txlog._list_entries(root)] == [
        "audit_reject",
        "append",
    ]


def test_distributed_bloom_build_matches_serial(spark, tmp_path):
    """The executor-side bloom build (JVM md5 positions + applyInPandas
    bitset packing) must produce BIT-IDENTICAL sidecars to the serial
    pyarrow path — same md5 positions means sidecars from either writer
    interoperate.  Covers int + string columns, nulls, negative ints, and
    an all-null file column (all-zero bloom)."""
    import os as _os

    root = str(tmp_path / "bl")
    txlog.set_bloom_columns(root, ["k", "s"], m_bits=2048, k_hashes=3)
    df = spark.range(0, 500).selectExpr(
        "CAST(id - 250 AS BIGINT) AS k",
        "CASE WHEN id % 7 = 0 THEN NULL ELSE CONCAT('u-', id) END AS s",
        "id * 2 AS v",
    ).repartition(4)
    # force the DISTRIBUTED path (500 rows sit under the size-adaptive
    # dispatch threshold, which would keep the serial loop)
    _os.environ["SPARK_GRAFT_BLOOM_DIST_THRESHOLD"] = "0"
    txlog.append_table(df, root)
    # the committed entry used the distributed path (spark passed)
    entry = txlog._list_entries(root)[0]
    got = entry["bloom"]
    assert got, "no blooms recorded"
    rel_dir = os.path.dirname(next(iter(got)))
    import glob as _glob

    parts = sorted(
        _glob.glob(os.path.join(root, rel_dir, "**", "*.parquet"), recursive=True)
    )
    serial = txlog._build_part_blooms_serial(
        root, parts, txlog._read_bloom_config(root)
    )
    assert got == serial
    # an all-null indexed column still writes an all-zero bloom
    import base64

    allnull = spark.createDataFrame(
        [(None, None, 1)], "k bigint, s string, v bigint"
    ).coalesce(1)
    try:
        txlog.append_table(allnull, root)
    finally:
        del _os.environ["SPARK_GRAFT_BLOOM_DIST_THRESHOLD"]
    e1 = txlog._list_entries(root)[1]["bloom"]
    (only,) = e1.values()
    assert set(only) == {"k", "s"}
    for c in ("k", "s"):
        assert base64.b64decode(only[c]["bits"]) == bytes(2048 // 8)
    serial1 = txlog._build_part_blooms_serial(
        root,
        sorted(
            _glob.glob(
                os.path.join(root, os.path.dirname(next(iter(e1))), "**", "*.parquet"),
                recursive=True,
            )
        ),
        txlog._read_bloom_config(root),
    )
    assert e1 == serial1
    # under a directory whose name Spark percent-encodes in file URIs the
    # distributed build keys its blooms by the same plain paths
    esc = str(tmp_path / "a b%c")
    txlog.set_bloom_columns(esc, ["k", "s"], m_bits=2048, k_hashes=3)
    _os.environ["SPARK_GRAFT_BLOOM_DIST_THRESHOLD"] = "0"
    try:
        txlog.append_table(df, esc)
    finally:
        del _os.environ["SPARK_GRAFT_BLOOM_DIST_THRESHOLD"]
    e2 = txlog._list_entries(esc)[0]["bloom"]
    esc_parts = _glob.glob(
        os.path.join(esc, os.path.dirname(next(iter(e2))), "**", "*.parquet"),
        recursive=True,
    )
    assert e2 == txlog._build_part_blooms_serial(
        esc, sorted(esc_parts), txlog._read_bloom_config(esc)
    )


def test_commit_backend_seam_object_store_semantics(spark, tmp_path):
    """The atomic-claim primitive is a swappable seam (VERDICT r6 #2): an
    object-store-style backend — pure put-if-absent, no tmp file, no
    claim recovery — drives the SAME commit machinery: appends land,
    same-version races surface TxLogConflict, and the commuting-append
    retry resolves them.  This is the conditional-PUT mapping the 100 TB
    deployment swaps in (S3 If-None-Match / GCS generation-match)."""

    class PutIfAbsentBackend(txlog.CommitBackend):
        def __init__(self):
            self.puts = 0

        def publish(self, path, payload):
            self.puts += 1
            if os.path.exists(path):  # the conditional-PUT precondition
                raise txlog.TxLogConflict(f"precondition failed: {path}")
            tmp = path + ".obj"
            with open(tmp, "wb") as f:
                f.write(payload)
            os.rename(tmp, path)

    backend = PutIfAbsentBackend()
    prev = txlog.set_commit_backend(backend)
    try:
        root = str(tmp_path / "obj")
        assert txlog.append_table(_df(spark, 0, 5), root) == 0
        assert txlog.append_table(_df(spark, 5, 10), root) == 1
        assert backend.puts == 2
        assert txlog.read_table(spark, root).count() == 10
        # a lost race: competing entry already at the next version name —
        # the commuting append retries onto the version after it
        competing = os.path.join(root, "_log", "00000002.json")
        import json as _json

        with open(competing, "w") as f:
            _json.dump(
                {
                    "version": 2,
                    "op": "append",
                    "files": [],
                    "schema": _df(spark, 0, 1).schema.simpleString(),
                    "schema_json": _df(spark, 0, 1).schema.json(),
                },
                f,
            )
        assert txlog.append_table(_df(spark, 10, 15), root) == 3
        # a NON-commuting commit surfaces the conflict instead
        with open(os.path.join(root, "_log", "00000004.json"), "w") as f:
            _json.dump(
                {"version": 4, "op": "append", "files": [],
                 "schema": _df(spark, 0, 1).schema.simpleString(),
                 "schema_json": _df(spark, 0, 1).schema.json()}, f,
            )
        with pytest.raises(txlog.TxLogConflict):
            txlog.append_table(_df(spark, 15, 20), root, expected_version=3)
        # every other format publishes its log entries through the same
        # installed backend: one put per commit
        from kafka_connect_expand_json_transform_spark.sources import (
            delta_writer,
            hudi_reader,
            iceberg_writer,
            uniform,
        )

        for commit in (
            lambda: delta_writer.delta_append(_df(spark, 0, 5), str(tmp_path / "d")),
            lambda: iceberg_writer.iceberg_append(_df(spark, 0, 5), str(tmp_path / "i")),
            lambda: hudi_reader.hudi_append(_df(spark, 0, 5), str(tmp_path / "h"), "id"),
            lambda: txlog.append_table(_df(spark, 0, 5), str(tmp_path / "u")),
            lambda: uniform.export_delta(str(tmp_path / "u")),
            lambda: uniform.export_iceberg(str(tmp_path / "u")),
        ):
            puts = backend.puts
            commit()
            assert backend.puts == puts + 1
    finally:
        txlog.set_commit_backend(prev)


def test_rename_column_is_metadata_only(spark, tmp_path):
    """Column mapping (Delta rename parity): RENAME publishes one metadata
    entry — the data files are byte-untouched — reads serve the new name,
    time travel serves the old, and appends speak the new name while
    writing the SAME physical column."""
    import glob as _glob

    root = str(tmp_path / "cm")
    txlog.append_table(
        spark.range(0, 20).selectExpr("id AS k", "id * 2 AS v"), root
    )
    files_before = sorted(_glob.glob(os.path.join(root, "data", "**", "*"),
                                     recursive=True))
    mtimes_before = [os.path.getmtime(p) for p in files_before]
    v = txlog.rename_column(root, "v", "val")
    assert v == 1
    assert txlog._list_entries(root)[1]["files"] == []  # no data written
    files_after = sorted(_glob.glob(os.path.join(root, "data", "**", "*"),
                                    recursive=True))
    assert files_after == files_before
    assert [os.path.getmtime(p) for p in files_after] == mtimes_before
    got = txlog.read_table(spark, root)
    assert got.columns == ["k", "val"]
    assert got.agg(F.sum("val")).first()[0] == sum(2 * k for k in range(20))
    assert txlog.read_table(spark, root, version=0).columns == ["k", "v"]
    # appends speak the NEW name; the OLD name is a schema mismatch
    txlog.append_table(
        spark.range(20, 30).selectExpr("id AS k", "id * 2 AS val"), root
    )
    assert txlog.read_table(spark, root).count() == 30
    with pytest.raises(txlog.TxLogSchemaMismatch):
        txlog.append_table(
            spark.range(0, 5).selectExpr("id AS k", "id * 2 AS v"), root
        )


def test_drop_column_retires_physical_name(spark, tmp_path):
    """DROP COLUMN is metadata-only; the dropped column's physical name is
    RETIRED — re-adding it would resurrect stale values from pre-drop
    files, so the add-columns path refuses it (Delta's column-id rule);
    a genuinely new name is fine, and a rename may not land on a retired
    or live physical name either."""
    root = str(tmp_path / "cd")
    txlog.append_table(
        spark.range(0, 10).selectExpr(
            "id AS k", "id * 2 AS v", "CAST(id AS STRING) AS s"
        ),
        root,
    )
    txlog.rename_column(root, "v", "val")
    txlog.drop_column(root, "s")
    got = txlog.read_table(spark, root)
    assert got.columns == ["k", "val"]
    # time travel still serves the dropped column
    assert txlog.read_table(spark, root, version=0).columns == ["k", "v", "s"]
    with pytest.raises(ValueError, match="physical column name"):
        txlog.append_table(
            spark.range(10, 15).selectExpr(
                "id AS k", "id * 2 AS val", "CAST(id AS STRING) AS s"
            ),
            root,
            allow_add_columns=True,
        )
    # 'v' is val's live physical — a new column may not shadow it either
    with pytest.raises(ValueError, match="physical column name"):
        txlog.append_table(
            spark.range(10, 15).selectExpr(
                "id AS k", "id * 2 AS val", "id AS v"
            ),
            root,
            allow_add_columns=True,
        )
    txlog.append_table(
        spark.range(10, 15).selectExpr(
            "id AS k", "id * 2 AS val", "CAST(id AS STRING) AS note"
        ),
        root,
        allow_add_columns=True,
    )
    got = txlog.read_table(spark, root)
    assert got.columns == ["k", "val", "note"]
    assert got.where("note IS NOT NULL").count() == 5
    with pytest.raises(ValueError, match="physical"):
        txlog.rename_column(root, "note", "s")
    with pytest.raises(ValueError, match="physical"):
        txlog.rename_column(root, "note", "v")
    assert len(txlog.read_table(spark, root).columns) == 3


def test_column_mapping_pruning_and_blooms(spark, tmp_path):
    """Stats/bloom sidecars are keyed by PHYSICAL names; pruning and point
    lookups on the renamed (logical) name still skip files."""
    root = str(tmp_path / "cp")
    txlog.set_bloom_columns(root, ["k"], m_bits=8192, k_hashes=3)
    txlog.append_table(
        spark.range(0, 400).selectExpr("id AS k", "id * 2 AS v").repartition(4),
        root,
    )
    txlog.rename_column(root, "k", "key")
    txlog.append_table(
        spark.range(400, 800)
        .selectExpr("id AS key", "id * 2 AS v")
        .repartition(4),
        root,
    )
    rep = txlog.skipping_report(root, [("key", "=", 600)])
    assert rep["files_read"] < rep["files_total"]
    got = txlog.read_table_pruned(spark, root, [("key", "=", 600)])
    assert [(r["key"], r["v"]) for r in got.collect()] == [(600, 1200)]
    pl = txlog.read_point_lookups(spark, root, "key", [3, 403])
    assert sorted(r["key"] for r in pl.collect()) == [3, 403]


def test_column_mapping_dml(spark, tmp_path):
    """CoW and MoR DML on a renamed table: predicates/assignments speak
    the logical name; postimage files land physical-named so the whole
    history reads uniformly."""
    root = str(tmp_path / "cdml")
    txlog.append_table(
        spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v"), root
    )
    txlog.rename_column(root, "v", "val")
    _, n_del = txlog.delete_where_mor(spark, root, "k % 7 = 1")
    assert n_del == 15
    _, n_upd = txlog.update_where_mor(spark, root, {"val": "val + 1000"}, "k % 5 = 0")
    assert n_upd > 0
    got = txlog.read_table(spark, root)
    expect = sum(
        2 * k + (1000 if k % 5 == 0 else 0) for k in range(100) if k % 7 != 1
    )
    assert got.agg(F.sum("val")).first()[0] == expect
    # CoW merge with the logical name
    src = spark.range(95, 110).selectExpr("id AS k", "id * 100 AS val")
    txlog.merge_into(spark, root, src, ["k"])
    got = txlog.read_table(spark, root)
    assert got.where("k >= 95").agg(F.sum("val")).first()[0] == sum(
        100 * k for k in range(95, 110)
    )
    # the CDF range serves everything under the LATEST name, renames
    # contribute zero change rows
    ch = txlog.read_changes(spark, root, 0, txlog.latest_version(root))
    assert ch.columns == ["k", "val", "_change_type", "_commit_version"]
    assert ch.where("_commit_version = 1").count() == 0


def test_column_mapping_partitioned(spark, tmp_path):
    """Renaming a hive PARTITION column is metadata-only too: the physical
    ``col=value`` dirs never change, later appends pass the new logical
    name, and partition pruning answers logical predicates."""
    root = str(tmp_path / "cpart")
    txlog.append_table(
        spark.range(0, 60).selectExpr(
            "id AS k", "CAST(id % 3 AS STRING) AS g", "id * 2 AS v"
        ),
        root,
        partition_by=["g"],
    )
    txlog.rename_column(root, "g", "grp")
    txlog.append_table(
        spark.range(60, 120).selectExpr(
            "id AS k", "CAST(id % 3 AS STRING) AS grp", "id * 2 AS v"
        ),
        root,
        partition_by=["grp"],
    )
    got = txlog.read_table(spark, root)
    assert got.columns == ["k", "grp", "v"]
    assert got.count() == 120 and got.where("grp = '1'").count() == 40
    assert txlog.read_table_pruned(spark, root, [("grp", "=", "2")]).count() == 40
    rep = txlog.skipping_report(root, [("grp", "=", "2")])
    assert rep["files_read"] < rep["files_total"]
    with pytest.raises(ValueError, match="partition column"):
        txlog.drop_column(root, "grp")


def test_column_mapping_streams(spark, tmp_path):
    """txlogstream and txlogcdf across a rename: physical-named files
    resolve through the mapping, rename entries stream zero change rows."""
    root = str(tmp_path / "cstr")
    txlog.append_table(
        spark.range(0, 30).selectExpr("id AS k", "id * 2 AS v"), root
    )
    txlog.rename_column(root, "v", "val")
    txlog.append_table(
        spark.range(30, 60).selectExpr("id AS k", "id * 2 AS val"), root
    )
    txlog.update_where_mor(spark, root, {"val": "val + 1"}, "k = 5")
    txlog.register_stream_source(spark)
    txlog.register_cdf_stream_source(spark)
    out = str(tmp_path / "out")
    run_stream(
        spark.readStream.format("txlogstream")
        .option("path", root)
        .load()
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck1"))
    )
    got = spark.read.parquet(out)
    # append-only stream contract: the MoR update's POSTIMAGE row streams
    # as a new append; the DV'd-out preimage (already streamed from v0)
    # is never retracted — same as Delta's streaming source over updates
    assert got.columns == ["k", "val"] and got.count() == 61
    assert (
        got.agg(F.sum("val")).first()[0]
        == sum(2 * k for k in range(60)) + (2 * 5 + 1)
    )
    run_stream(
        spark.readStream.format("txlogcdf")
        .option("path", root)
        .load()
        .groupBy("_commit_version", "_change_type")
        .agg(F.count("*").alias("n"))
        .writeStream.format("memory")
        .queryName("cm_cdf")
        .outputMode("complete")
    )
    rows = {
        (r["_commit_version"], r["_change_type"]): r["n"]
        for r in spark.table("cm_cdf").collect()
    }
    assert rows == {(0, "insert"): 30, (2, "insert"): 30,
                    (3, "delete"): 1, (3, "insert"): 1}


def test_column_mapping_guards(spark, tmp_path):
    """Rename/drop refuse when table metadata references the column by
    name (generated columns, CHECK constraints) and degenerate drops."""
    root = str(tmp_path / "cg")
    txlog.set_check_constraint(root, "v_nonneg", "v >= 0")
    txlog.append_table(
        spark.range(0, 10).selectExpr("id AS k", "id * 2 AS v"), root
    )
    with pytest.raises(ValueError, match="CHECK constraint"):
        txlog.rename_column(root, "v", "value")
    with pytest.raises(ValueError, match="CHECK constraint"):
        txlog.drop_column(root, "v")
    txlog.drop_check_constraint(root, "v_nonneg")
    txlog.rename_column(root, "v", "value")  # now fine
    txlog.drop_column(root, "value")
    with pytest.raises(ValueError, match="only column"):
        txlog.drop_column(root, "k")


def test_in_commit_timestamps_and_timestamp_as_of(spark, tmp_path):
    """Every published entry carries an in-commit timestamp, strictly
    monotonic across versions even if the wall clock runs backwards
    (Delta's inCommitTimestamp rule: version order IS time order);
    TIMESTAMP AS OF resolves to the newest version at-or-before."""
    import time as _time
    import unittest.mock as mock

    root = str(tmp_path / "ts")
    txlog.append_table(_df(spark, 0, 5), root)
    t0 = txlog.history(root)[0]["ts"]
    # a writer with a SKEWED-BACKWARD clock still publishes a later ts
    with mock.patch.object(txlog.time, "time", return_value=t0 - 100.0):
        txlog.append_table(_df(spark, 5, 10), root)
    h = txlog.history(root)
    assert h[1]["ts"] > h[0]["ts"]
    _time.sleep(0.01)
    txlog.append_table(_df(spark, 10, 20), root)
    h = txlog.history(root)
    assert [e["ts"] for e in h] == sorted(e["ts"] for e in h)
    # resolution: between v1 and v2 -> v1; before v0 -> error; now -> v2
    mid = (h[1]["ts"] + h[2]["ts"]) / 2
    assert txlog.version_at_timestamp(root, mid) == 1
    assert txlog.version_at_timestamp(root, _time.time() + 1) == 2
    with pytest.raises(ValueError, match="predates"):
        txlog.version_at_timestamp(root, h[0]["ts"] - 1)
    assert txlog.read_table_as_of(spark, root, mid).count() == 10
    # an entry written before in-commit timestamps (no ts key) counts as
    # always-eligible, so legacy tables still resolve
    import json as _json

    legacy = os.path.join(root, "_log", "00000001.json")
    with open(legacy) as f:
        e1 = _json.load(f)
    del e1["ts"]
    with open(legacy, "w") as f:
        _json.dump(e1, f)
    assert txlog.version_at_timestamp(root, h[0]["ts"] + 1e-9) == 1


def test_identity_column_assignment(spark, tmp_path):
    """GENERATED BY DEFAULT AS IDENTITY: NULL rows (or a missing column)
    fill with unique increasing start + k*step values; explicit values
    pass through; the high-water mark rides the log entry so later
    commits continue where the last one stopped; MERGE keeps existing
    ids and assigns fresh ones to its inserts."""
    root = str(tmp_path / "idt")
    txlog.set_identity_column(root, "rid", start=100, step=10)
    txlog.append_table(
        spark.range(0, 7).selectExpr("id AS k", "id * 2 AS v").repartition(3),
        root,
    )
    got = txlog.read_table(spark, root)
    rids = sorted(r["rid"] for r in got.collect())
    assert rids == [100 + 10 * i for i in range(7)]
    assert txlog._list_entries(root)[-1]["identity_hwm"] == 170
    # second append continues from the watermark
    txlog.append_table(
        spark.range(7, 10).selectExpr("id AS k", "id * 2 AS v"), root
    )
    rids = sorted(r["rid"] for r in txlog.read_table(spark, root).collect())
    assert rids == [100 + 10 * i for i in range(10)]
    # explicit values pass through; only the NULL rows are assigned
    mixed = spark.createDataFrame(
        [(50, 100, 9999), (51, 102, None)], "k bigint, v bigint, rid bigint"
    )
    txlog.append_table(mixed, root)
    got = {r["k"]: r["rid"] for r in txlog.read_table(spark, root).collect()}
    assert got[50] == 9999 and got[51] == 200
    assert txlog._list_entries(root)[-1]["identity_hwm"] == 210
    # MERGE: matched rows keep their ids, inserted rows get fresh ones
    rid_k0 = txlog.read_table(spark, root).where("k = 0").first()["rid"]
    src = spark.createDataFrame(
        [(0, 1000), (777, 1234)], "k bigint, v bigint"
    ).selectExpr("k", "v", "CAST(NULL AS BIGINT) AS rid")
    # update only v: the matched row carries its EXISTING rid through the
    # rewrite (a null source rid never erases it)
    txlog.merge_into(
        spark, root, src, ["k"], update={"v": F.col("s.v")}
    )
    got = {r["k"]: (r["v"], r["rid"]) for r in txlog.read_table(spark, root).collect()}
    assert got[0] == (1000, rid_k0)  # kept id
    assert got[777][0] == 1234 and got[777][1] == 210  # fresh id
    # identity commits do NOT auto-retry version conflicts (id collision
    # risk): a conflict-once publish makes a plain append retry and land,
    # but an identity-assigning append must surface the conflict
    import unittest.mock as mock

    orig_publish = txlog._publish_entry
    state = {"raced": False}

    def conflict_once(r, v, e):
        if not state["raced"]:
            state["raced"] = True
            raise txlog.TxLogConflict("raced")
        return orig_publish(r, v, e)

    with mock.patch.object(txlog, "_publish_entry", conflict_once):
        with pytest.raises(txlog.TxLogConflict):
            txlog.append_table(
                spark.range(90, 95).selectExpr("id AS k", "id * 2 AS v"),
                root,
            )
    # the same conflict on a NON-identity table is absorbed by the
    # commuting-append retry
    root2 = str(tmp_path / "noid")
    txlog.append_table(_df(spark, 0, 5), root2)
    state["raced"] = False
    with mock.patch.object(txlog, "_publish_entry", conflict_once):
        assert txlog.append_table(_df(spark, 5, 10), root2) == 1


def test_merge_into_mor_null_key_source_rows_count_as_inserts(spark, tmp_path):
    """The MoR merge's insert count is arithmetic (n_source - distinct
    matched keys, round 11); a source row with a NULL merge key matches
    nothing under join equality, so it must land as an insert — exactly
    like the anti-join that stages the insert rows."""
    root = str(tmp_path / "mor_nullkey")
    txlog.append_table(
        spark.range(0, 10).selectExpr("id AS k", "CAST(id AS INT) AS v"),
        root,
    )
    src = spark.createDataFrame(
        [(3, 300), (None, 777), (42, 4200)], "k bigint, v int"
    )
    _, stats = txlog.merge_into_mor(spark, root, src, ["k"], update="all")
    assert stats == {"inserted": 2, "updated": 1, "deleted": 0}
    got = {(r["k"], r["v"]) for r in txlog.read_table(spark, root).collect()}
    assert (3, 300) in got and (42, 4200) in got and (None, 777) in got
    assert (3, 3) not in got
