"""The one table stream reader (``sources/_tablestream.py``): each format's
planner plans one task per data file (one per touched slice for Hudi
merge-on-read), every source resumes from its checkpoint without losing
or repeating a row, offsets keep their formats, and no other module
grows a table stream reader."""

import json
import os
import pathlib
import re

from pyspark.sql import functions as F

from kafka_connect_expand_json_transform_spark.sources import txlog
from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
    _DeltaStream,
    register_delta_stream_source,
)
from kafka_connect_expand_json_transform_spark.sources.delta_writer import delta_append
from kafka_connect_expand_json_transform_spark.sources.hudi_reader import (
    _HudiStream,
    hudi_append,
    hudi_mor_upsert,
    register_hudi_stream_source,
)
from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
    _IcebergStream,
    register_iceberg_stream_source,
)
from kafka_connect_expand_json_transform_spark.sources.iceberg_writer import (
    iceberg_append,
)
from kafka_connect_expand_json_transform_spark.streaming import run_stream


def _rows(spark, lo, hi, files):
    return spark.range(lo, hi, numPartitions=files).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )


# (source name, registration, append(df, root), planner)
FORMATS = [
    ("txlogstream", txlog.register_stream_source, txlog.append_table, txlog._TxLogStream),
    ("txlogcdf", txlog.register_cdf_stream_source, txlog.append_table,
     txlog._TxLogCdfStream),
    ("deltastream", register_delta_stream_source, delta_append, _DeltaStream),
    ("icebergstream", register_iceberg_stream_source, iceberg_append, _IcebergStream),
    ("hudistream", register_hudi_stream_source,
     lambda df, root: hudi_append(df, root, record_key="id"), _HudiStream),
]
OFFSET_KEY = {"txlogstream": "version", "txlogcdf": "version", "deltastream": "version",
              "icebergstream": "snapshot_id", "hudistream": "instant"}


def _data_files(root: str) -> set[str]:
    """Every parquet data file under ``root`` (log and metadata dirs, whose
    names start with ``_`` or ``.``, excluded)."""
    out = set()
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if d[0] not in "_."]
        out.update(os.path.join(dirpath, f) for f in files
                   if f.endswith(".parquet") and f[0] not in "_.")
    return out


def test_planners_plan_one_task_per_data_file(spark, tmp_path):
    """A micro-batch over N data files plans N tasks, each naming one of
    them; the first batch over two appends of 3 and 2 files plans 5."""
    for name, _register, append, stream in FORMATS:
        root = str(tmp_path / name)
        append(_rows(spark, 0, 30, 3), root)
        first = _data_files(root)
        append(_rows(spark, 30, 50, 2), root)
        written = _data_files(root)
        assert len(first) == 3 and len(written) == 5, name
        reader = stream({"path": root}, stream.read_schema({"path": root}))
        tasks = reader.changes(reader.initial_offset(), reader.latest_offset())
        paths = [t.path.removeprefix("file:") for t in tasks]
        assert sorted(paths) == sorted(written), name
        if name == "txlogcdf":
            assert {t.constants["_change_type"] for t in tasks} == {"insert"}


def test_hudi_mor_planner_plans_one_task_per_touched_slice(spark, tmp_path):
    """A MoR commit plans one task per file slice it touched: the base
    commit's two file groups, then the upsert's updated group (a log
    block) and its new insert group."""
    root = str(tmp_path / "mor")
    base = spark.range(0, 6).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    i1 = hudi_mor_upsert(base.coalesce(2), root, record_key="k")
    update = spark.createDataFrame([(1, 100), (9, 900)], "k long, v long")
    i2 = hudi_mor_upsert(update, root, record_key="k", instant=str(int(i1) + 1000))
    with open(os.path.join(root, ".hoodie", f"{i2}.deltacommit")) as fh:
        touched = {st["fileId"] for sts in json.load(fh)["partitionToWriteStats"].values()
                   for st in sts}
    reader = _HudiStream({"path": root}, _HudiStream.read_schema({"path": root}))
    assert len(reader.changes({"instant": ""}, {"instant": i1})) == 2
    tasks = reader.changes({"instant": i1}, {"instant": i2})
    assert len(tasks) == len(touched) == 2
    assert all(t.logs is not None and t.commit_time == i2 for t in tasks)
    assert sum(1 for t in tasks if t.logs) == 1  # the updated group's log


def test_table_streams_resume_from_checkpoint(spark, tmp_path):
    """Every source drains, gets one more commit and restarts from the
    same checkpoint: each row arrives exactly once, and ``offsets/N``
    holds the format's own offset key."""
    for name, register, append, _stream in FORMATS:
        root = str(tmp_path / name)
        out, ckpt = str(tmp_path / f"{name}_out"), str(tmp_path / f"{name}_ckpt")
        register(spark)
        append(_rows(spark, 0, 30, 3), root)

        def drain():
            run_stream(
                spark.readStream.format(name).option("path", root).load()
                .select("id", "v")
                .writeStream.format("parquet").outputMode("append")
                .option("path", out).option("checkpointLocation", ckpt)
            )
            return sorted(r.id for r in spark.read.parquet(out).collect())

        assert drain() == list(range(30)), name
        append(_rows(spark, 30, 50, 2), root)
        assert drain() == list(range(50)), name
        for n in ("0", "1"):
            with open(os.path.join(ckpt, "offsets", n)) as fh:
                offset = json.loads(fh.read().splitlines()[-1])
            assert list(offset) == [OFFSET_KEY[name]], (name, offset)


def test_one_table_stream_reader():
    """Source scan: ``sources/_tablestream.py`` holds the only table stream
    reader.  Outside it only ``sources/python_datasource.py`` (the
    ``connect_records`` generator) subclasses ``DataSourceStreamReader``,
    and nothing else calls ``_shape_to_stream_batches``."""
    pkg = pathlib.Path(txlog.__file__).parent.parent
    readers, shapers = [], []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        src = path.read_text()
        if rel == "sources/_tablestream.py":
            continue
        if re.search(r"class\s+\w+\s*\([^)]*\bDataSourceStreamReader\b", src) and (
            rel != "sources/python_datasource.py"
        ):
            readers.append(rel)
        if re.search(r"_shape_to_stream_batches\s*\(", src):
            shapers.append(rel)
    assert readers == [] and shapers == []
