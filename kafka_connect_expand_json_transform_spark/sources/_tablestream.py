"""One streaming reader for every table format: ``txlogstream``,
``txlogcdf``, ``deltastream``, ``icebergstream`` and ``hudistream``.

Each format supplies a ``TableStream`` subclass: its source name, its
schema, its two offsets, and a planner, ``changes(start, end)``, that
turns a committed range into a list of ``FileTask``s.  The planner runs
on the driver inside ``partitions()``, so every fail-closed check (a
vacuumed or archived commit, an expired snapshot, a rewrite the options
do not allow, an uncaptured overwrite) raises before any task starts.
Spark then runs one read task per ``FileTask``: one per data file, or
one per touched file slice for a Hudi merge-on-read commit.  An
``availableNow`` drain of a table's backlog is one micro-batch whose
files spread over every core.

A ``FileTask`` carries everything its file needs: constant columns
(``_change_type``, ``_commit_version``, partition values), the column
mapping or field-id map, and Hudi's commit-time filter or merge-on-read
slice.  ``TableStreamReader.read`` is the one read loop: load the file,
then shape it to the stream schema as Arrow batches.

Offsets are the formats' own (``version``, ``snapshot_id``,
``instant``), so checkpoints written before this reader existed resume.
Every source is append-only: a row a later commit rewrites or deletes is
never retracted (each planner's docstring states its format's rule).

A read task costs a fixed Python-worker round trip on top of its file, so
many small files cost more than their rows; the planners still emit one
task per file, which is what lets large files use every core.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

from kafka_connect_expand_json_transform_spark.sources import _files


@dataclass
class FileTask(InputPartition):
    """One read task: a parquet file (or a Hudi merge-on-read slice)."""

    path: str | None  # parquet file; a MoR slice's base file (None: logs only)
    constants: dict | None = None  # column -> literal for every row
    mapping: dict | None = None  # logical -> physical column name
    field_ids: dict | None = None  # parquet field id -> logical name
    commit_time: str | None = None  # Hudi: keep rows this instant wrote
    logs: tuple | None = None  # Hudi MoR: the slice's log files
    instants: tuple = ()  # Hudi MoR: completed instants the merge honours


def parquet_tasks(path: str, constants: dict | None = None, **fields) -> list[FileTask]:
    """One ``FileTask`` per file of a parquet directory written by
    ``_files.write`` (or the file itself).  Its hive partition values
    (``_files.hive_values``: strings, ``None`` for a null partition)
    become constants that ``_shape_to_stream_batches`` casts to the
    column's type; files and directories starting with ``_`` or ``.`` are
    skipped, as pyarrow's own discovery does."""
    if not os.path.isdir(path):
        return [FileTask(path, constants, **fields)]
    tasks = []
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d[0] not in "_.")
        for name in sorted(files):
            if name[0] not in "_.":
                file = os.path.join(dirpath, name)
                parts = _files.hive_values(os.path.relpath(file, path))
                tasks.append(FileTask(file, {**parts, **(constants or {})} or None, **fields))
    return tasks


def _shape_to_stream_batches(table, schema, constants=None, mapping=None):
    """Shape a pyarrow table to the stream source's Spark schema and
    return Arrow RecordBatches — the columnar fast path of the Python
    DataSource read contract (a per-row tuple yield pickles every value
    across the Python/JVM boundary; at the sf10 probe that was ~78 s for
    10.5 M CDF rows vs ~7 s as batches).  Columns map BY NAME
    (pre-evolution files null-fill), dictionary-encoded columns decode,
    and every column casts to the exact Arrow type Spark itself derives
    from the schema (``to_arrow_schema`` — so int widening, date
    partitions, and decimal promotion all land typed).  ``constants``
    appends literal columns (``_commit_version``, partition values)
    vectorized, never a Python list; a string constant casts to the
    column's type.  Returns a LIST (built eagerly): the worker dispatches
    on the FIRST yielded element's type, so a reader must never mix tuple
    and batch yields."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(schema)
    n = table.num_rows
    constants = constants or {}
    mapping = mapping or {}
    arrays = []
    for field in target:
        # column mapping: data files store PHYSICAL names; CDF change
        # captures store logical names — resolve physical first, then
        # logical (rename guards keep the two namespaces disjoint)
        src = mapping.get(field.name, field.name)
        if src not in table.column_names and field.name in table.column_names:
            src = field.name
        # hive partition constants carry the directory's (physical) name
        const = field.name if field.name in constants else src
        if const in constants:
            value = constants[const]
            scalar = (
                pc.cast(pa.scalar(value), field.type)
                if isinstance(value, str)
                else pa.scalar(value, field.type)
            )
            arrays.append(pc.fill_null(pa.nulls(n, field.type), scalar))
        elif src in table.column_names:
            arr = table.column(src)
            if pa.types.is_dictionary(arr.type):
                arr = pc.cast(arr, arr.type.value_type)
            if (
                pa.types.is_timestamp(arr.type)
                and arr.type.tz is None
                and pa.types.is_timestamp(field.type)
                and field.type.tz is not None
            ):
                # naive parquet instants are UTC wall-clock in these tables
                arr = pc.assume_timezone(arr, "UTC")
            if arr.type != field.type:
                arr = pc.cast(arr, field.type)
            arrays.append(arr)
        else:
            arrays.append(pa.nulls(n, field.type))
    shaped = pa.table(arrays, schema=target)
    return list(shaped.to_batches(max_chunksize=1 << 16))


def _load(task: FileTask):
    """The task's rows as a pyarrow table, before shaping (None: none)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if task.logs is not None:
        from kafka_connect_expand_json_transform_spark.sources.hudi_reader import (
            _slice_commit_rows,
        )

        return _slice_commit_rows(task)
    table = pq.read_table(task.path)
    if task.field_ids:
        # Delta column mapping 'id': columns resolve by the parquet FIELD
        # IDS pyarrow surfaces as field metadata; physical names are
        # ignored per the spec
        names = []
        for fld in table.schema:
            fid = (fld.metadata or {}).get(b"PARQUET:field_id")
            names.append(
                task.field_ids.get(int(fid), fld.name) if fid is not None else fld.name
            )
        table = table.rename_columns(names)
    if task.commit_time is not None and "_hoodie_commit_time" in table.column_names:
        # Hudi CoW rewrites a whole slice: carried rows keep their
        # original commit time, so only this instant's rows stream
        table = table.filter(
            pc.equal(table.column("_hoodie_commit_time"), task.commit_time)
        )
    return table


class TableStream:
    """One table format's side of a stream: construct with the source
    options and the stream schema; ``changes`` plans a micro-batch."""

    name: str  # the source name ``spark.readStream.format`` takes

    def __init__(self, options, schema=None):
        self.options = options
        self.root = options["path"]
        self.schema = schema

    def flag(self, key: str) -> bool:
        return str(self.options.get(key, "false")).lower() == "true"

    @classmethod
    def read_schema(cls, options):
        raise NotImplementedError

    def initial_offset(self) -> dict:
        raise NotImplementedError

    def latest_offset(self) -> dict:
        raise NotImplementedError

    def changes(self, start: dict, end: dict) -> list[FileTask]:
        raise NotImplementedError


class TableStreamReader(DataSourceStreamReader):
    def __init__(self, stream: TableStream):
        self.stream = stream

    def initialOffset(self) -> dict:
        return self.stream.initial_offset()

    def latestOffset(self) -> dict:
        return self.stream.latest_offset()

    def partitions(self, start: dict, end: dict):
        return self.stream.changes(start, end)

    def read(self, task: FileTask):
        table = _load(task)
        if table is not None and table.num_rows:
            yield from _shape_to_stream_batches(
                table, self.stream.schema, task.constants, task.mapping
            )

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass


class TableStreamSource(DataSource):
    stream: type  # the format's TableStream subclass

    @classmethod
    def name(cls) -> str:
        return cls.stream.name

    def schema(self):
        return self.stream.read_schema(self.options)

    def streamReader(self, schema):
        return TableStreamReader(self.stream(self.options, schema))


def register(spark, stream: type) -> None:
    """Register ``stream`` (a ``TableStream`` subclass) under its name."""
    spark.dataSource.register(
        type(f"{stream.__name__}Source", (TableStreamSource,), {"stream": stream})
    )
