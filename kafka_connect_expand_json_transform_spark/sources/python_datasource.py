"""Custom pure-Python DataSource — [EXT] (SURVEY §2.2 sources).

The reference lives inside Kafka Connect, a CONNECTOR FRAMEWORK: its users
write sources/sinks as plugins (readme.md:16, pom.xml connect-api dep).
Spark 4's Python DataSource API is the Spark-native analogue — a connector
written in pure Python, registered by name, readable as batch or stream.
This module ships one: ``connect_records``, a deterministic generator of
ConnectRecord-shaped tuples (topic / partition / offset / key / value —
ExpandJson.java:32) whose JSON value payloads feed ``expand_json`` exactly
like a real topic would, without a broker.

Determinism is the point: record ``i`` is a pure function of ``i``, so the
same frame is reproducible in ANSI SQL (``generate_series``) and the whole
custom-connector path gets a DuckDB oracle (`custom_datasource_expand`).

Scale notes: ``partitions()`` splits the offset range into
``numPartitions`` independent slices — each executor generates its slice
locally (no driver materialization, no shuffle), which is the same
contract a real partition-parallel connector (JDBC ranges, Kafka topic
partitions, object-store listings) satisfies.  The streaming reader hands
out micro-batch offset ranges the same way.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

RECORD_SCHEMA = (
    "topic string, partition int, offset bigint, key string, value string"
)


def record_at(i: int, topic: str, num_partitions: int) -> tuple:
    """Record ``i`` as a pure function of ``i`` — the reproducibility
    contract shared with the SQL oracle (generate_series arithmetic)."""
    return (
        topic,
        i % num_partitions,
        i,
        json.dumps({"uid": i % 50}, separators=(",", ":")),
        json.dumps({"k": i % 100, "tag": f"t{i % 7}"}, separators=(",", ":")),
    )


@dataclass
class _Slice(InputPartition):
    start: int
    end: int


class ConnectRecordsDataSource(DataSource):
    """``spark.read.format("connect_records").option("rows", n)`` after
    ``spark.dataSource.register(ConnectRecordsDataSource)``.

    Options: ``rows`` (total records, default 1000), ``topic`` (default
    "synthetic"), ``numPartitions`` (parallel slices, default 8),
    ``rowsPerBatch`` (streaming: records admitted per micro-batch).
    """

    @classmethod
    def name(cls) -> str:
        return "connect_records"

    def schema(self) -> str:
        return RECORD_SCHEMA

    def reader(self, schema: StructType) -> "ConnectRecordsReader":
        return ConnectRecordsReader(self.options)

    def streamReader(self, schema: StructType) -> "ConnectRecordsStreamReader":
        return ConnectRecordsStreamReader(self.options)


class ConnectRecordsReader(DataSourceReader):
    """Batch reader.  ``read`` yields ARROW RECORD BATCHES, not per-row
    tuples: Python-source rows cross the Python/JVM boundary through Arrow
    either way, but yielding a columnar batch per slice avoids the per-row
    pickling hop — the pattern a high-volume production connector must use.
    """

    def __init__(self, options):
        self.rows = int(options.get("rows", 1000))
        self.topic = options.get("topic", "synthetic")
        self.num_partitions = int(options.get("numpartitions", 8))
        self.lo, self.hi = 0, self.rows  # offset range, narrowed by pushdown

    def pushFilters(self, filters):
        """Predicate pushdown INTO the connector: range predicates on
        ``offset`` narrow the generated slice range itself, so filtered rows
        are never produced at all — the connector-boundary analogue of
        parquet row-group skipping (offset is this source's monotonic
        physical key, like a Kafka partition offset or a JDBC range column).
        Everything else is returned for Spark to evaluate post-scan."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )

        for f in filters:
            attr = getattr(f, "attribute", None)
            if attr == ("offset",) and isinstance(
                f, (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
            ):
                v = int(f.value)
                if isinstance(f, EqualTo):
                    self.lo = max(self.lo, v)
                    self.hi = min(self.hi, v + 1)
                elif isinstance(f, GreaterThan):
                    self.lo = max(self.lo, v + 1)
                elif isinstance(f, GreaterThanOrEqual):
                    self.lo = max(self.lo, v)
                elif isinstance(f, LessThan):
                    self.hi = min(self.hi, v)
                else:  # LessThanOrEqual
                    self.hi = min(self.hi, v + 1)
            else:
                yield f  # not handled here; Spark evaluates it post-scan

    def partitions(self):
        lo, hi = self.lo, max(self.lo, self.hi)
        per = max(1, -(-(hi - lo) // self.num_partitions))
        return [
            _Slice(x, min(x + per, hi)) for x in range(lo, hi, per)
        ] or [_Slice(lo, lo)]

    def read(self, partition: _Slice):
        import pyarrow as pa

        recs = [
            record_at(i, self.topic, self.num_partitions)
            for i in range(partition.start, partition.end)
        ]
        if not recs:
            return
        cols = list(zip(*recs))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(cols[0], pa.string()),
                pa.array(cols[1], pa.int32()),
                pa.array(cols[2], pa.int64()),
                pa.array(cols[3], pa.string()),
                pa.array(cols[4], pa.string()),
            ],
            names=["topic", "partition", "offset", "key", "value"],
        )


class ConnectRecordsStreamReader(DataSourceStreamReader):
    """Micro-batch reader over the same deterministic record space.

    The offset contract: ``latestOffset()`` advances a driver-side cursor by
    at most ``rowsPerBatch`` per trigger (the admission control knob —
    truncating inside ``partitions()`` instead would desync the committed
    offset from the rows actually read), and ``partitions(start, end)``
    returns the full admitted range.  ``availableNow`` takes one
    ``latestOffset()`` at start, so it would stop after the first admitted
    batch; drive with a processing-time trigger and stop when ``offset``
    reaches ``rows``.
    """

    def __init__(self, options):
        self.rows = int(options.get("rows", 1000))
        self.topic = options.get("topic", "synthetic")
        self.num_partitions = int(options.get("numpartitions", 8))
        self.rows_per_batch = int(options.get("rowsperbatch", 250))
        self._cursor = 0

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def latestOffset(self) -> dict:
        self._cursor = min(self._cursor + self.rows_per_batch, self.rows)
        return {"offset": self._cursor}

    def partitions(self, start: dict, end: dict):
        return [_Slice(int(start["offset"]), int(end["offset"]))]

    def read(self, partition: _Slice):
        for i in range(partition.start, partition.end):
            yield record_at(i, self.topic, self.num_partitions)

    def commit(self, end: dict) -> None:
        pass  # stateless generator: nothing to clean up

    def stop(self) -> None:
        pass


def register(spark) -> None:
    """Idempotent registration of the connector with a SparkSession.

    Python-source filter pushdown sits behind a conf flag (planner consults
    it when the reader implements ``pushFilters``); enable it here so
    harness-owned sessions get the pruned reads too."""
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass  # locked-down conf: get_spark sessions set it at build
    spark.dataSource.register(ConnectRecordsDataSource)


# ---------------------------------------------------------------------------
# Sink side: Connect plugins are sources AND sinks, so the Python-connector
# story needs a writer too.  ``jsonl_sink`` writes any DataFrame as NDJSON
# part files with a real two-phase commit: tasks write dot-prefixed .tmp
# files (invisible to readers), the driver renames them into place on
# commit and deletes them on abort — the same protocol object-store
# committers use.  Local-FS paths here; a production variant swaps the
# open/rename/delete calls for an object-store client, protocol unchanged.
# ---------------------------------------------------------------------------


@dataclass
class _WroteFile(WriterCommitMessage):
    tmp_path: str
    final_path: str
    n_rows: int


class _JsonLinesWriterBase:
    def __init__(self, options, overwrite: bool):
        path = options.get("path")
        if not path:
            raise ValueError("jsonl_sink requires .option('path', ...)")
        self.path = path
        self.overwrite = overwrite

    def _write_slice(self, iterator, prefix: str) -> _WroteFile:
        import os

        from pyspark import TaskContext

        ctx = TaskContext.get()
        name = f"{prefix}part-{ctx.partitionId():05d}-{ctx.taskAttemptId()}.jsonl"
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, "." + name + ".tmp")
        n = 0
        with open(tmp, "w", encoding="utf-8") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict(recursive=True), default=str) + "\n")
                n += 1
        return _WroteFile(tmp, os.path.join(self.path, name), n)

    def _commit_all(self, messages) -> None:
        import os

        if self.overwrite:
            keep = {m.final_path for m in messages}
            for existing in os.listdir(self.path):
                full = os.path.join(self.path, existing)
                if existing.endswith(".jsonl") and full not in keep:
                    os.remove(full)
        for m in messages:
            os.replace(m.tmp_path, m.final_path)  # atomic on POSIX

    def _abort_all(self, messages) -> None:
        import os

        for m in messages:
            try:
                os.remove(m.tmp_path)
            except FileNotFoundError:
                pass


class JsonLinesWriter(_JsonLinesWriterBase, DataSourceWriter):
    def write(self, iterator) -> _WroteFile:
        return self._write_slice(iterator, "")

    def commit(self, messages) -> None:
        self._commit_all(messages)

    def abort(self, messages) -> None:
        self._abort_all(messages)


class JsonLinesStreamWriter(_JsonLinesWriterBase, DataSourceStreamWriter):
    """Per-epoch exactly-once: files are prefixed with the epoch id, so a
    replayed epoch overwrites its own files instead of duplicating them."""

    def write(self, iterator) -> _WroteFile:
        from pyspark import TaskContext

        epoch = TaskContext.get().getLocalProperty("streaming.sql.batchId") or "0"
        return self._write_slice(iterator, f"epoch-{int(epoch):06d}-")

    def commit(self, messages, batchId: int) -> None:
        self._commit_all(messages)

    def abort(self, messages, batchId: int) -> None:
        self._abort_all(messages)


class JsonLinesSinkDataSource(DataSource):
    """``df.write.format("jsonl_sink").option("path", dir).save()`` (batch)
    or ``df.writeStream.format("jsonl_sink")...`` (per-epoch commit)."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_sink"

    def writer(self, schema: StructType, overwrite: bool) -> JsonLinesWriter:
        return JsonLinesWriter(self.options, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool) -> JsonLinesStreamWriter:
        return JsonLinesStreamWriter(self.options, overwrite)


def register_sink(spark) -> None:
    """Idempotent registration of the NDJSON sink connector."""
    spark.dataSource.register(JsonLinesSinkDataSource)
