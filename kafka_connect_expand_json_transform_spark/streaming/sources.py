"""Broker-free streaming sources/sinks for tests and local runs.

The reference's host runtime (Kafka Connect) owns transport; our Kafka wiring
lives in ``sources.kafka``. No broker exists in the test container, so
deterministic streaming tests run file sources with ``availableNow`` triggers
into the memory sink (SURVEY.md §5 strategy (3)).

``run_stream`` is the one way to run a stream to completion: it pins the
state-partition count for the query, drains everything available, and fails
loudly on a stuck or failed query instead of returning partial rows.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructType

# A streaming query creates one state store per shuffle partition per
# stateful operator, and pins the count in its checkpoint's offset metadata
# at the first batch.  At these batch sizes per-batch coordination, not
# compute, is the cost, so a batch-tuned session count (32 here, thousands on
# a cluster) multiplies state-store setup and commit work for no parallelism.
_STATE_PARTITIONS = 8
_DRAIN_TIMEOUT_S = 120
# The pin is a session-conf write; serialize it against concurrent starts.
_START_LOCK = threading.Lock()


def file_stream_source(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    fmt: str = "json",
    options: dict | None = None,
) -> DataFrame:
    """Streaming file source. Schema is mandatory: streaming readers cannot
    infer (there is no data yet at plan time)."""
    reader = spark.readStream.format(fmt).schema(schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load(path)


def rate_source(
    spark: SparkSession, rows_per_second: int = 100, num_partitions: int | None = None
) -> DataFrame:
    """Synthetic ``(timestamp, value)`` stream for load/latency tests."""
    reader = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second)
    if num_partitions is not None:
        reader = reader.option("numPartitions", num_partitions)
    return reader.load()


def run_stream(writer: DataStreamWriter) -> StreamingQuery:
    """Run ``writer`` to completion and return the terminated query (read
    ``recentProgress`` off it).

    The query runs with ``availableNow``: it processes everything available
    at start, then stops.  Python stream readers whose ``latestOffset`` is
    the table head drain in one batch.  ``spark.sql.shuffle.partitions`` is
    set to ``_STATE_PARTITIONS`` only across ``start()``, which is where the
    query takes its session copy; the caller's value is restored after.

    Raises ``StreamingQueryException`` if the query fails, and
    ``TimeoutError`` (after stopping the query) if it has not finished
    within ``_DRAIN_TIMEOUT_S`` seconds."""
    conf = writer._spark.conf  # the writer exposes no public session handle
    with _START_LOCK:
        prev = conf.get("spark.sql.shuffle.partitions")
        conf.set("spark.sql.shuffle.partitions", str(_STATE_PARTITIONS))
        try:
            query = writer.trigger(availableNow=True).start()
        finally:
            conf.set("spark.sql.shuffle.partitions", prev)
    if not query.awaitTermination(_DRAIN_TIMEOUT_S):
        query.stop()
        raise TimeoutError(
            f"stream {query.name or query.id} did not drain within "
            f"{_DRAIN_TIMEOUT_S} s"
        )
    return query


def memory_sink(
    df: DataFrame, name: str, output_mode: str = "append"
) -> StreamingQuery:
    """Run the stream to completion into an in-memory table ``name`` (query
    it with ``spark.table(name)``) and return the terminated query."""
    df.sparkSession.catalog.dropTempView(name)
    return run_stream(
        df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    )


def foreach_batch_sink(df: DataFrame, func, checkpoint_location: str) -> StreamingQuery:
    """``foreachBatch`` escape hatch: each micro-batch arrives as a *batch*
    DataFrame, so any batch-only operator (MERGE, complex joins, multi-sink
    fan-out) can run per batch with exactly-once bookkeeping via the
    checkpoint.  Starts an ``availableNow`` query and returns it live; the
    caller awaits it."""
    return (
        df.writeStream.foreachBatch(func)
        .option("checkpointLocation", checkpoint_location)
        .trigger(availableNow=True)
        .start()
    )
