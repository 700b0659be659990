"""Structured Streaming layer — [REF] for the Kafka-hosted record-stream
shape (the reference SMT runs inside a streaming pipeline, ExpandJson.java:32),
[EXT] for all time semantics (watermarks, windows, stateful ops): SMTs see one
record at a time and have no notion of event time (SURVEY.md §2.2 Streaming).
"""

from kafka_connect_expand_json_transform_spark.streaming.expand import (
    expand_json_stream,
)
from kafka_connect_expand_json_transform_spark.streaming.sources import (
    file_stream_source,
    foreach_batch_sink,
    memory_sink,
    rate_source,
    run_stream,
)
from kafka_connect_expand_json_transform_spark.streaming.stateful import (
    running_aggregate,
    running_aggregate_tws,
)
from kafka_connect_expand_json_transform_spark.streaming.windows import (
    session_window_agg,
    sliding_window_agg,
    stream_dedup,
    tumbling_window_agg,
)

__all__ = [
    "expand_json_stream",
    "file_stream_source",
    "foreach_batch_sink",
    "memory_sink",
    "rate_source",
    "run_stream",
    "running_aggregate",
    "running_aggregate_tws",
    "session_window_agg",
    "sliding_window_agg",
    "stream_dedup",
    "tumbling_window_agg",
]
