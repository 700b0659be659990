"""Kafka stream source/sink wiring — [REF]: the reference runs inside a Kafka
Connect pipeline (readme.md:38-42 connector config; record tuple at
ExpandJson.java:32).  Spark's Kafka source exposes the same record tuple as
columns: key, value (binary), topic, partition, offset, timestamp.

No broker exists in the test container, so these builders are exercised by
unit tests only up to plan construction; streaming semantics are tested
against memory/rate sources (see streaming/).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from kafka_connect_expand_json_transform_spark.operators.connect_smt import _side_of
from kafka_connect_expand_json_transform_spark.operators.expand_json import _expand


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "latest",
    cast_strings: bool = True,
    options: dict | None = None,
) -> DataFrame:
    """ConnectRecord-equivalent streaming source (ExpandJson.java:32 tuple)."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
    )
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    df = reader.load()
    if cast_strings:
        # JSON payloads arrive as UTF-8 bytes; expand_json casts anyway, but
        # exposing string columns mirrors the SMT's String-typed fields
        df = df.withColumn("key", df["key"].cast("string")).withColumn(
            "value", df["value"].cast("string")
        )
    return df


def expand_kafka_records(
    df: DataFrame,
    side: str = "value",
    schema=None,
    infer: str = "sample",
    sample_df: DataFrame | None = None,
    mode: str = "PERMISSIVE",
    schema_name_prefix: str | None = None,
) -> DataFrame:
    """The reference's ``ExpandJson$Key`` / ``ExpandJson$Value`` deployment
    shape (ExpandJson.java:277-319, readme.md:38-42) over the Kafka record
    tuple: expand the chosen side's JSON text into a typed struct, pass every
    other record column (topic/partition/offset/timestamp and the other side)
    through untouched.

    Works on batch or streaming frames; ``infer='sample'`` reads
    ``sample_df`` when given, and a stream needs it (the strategy rule of
    ``operators.expand_json``).
    """
    if side not in ("key", "value"):
        raise ValueError("side must be 'key' or 'value' (ExpandJson.java:277,299)")
    return _expand(
        df,
        [side],
        sample_df=sample_df,
        schema=schema,
        infer=infer,
        mode=mode,
        schema_name_prefix=schema_name_prefix,
    )


def write_kafka_stream(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_location: str,
    output_mode: str = "append",
    trigger: dict | None = None,
):
    """Kafka sink — the SMT's output path back into the Connect pipeline
    (ExpandJson.java:103,128). Expects ``key``/``value`` columns; expanded
    struct/variant sides (the output of ``expand_kafka_records``) are
    serialized back to JSON text automatically, so the read -> expand ->
    write round-trip works as-is."""
    from pyspark.sql import functions as F

    for side in ("key", "value"):
        if side in df.columns:
            dt = df.schema[side].dataType.simpleString()
            if dt not in ("string", "binary"):
                df = df.withColumn(side, F.to_json(F.col(side)))
    writer = (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_location)
        .outputMode(output_mode)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def from_connect_config(config: dict):
    """Adapter for the reference's exact connector configuration (readme.md:
    38-42; config surface ExpandJson.java:48-59): paste the SMT's properties,
    get back a DataFrame transform.

    Recognized keys:
      * ``type`` — ``...ExpandJson$Key`` or ``...ExpandJson$Value`` (side)
      * ``fields`` — comma-separated root-level fields (schema'd mode)
      * ``schema.name.prefix`` — struct-name metadata prefix

    The returned callable applies the reference's two mode guards at plan
    time: ``fields`` on a schemaless (non-struct) side raises (the
    DataException at ExpandJson.java:95-98), and a struct side without
    ``fields`` raises (ExpandJson.java:107-110).  Field mode expands the
    JSON-text fields INSIDE the record side via dotted-path rewrite; the
    rest of the record passes through untouched.
    """
    side = _side_of(str(config.get("type", "")))
    raw = config.get("fields", "")
    fields = [f.strip() for f in str(raw).split(",") if f.strip()] if raw else []
    prefix = config.get("schema.name.prefix")

    def apply(
        df: DataFrame,
        sample_df: DataFrame | None = None,
        infer: str = "sample",
        mode: str = "PERMISSIVE",
    ) -> DataFrame:
        is_struct = isinstance(df.schema[side].dataType, StructType)
        if fields and not is_struct:
            raise ValueError(
                f"'fields' configured but record {side} has no schema (not a "
                "struct) — the reference raises DataException here "
                "(ExpandJson.java:95-98)"
            )
        if not fields and is_struct:
            raise ValueError(
                f"record {side} is a struct but 'fields' is empty — the "
                "reference raises DataException here (ExpandJson.java:107-110)"
            )
        return _expand(
            df,
            [f"{side}.{f}" for f in fields] or [side],
            sample_df=sample_df,
            infer=infer,
            mode=mode,
            schema_name_prefix=prefix,
        )

    return apply


# ---------------------------------------------------------------------------
# Confluent Schema Registry wire format (public spec: one magic byte 0x00,
# a 4-byte big-endian schema id, then the bare Avro binary datum).  The
# reference's deployment commonly pairs Connect with Avro + Schema Registry;
# no registry service exists in this container, so the "registry" is a
# caller-supplied {schema_id: avro_schema} dict — the FRAMING and the datum
# codec are the real, spec-conformant parts (pure-stdlib avro_codec).
# ---------------------------------------------------------------------------


def confluent_frame_udf(schema_id: int, avro_schema: dict):
    """Return a ``mapInPandas``-ready function encoding struct rows into
    Confluent-framed Avro wire bytes (column ``wire`` binary).  Arrow-
    batched: one Python invocation per batch, avro_codec per row (the datum
    encoder is allocation-light); at scale this is the produce-side framing
    Connect's AvroConverter performs."""
    import struct as _struct

    import pandas as pd

    from kafka_connect_expand_json_transform_spark.sources import avro_codec as AC

    fields = [f["name"] for f in avro_schema["fields"]]
    prefix = b"\x00" + _struct.pack(">I", schema_id)

    def frame(batches):
        named: dict = {}
        AC.collect_named(avro_schema, named)
        for pdf in batches:
            out = []
            for row in pdf[fields].itertuples(index=False):
                buf = bytearray()
                AC.encode_value(buf, avro_schema, dict(zip(fields, row)), named)
                out.append(prefix + bytes(buf))
            yield pd.DataFrame({"wire": out})

    return frame


def confluent_unframe_udf(registry: dict[int, dict]):
    """Return a ``mapInPandas``-ready function decoding Confluent-framed
    Avro wire bytes back into columns (the consume-side AvroConverter
    role): validates the magic byte, resolves the 4-byte schema id against
    ``registry`` (unknown ids raise — the fail-fast a real deserializer
    performs), and decodes the bare datum with the pure-stdlib codec.
    Output columns follow the registry schema's field order."""
    import struct as _struct

    import pandas as pd

    from kafka_connect_expand_json_transform_spark.sources import avro_codec as AC

    def unframe(batches):
        named_by_id: dict[int, dict] = {}
        for pdf in batches:
            rows = []
            for wire in pdf["wire"]:
                w = bytes(wire)
                if not w or w[0] != 0:
                    raise ValueError(f"bad magic byte {w[:1]!r} (want 0x00)")
                sid = _struct.unpack(">I", w[1:5])[0]
                if sid not in registry:
                    raise KeyError(f"schema id {sid} not in registry")
                schema = registry[sid]
                if sid not in named_by_id:
                    named: dict = {}
                    AC.collect_named(schema, named)
                    named_by_id[sid] = named
                dec = AC.Decoder(w[5:])
                rows.append(AC.decode_value(dec, schema, named_by_id[sid]))
            yield pd.DataFrame(rows)

    return unframe
