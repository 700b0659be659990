"""Pure-Python Avro stack: codec golden bytes straight from the Avro 1.11
spec (so the encoding is validated against the public spec, not merely
against itself), container-file round-trips, the ``avro_py`` DataSource
(file read/write through Spark), and the wire-format ``expand_avro_py``
with the JSON core's PERMISSIVE/FAILFAST contract."""

import datetime as dt
import io
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from kafka_connect_expand_json_transform_spark.sources import avro_codec as C
from kafka_connect_expand_json_transform_spark.sources import avro_py as A
from kafka_connect_expand_json_transform_spark.streaming import run_stream


def enc(schema, value):
    named = {}
    C.collect_named(schema, named)
    buf = bytearray()
    C.encode_value(buf, schema, value, named)
    return bytes(buf)


def test_codec_golden_bytes_per_spec():
    # zig-zag varint examples from the Avro spec's binary-encoding table
    assert enc("long", 0) == b"\x00"
    assert enc("long", -1) == b"\x01"
    assert enc("long", 1) == b"\x02"
    assert enc("long", -2) == b"\x03"
    assert enc("long", 64) == b"\x80\x01"
    assert enc("int", -64) == b"\x7f"
    assert enc("string", "foo") == b"\x06foo"
    assert enc("boolean", True) == b"\x01"
    assert enc("double", 1.0) == b"\x00\x00\x00\x00\x00\x00\xf0?"
    # spec example: array of longs [3, 27] -> count 2, items, terminator 0
    assert enc({"type": "array", "items": "long"}, [3, 27]) == b"\x04\x06\x36\x00"
    # union ["null","long"]: branch index then datum; null is branch 0
    assert enc(["null", "long"], None) == b"\x00"
    assert enc(["null", "long"], 5) == b"\x02\x0a"
    rec = {"type": "record", "name": "R",
           "fields": [{"name": "a", "type": "long"}, {"name": "b", "type": "string"}]}
    assert enc(rec, {"a": 3, "b": "x"}) == b"\x06\x02x"


def test_codec_decode_inverts_encode_on_edges():
    sch = {"type": "record", "name": "E", "fields": [
        {"name": "v", "type": "long"},
        {"name": "d", "type": {"type": "bytes", "logicalType": "decimal",
                               "precision": 12, "scale": 2}},
        {"name": "day", "type": {"type": "int", "logicalType": "date"}},
        {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
    ]}
    rows = [
        {"v": v, "d": Decimal(str(d)), "day": dt.date(1969, 12, 31) + dt.timedelta(days=i),
         "ts": dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=m)}
        for i, (v, d, m) in enumerate([
            (0, "0.00", 0), (-1, "-0.01", -1), (2**62, "9999999999.99", 2**40),
            (-2**62, "-9999999999.99", -7), (127, "1.05", 1),
        ])
    ]
    buf = io.BytesIO()
    assert C.write_container(buf, sch, iter(rows), codec="deflate") == len(rows)
    buf.seek(0)
    assert list(C.read_container(buf)) == rows


def test_container_header_and_corruption_detection(tmp_path):
    sch = {"type": "record", "name": "T", "fields": [{"name": "x", "type": "long"}]}
    p = str(tmp_path / "t.avro")
    C.write_container(p, sch, ({"x": i} for i in range(10)))
    raw = open(p, "rb").read()
    assert raw[:4] == b"Obj\x01"
    assert b"avro.schema" in raw and b"avro.codec" in raw
    # flip a sync-marker byte -> block-level corruption must be detected
    bad = bytearray(raw)
    bad[-1] ^= 0xFF
    with pytest.raises(ValueError, match="sync marker"):
        list(C.read_container(io.BytesIO(bytes(bad))))
    with pytest.raises(ValueError, match="magic"):
        list(C.read_container(io.BytesIO(b"PAR1" + raw[4:])))


def test_datasource_file_roundtrip_exact(spark, tmp_path):
    A.register(spark)
    out = str(tmp_path / "avro_out")
    df = spark.range(500).select(
        F.col("id"),
        (F.col("id") % 5).cast("int").alias("grp"),
        F.when(F.col("id") % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("v"), F.col("id").cast("string"))).alias("name"),
        (F.col("id") * F.lit(0.25)).cast("decimal(12,2)").alias("amount"),
        F.array(F.col("id"), F.col("id") + 1).alias("pair"),
    )
    df.repartition(4).write.format("avro_py").mode("overwrite").option("path", out).save()
    back = spark.read.format("avro_py").option("path", out).load()
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    # overwrite replaces, never appends
    df.limit(10).write.format("avro_py").mode("overwrite").option("path", out).save()
    assert spark.read.format("avro_py").option("path", out).load().count() == 10


def test_wire_expand_permissive_and_failfast(spark):
    df = spark.range(40).select(
        F.col("id"),
        F.struct((F.col("id") % 7).alias("k"),
                 F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias("tag"))
        .alias("payload"),
    )
    ser, schema_json = A.to_avro_py_column_rows(df, "payload")
    back = A.expand_avro_py(ser, "payload", schema_json)
    orig = sorted((r["id"], r["payload"]["k"], r["payload"]["tag"]) for r in df.collect())
    got = sorted((r["id"], r["payload"]["k"], r["payload"]["tag"]) for r in back.collect())
    assert got == orig
    # poison pills: truncated varint bytes
    bad = ser.withColumn(
        "payload",
        F.when(F.col("id") % 10 == 0, F.lit(b"\x81")).otherwise(F.col("payload")),
    )
    perm = A.expand_avro_py(bad, "payload", schema_json)
    assert perm.where(F.col("payload").isNull()).count() == 4
    with pytest.raises(Exception):
        A.expand_avro_py(bad, "payload", schema_json, mode="FAILFAST").collect()


def test_schema_mapping_rejects_multi_branch_unions():
    with pytest.raises(ValueError, match="unions"):
        A.avro_to_spark_type(["null", "long", "string"])


def test_streaming_avro_sink_exactly_once_files(spark, tmp_path):
    """writeStream -> avro_py: a real micro-batch run lands epoch-prefixed
    container files via the two-phase commit, and the re-read equals the
    batch input."""
    A.register(spark)
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    batch = spark.range(200).select(
        F.col("id"), (F.col("id") % 3).cast("int").alias("grp")
    )
    batch.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    run_stream(
        stream.writeStream.format("avro_py")
        .option("path", out)
        .option("checkpointLocation", ckpt)
    )
    import os

    files = [f for f in os.listdir(out) if f.endswith(".avro")]
    assert files and all(f.startswith("epoch-") for f in files)
    assert not [f for f in os.listdir(out) if f.endswith(".tmp")]
    back = spark.read.format("avro_py").option("path", out).load()
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, batch.collect()))


def test_split_reads_cover_exactly_once_pure_codec(tmp_path):
    """Contiguous byte-range splits over one container file read every row
    exactly once, at any split size (incl. sizes smaller than a block,
    splits landing mid-block, and a split past the last sync)."""
    sch = {"type": "record", "name": "S", "fields": [
        {"name": "i", "type": "long"}, {"name": "s", "type": "string"}]}
    p = str(tmp_path / "s.avro")
    rows = [{"i": i, "s": f"row-{i:05d}" * 3} for i in range(5000)]
    C.write_container(p, sch, iter(rows), block_rows=100)
    import os
    size = os.path.getsize(p)
    for n_splits in (1, 2, 3, 7, 40):
        step = (size + n_splits - 1) // n_splits
        got = []
        for k in range(n_splits):
            got.extend(C.read_container_split(p, k * step, min((k + 1) * step, size)))
        assert got == rows, (n_splits, len(got))


def test_split_reads_through_datasource(spark, tmp_path):
    A.register(spark)
    out = str(tmp_path / "one_big")
    import os
    os.makedirs(out)
    sch = {"type": "record", "name": "B", "fields": [{"name": "i", "type": "long"}]}
    C.write_container(os.path.join(out, "big.avro"), sch,
                      ({"i": i} for i in range(20000)), block_rows=200)
    whole = spark.read.format("avro_py").option("path", out).load()
    split = (spark.read.format("avro_py").option("path", out)
             .option("split_mb", "0.01").load())
    assert split.rdd.getNumPartitions() > whole.rdd.getNumPartitions()
    assert sorted(r["i"] for r in split.collect()) == list(range(20000))


from hypothesis import given, settings
from hypothesis import strategies as st

_REC = {"type": "record", "name": "P", "fields": [
    {"name": "n", "type": "long"},
    {"name": "s", "type": ["null", "string"]},
    {"name": "f", "type": "double"},
    {"name": "b", "type": "bytes"},
    {"name": "arr", "type": {"type": "array", "items": "long"}},
    {"name": "m", "type": {"type": "map", "values": ["null", "string"]}},
]}

_row = st.fixed_dictionaries({
    "n": st.integers(min_value=-(2**63), max_value=2**63 - 1),
    "s": st.none() | st.text(max_size=40),
    "f": st.floats(allow_nan=False),  # NaN != NaN breaks equality, not codec
    "b": st.binary(max_size=40),
    "arr": st.lists(st.integers(min_value=-(2**40), max_value=2**40), max_size=8),
    "m": st.dictionaries(st.text(max_size=8), st.none() | st.text(max_size=8),
                         max_size=4),
})


@settings(max_examples=60, deadline=None)
@given(st.lists(_row, max_size=25))
def test_container_roundtrip_property(rows):
    """Any value of a composite record schema survives the container
    round-trip bit-exactly: full-range zig-zag longs, unicode strings,
    empty arrays/maps, null branches, both codecs."""
    buf = io.BytesIO()
    C.write_container(buf, _REC, iter(rows), codec="deflate", block_rows=7)
    buf.seek(0)
    assert list(C.read_container(buf)) == rows


def test_header_larger_than_probe_buffer():
    """A schema bigger than the 64 KiB header probe grows the buffer instead
    of silently truncating the metadata."""
    fields = [{"name": f"field_{i:04d}_padpadpadpadpadpad", "type": "long"}
              for i in range(3000)]
    sch = {"type": "record", "name": "Wide", "fields": fields}
    row = {f["name"]: i for i, f in enumerate(fields)}
    buf = io.BytesIO()
    C.write_container(buf, sch, iter([row]))
    assert buf.tell() > (1 << 16)
    buf.seek(0)
    assert list(C.read_container(buf)) == [row]
