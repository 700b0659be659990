"""Port of all 10 reference unit tests (ExpandJsonTest.java, SURVEY.md §5)
plus engine-specific mode/error coverage.

Mapping: ConnectRecord key/value -> DataFrame columns ``key``/``value``;
``ExpandJson$Key`` / ``$Value`` -> ``source_column=``/``fields=`` against the
chosen column; `DataException` -> ValueError (plan time) / FAILFAST raise
(parse time)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)
from pyspark.errors import PySparkException

from kafka_connect_expand_json_transform_spark import expand_json

SIMPLE_JSON = '{"stringValue": "String value", "numberValue": 42, "booleanValue": true}'
NESTED_JSON = (
    '{"numberValue": 42, "level1": {"level2": {"level3Number": 24, "level3String": "foo"}}}'
)

SIMPLE_STRUCT = StructType(
    [
        StructField("stringValue", StringType(), True),
        StructField("numberValue", IntegerType(), True),
        StructField("booleanValue", BooleanType(), True),
    ]
)


def kv_df(spark, key, value):
    return spark.createDataFrame([Row(key=key, value=value)])


# --- wholeRecordKeySchemaless / wholeRecordValueSchemaless
#     (ExpandJsonTest.java:79-103)


def test_whole_record_value_schemaless(spark):
    df = kv_df(spark, "other side", SIMPLE_JSON)
    out = expand_json(df, source_column="value")
    assert out.schema["value"].dataType == SIMPLE_STRUCT
    row = out.collect()[0]
    assert row.value.asDict() == {
        "stringValue": "String value",
        "numberValue": 42,
        "booleanValue": True,
    }
    assert row.key == "other side"  # untouched side passes through


def test_whole_record_key_schemaless(spark):
    df = kv_df(spark, SIMPLE_JSON, "other side")
    out = expand_json(df, source_column="key")
    assert out.schema["key"].dataType == SIMPLE_STRUCT
    row = out.collect()[0]
    assert row.key.numberValue == 42
    assert row.value == "other side"


# --- primitiveStringKeySchemaless / ...Value... (ExpandJsonTest.java:105-129)


def test_primitive_string_value_schemaless(spark):
    df = kv_df(spark, "k", '"value"')
    out = expand_json(df, source_column="value")
    assert out.schema["value"].dataType == StringType()
    assert out.collect()[0].value == "value"  # unquoted


def test_primitive_string_key_schemaless(spark):
    df = kv_df(spark, '"key"', "v")
    out = expand_json(df, source_column="key")
    assert out.collect()[0].key == "key"


# --- primitiveIntKeySchemaless / ...Value... (ExpandJsonTest.java:131-155)


def test_primitive_int_value_schemaless(spark):
    df = kv_df(spark, "k", "24")
    out = expand_json(df, source_column="value")
    assert out.schema["value"].dataType == IntegerType()  # int32 rule
    assert out.collect()[0].value == 24


def test_primitive_int_key_schemaless(spark):
    df = kv_df(spark, "42", "v")
    out = expand_json(df, source_column="key")
    assert out.schema["key"].dataType == IntegerType()
    assert out.collect()[0].key == 42


# --- wholeRecordKeySchemalessFailsFieldsConfig (ExpandJsonTest.java:157-163)


def test_fields_plus_source_column_rejected(spark):
    df = kv_df(spark, "k", SIMPLE_JSON)
    with pytest.raises(ValueError):
        expand_json(df, fields=["value"], source_column="key")


# --- keySchemaField / valueSchemaField (ExpandJsonTest.java:165-190)


def test_value_schema_field(spark):
    df = spark.createDataFrame(
        [Row(jsonValue=SIMPLE_JSON, numberValue=42, booleanValue=True)]
    )
    out = expand_json(df, fields=["jsonValue"])
    assert out.schema["jsonValue"].dataType == SIMPLE_STRUCT
    row = out.collect()[0]
    assert row.jsonValue.stringValue == "String value"
    # sibling fields byte-identical pass-through (ExpandJsonTest.java:86-89)
    assert row.numberValue == 42 and row.booleanValue is True


def test_key_schema_field(spark):
    # key side is just another named column in Spark's model
    df = spark.createDataFrame([Row(key=SIMPLE_JSON, value="untouched")])
    out = expand_json(df, fields=["key"])
    assert out.schema["key"].dataType == SIMPLE_STRUCT
    assert out.collect()[0].value == "untouched"


# --- testSchemaNamePrefix (ExpandJsonTest.java:192-200, fleshed out)


def test_schema_name_prefix(spark):
    df = kv_df(spark, "k", NESTED_JSON)
    out = expand_json(df, source_column="value", schema_name_prefix="my.prefix.MyConnectRecord")
    level1 = out.schema["value"].dataType["level1"]
    assert level1.metadata["connect.name"] == "my.prefix.MyConnectRecord2"
    assert level1.dataType["level2"].metadata["connect.name"] == "my.prefix.MyConnectRecord"


# --- engine-specific coverage


def test_nested_paths_rejected(spark):
    df = kv_df(spark, "k", SIMPLE_JSON)
    with pytest.raises(ValueError):
        expand_json(df, fields=["value.inner"])  # readme.md:25 limitation


def test_missing_field_rejected(spark):
    df = kv_df(spark, "k", SIMPLE_JSON)
    with pytest.raises(ValueError):
        expand_json(df, fields=["nope"])


def test_permissive_null_on_malformed(spark):
    df = spark.createDataFrame([Row(value='{"a": 1}'), Row(value="not json {")])
    out = expand_json(df, source_column="value", mode="PERMISSIVE")
    vals = sorted([r.value for r in out.collect()], key=lambda v: v.a is None)
    assert vals[0].a == 1
    # Spark PERMISSIVE semantics: malformed -> struct of nulls (not a null
    # struct); the reference would have thrown (ExpandJson.java:169-171)
    assert vals[1].a is None


def test_failfast_raises_on_malformed(spark):
    from pyspark.sql.types import StructType as ST

    df = spark.createDataFrame([Row(value="not json {")])
    sch = ST().add("a", IntegerType(), True)
    out = expand_json(df, source_column="value", infer="static", schema=sch, mode="FAILFAST")
    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        out.collect()


def test_static_schema_per_field(spark):
    df = spark.createDataFrame([Row(a='{"x": 1}', b='{"y": "z"}')])
    out = expand_json(
        df,
        fields=["a", "b"],
        infer="static",
        schema={
            "a": StructType().add("x", IntegerType(), True),
            "b": StructType().add("y", StringType(), True),
        },
    )
    row = out.collect()[0]
    assert row.a.x == 1 and row.b.y == "z"


def test_variant_mode(spark):
    df = spark.createDataFrame([Row(value='{"a": 1}'), Row(value='{"a": "mixed"}')])
    out = expand_json(df, source_column="value", infer="variant")
    got = {r["v"] for r in out.select(F.to_json(F.col("value")).alias("v")).collect()}
    assert got == {'{"a":1}', '{"a":"mixed"}'}


def test_sample_strategy_on_testdata(spark, sf_dir):
    from kafka_connect_expand_json_transform_spark.sources import load_table

    events = load_table(spark, sf_dir, "events")
    out = expand_json(events, fields=["props"])
    assert out.schema["props"].dataType["k"].dataType == IntegerType()
    assert out.where(F.col("props.k").isNotNull()).count() > 0


def test_expand_kafka_record_tuple_key_and_value(spark):
    """The reference's actual deployment: a Kafka-shaped record tuple with
    binary key/value; expand one side, everything else passes through
    (ExpandJson.java:277-319 Key/Value subclasses; newRecord at 290/312)."""
    from kafka_connect_expand_json_transform_spark.sources.kafka import (
        expand_kafka_records,
    )

    rows = [
        (b'{"id": 7}', b'{"amount": 12.5, "ok": true}', "orders", 0, 100, None),
        (b'{"id": 8}', b'{"amount": 1.0, "ok": false}', "orders", 1, 101, None),
    ]
    kafka_shaped = spark.createDataFrame(
        rows,
        "key binary, value binary, topic string, partition int, offset long, "
        "timestamp timestamp",
    )
    by_value = expand_kafka_records(kafka_shaped, side="value")
    assert by_value.schema["value"].dataType.simpleString() == (
        "struct<amount:double,ok:boolean>"
    )
    r = by_value.orderBy("offset").first()
    assert bytes(r["key"]) == b'{"id": 7}'  # other side untouched
    assert (r["topic"], r["partition"], r["offset"]) == ("orders", 0, 100)
    assert r["value"]["amount"] == 12.5 and r["value"]["ok"] is True

    by_key = expand_kafka_records(kafka_shaped, side="key")
    assert by_key.schema["key"].dataType.simpleString() == "struct<id:int>"
    k = by_key.orderBy("offset").first()
    assert k["key"]["id"] == 7
    assert bytes(k["value"]) == b'{"amount": 12.5, "ok": true}'


def test_from_connect_config_whole_value(spark):
    from kafka_connect_expand_json_transform_spark.sources.kafka import (
        from_connect_config,
    )

    t = from_connect_config(
        {"type": "com.github.joshuagrisham.kafka.connect.transforms.ExpandJson$Value"}
    )
    df = spark.createDataFrame(
        [("k1", '{"a": 1, "b": "x"}')], "key string, value string"
    )
    out = t(df).collect()[0]
    assert out["value"]["a"] == 1 and out["value"]["b"] == "x"
    assert out["key"] == "k1"  # other side untouched (ExpandJsonTest.java:86-89)


def test_from_connect_config_field_mode_and_guards(spark):
    import pytest
    from kafka_connect_expand_json_transform_spark.sources.kafka import (
        from_connect_config,
    )

    t = from_connect_config({"type": "...ExpandJson$Value", "fields": "jsonValue"})
    df = spark.createDataFrame(
        [(("plain", '{"k": 5}'),)],
        "value struct<other string, jsonValue string>",
    )
    out = t(df).collect()[0]
    assert out["value"]["jsonValue"]["k"] == 5
    assert out["value"]["other"] == "plain"  # sibling copied through
    # guard 1: fields + schemaless side (ExpandJson.java:95-98)
    flat = spark.createDataFrame([("x", "{}")], "key string, value string")
    with pytest.raises(ValueError, match="no schema"):
        t(flat)
    # guard 2: struct side without fields (ExpandJson.java:107-110)
    with pytest.raises(ValueError, match="'fields' is empty"):
        from_connect_config({"type": "...ExpandJson$Value"})(df)
    # key-side selection
    tk = from_connect_config({"type": "...ExpandJson$Key"})
    kdf = spark.createDataFrame([('"bare"', "v")], "key string, value string")
    assert tk(kdf).collect()[0]["key"] == "bare"


def test_expand_json_observed_counts_malformed(spark):
    """Single-pass parse metrics: malformed-record counts are collected by
    the SAME job that consumes the expansion — no second scan."""
    from kafka_connect_expand_json_transform_spark.operators.expand_json import (
        expand_json_observed,
    )

    rows = [(i, '{"k": %d}' % i if i % 3 else 'x{"broken"') for i in range(12)]
    df = spark.createDataFrame(rows, "id int, payload string")
    out, obs = expand_json_observed(df, fields=["payload"])
    got = out.where(F.col("payload.k").isNotNull()).count()  # the one action
    assert got == 8  # 12 rows - 4 malformed (0,3,6,9)
    assert obs.get == {"n_rows": 12, "n_malformed_payload": 4}


def test_polymorphic_udtf_schema_follows_key_list(spark):
    """Spark 4 analyze()-based UDTF: the literal key list drives the output
    schema; values are raw JSON-token text; missing keys and malformed rows
    yield NULLs instead of dropping rows."""
    from kafka_connect_expand_json_transform_spark.functions.udtf import register_udtfs

    register_udtfs(spark)
    spark.createDataFrame(
        [(1, '{"a": 5, "b": "hi", "c": {"d": 1}}'), (2, "not json"), (3, None)],
        "id int, j string",
    ).createOrReplaceTempView("poly_in")
    out = spark.sql(
        "SELECT t.id, e.* FROM poly_in t, LATERAL extract_json_keys(t.j, 'a,b,c,zz') e"
    )
    assert out.columns == ["id", "a", "b", "c", "zz"]
    rows = {r["id"]: r for r in out.collect()}
    assert (rows[1]["a"], rows[1]["b"], rows[1]["c"], rows[1]["zz"]) == (
        "5", "hi", '{"d":1}', None
    )
    assert rows[2]["a"] is None and rows[3]["a"] is None  # malformed / null rows kept


def test_rescued_data_column_captures_schema_drift(spark):
    """rescued_data_column: keys in the record but not in the RESOLVED
    schema land in a map<string,string> (values as JSON text) instead of
    being dropped by from_json's projection; NULL when nothing drifted;
    multi-field mode prefixes the column names."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    df = spark.createDataFrame(
        [
            (1, '{"k": 1}'),
            (2, '{"k": 2, "extra": "x", "nested": {"n": 3}}'),
            (3, '{"k": 3, "num": 4.5}'),
        ],
        "id int, j string",
    )
    schema = StructType([StructField("k", IntegerType())])
    out = expand_json(
        df, fields=["j"], infer="static", schema={"j": schema},
        rescued_data_column="_rescued_data",
    )
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["_rescued_data"] is None  # nothing drifted
    assert rows[2]["_rescued_data"] == {"extra": "x", "nested": '{"n":3}'}
    assert rows[3]["_rescued_data"] == {"num": "4.5"}
    assert rows[2]["j"]["k"] == 2  # the schema'd side is untouched
    # multi-field: one rescue column per expanded field, field-prefixed
    df2 = spark.createDataFrame([(1, '{"a": 1, "x": 2}', '{"b": 1, "y": 3}')],
                                "id int, p string, q string")
    s2 = {"p": StructType([StructField("a", IntegerType())]),
          "q": StructType([StructField("b", IntegerType())])}
    out2 = expand_json(df2, fields=["p", "q"], infer="static", schema=s2,
                       rescued_data_column="_rescued")
    r2 = out2.collect()[0]
    assert r2["p_rescued"] == {"x": "2"} and r2["q_rescued"] == {"y": "3"}
    # sampled inference that froze a narrow schema still rescues later keys
    narrow = spark.createDataFrame(
        [(1, '{"k": 1}')] * 5 + [(2, '{"k": 2, "late": "z"}')], "id int, j string"
    )
    out3 = expand_json(narrow, fields=["j"], rescued_data_column="_rescued_data")
    got = [r["_rescued_data"] for r in out3.where("id = 2").collect()]
    # sample saw the wide record too (tiny frame) OR rescued it — either
    # way the key is never silently lost
    assert got[0] == {"late": "z"} or "late" in out3.schema["j"].dataType.names


def test_one_expansion_planner():
    """Source scan: across the package, only ``operators.expand_json._expand``
    samples, merges, names and parses for expansion.  ``schema_inference``
    defines these functions (its ``infer_schema_for_column`` is sample +
    merge) and is the only other module allowed to call them."""
    import ast
    import pathlib

    import kafka_connect_expand_json_transform_spark as pkg

    guarded = {
        "collect_column_samples",
        "infer_schema_from_samples",
        "infer_schema_for_column",
        "assign_schema_names",
        "_parse_expr",
    }
    root = pathlib.Path(pkg.__file__).parent
    callers = set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "schema_inference.py":
            continue

        def visit(node, fn):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    visit(child, fn or child.name)
                    continue
                if isinstance(child, ast.Call):
                    f = child.func
                    name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                    if name in guarded:
                        callers.add((rel, fn, name))
                visit(child, fn)

        visit(ast.parse(path.read_text()), None)
    assert {(rel, fn) for rel, fn, _ in callers} == {("operators/expand_json.py", "_expand")}
    assert {name for *_, name in callers} == guarded - {"infer_schema_for_column"}


def test_perfbench_tracer_installs_and_restores_every_binding():
    """The benchmark's tracer patches package attributes by name; each must
    exist, be wrapped while installed and be the original after."""
    import importlib
    import importlib.util
    import pathlib

    path = pathlib.Path(__file__).parents[1] / "perfbench" / "spans.py"
    spec = importlib.util.spec_from_file_location("perfbench_spans", path)
    spans = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(spans)
    names = [(m, a) for m, a, *_ in spans._TRACED + spans._FACTORIES]
    modules = {m: importlib.import_module(f"{spans.PKG}.{m}") for m, _ in names}
    before = {(m, a): getattr(modules[m], a) for m, a in names}
    tracer = spans.Tracer()
    tracer.install()
    try:
        for (m, a), orig in before.items():
            assert getattr(modules[m], a) is not orig
            assert getattr(modules[m], a).__wrapped__ is orig
    finally:
        tracer.uninstall()
    assert all(getattr(modules[m], a) is orig for (m, a), orig in before.items())
