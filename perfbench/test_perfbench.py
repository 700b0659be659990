"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import loadgen  # noqa: E402
import measure  # noqa: E402
from spans import Tracer  # noqa: E402


def test_generator_is_a_function_of_the_seed():
    a, ca = loadgen.make_records(7, 1000, 2000)
    b, cb = loadgen.make_records(7, 1000, 2000)
    c, cc = loadgen.make_records(8, 1000, 2000)
    assert a.equals(b) and ca == cb
    assert a.column("value") != c.column("value")
    assert a.column("offset") == c.column("offset")  # ids come from start_id


def test_checksums_match_the_generated_text():
    table, chk = loadgen.make_records(3, 500, 3000)
    recs = [json.loads(v) for v in table.column("value").to_pylist()]
    assert chk["rows"] == len(recs)
    assert chk["id_sum"] == sum(r["id"] for r in recs)
    assert chk["qty_sum"] == sum(i["qty"] for r in recs for i in r["items"])
    for r in recs:
        assert r["big"] > 2**64
        assert str(r["big"]) == loadgen.BIG_BASE_DIGIT + str(
            r["id"] * loadgen.BIG_ID_FACTOR
        ).zfill(19)


def test_payloads_cover_the_rule_table():
    table, _ = loadgen.make_records(5, 0, 2000)
    recs = [json.loads(v) for v in table.column("value").to_pylist()]
    assert all(r["note"] is None and r["empty"] == [] for r in recs)
    assert all(2**31 <= r["seq"] < 2**63 for r in recs)
    assert 0 < sum("opt" in r for r in recs) < len(recs)
    assert any(len(r["items"]) > 1 and "gift" in r["items"][1] for r in recs)
    assert not any("gift" in r["items"][0] for r in recs)


def test_expected_schema_follows_the_inference_rules():
    from kafka_connect_expand_json_transform_spark.schema_inference import (
        infer_schema_from_samples,
    )

    table, _ = loadgen.make_records(9, 0, 1000)
    inferred = infer_schema_from_samples(table.column("value").to_pylist())
    assert inferred.simpleString() == loadgen.EXPECTED_VALUE_SCHEMA


def test_file_set_checksum_is_the_sum_of_its_files(tmp_path):
    total = loadgen.write_file_set(str(tmp_path / "s"), 4, 100, 1000, 3)
    assert len(os.listdir(tmp_path / "s")) == 3
    assert total["rows"] == 1000 and total["id_sum"] == sum(range(100, 1100))


def test_at_least_ten_samples_beyond_p95_needs_200():
    assert measure.samples_beyond(200, 95) == 10
    assert measure.samples_beyond(199, 95) == 9
    assert measure.samples_beyond(1000, 99) == 10


def test_percentile_interpolates():
    assert measure.percentile([1, 2, 3, 4], 50) == 2.5
    assert measure.percentile([5], 95) == 5
    assert measure.percentile(range(101), 95) == 95


def test_source_log_reads_compacted_and_delta_files(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)

    def entry(name, batch):
        return json.dumps({"path": f"file:///in/{name}", "timestamp": 1, "batchId": batch})

    (log / "9.compact").write_text("v1\n" + "\n".join(entry(f"f{b}", b) for b in range(10)))
    (log / "10").write_text("v1\n" + entry("f10", 10) + "\n" + entry("g10", 10))
    (log / ".10.crc").write_text("ignored")
    got = measure.source_log_batches(str(tmp_path))
    assert got == {**{f"f{b}": b for b in range(11)}, "g10": 10}


def test_self_time_subtracts_child_spans():
    tr = Tracer()
    tr.spans = [
        {"id": 0, "name": "a", "op": None, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "b", "op": None, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "c", "op": None, "parent": 0, "start": 3.0, "end": 5.0},
    ]
    assert tr.self_time(tr.spans[0]) == 6.0


def test_install_wraps_every_binding_and_uninstall_restores():
    import importlib

    from kafka_connect_expand_json_transform_spark import schema_inference

    # the package re-exports the function under the module's name
    expand_json = importlib.import_module(
        "kafka_connect_expand_json_transform_spark.operators.expand_json"
    )

    orig = expand_json.infer_schema_from_samples
    tr = Tracer()
    tr.install()
    try:
        tr.op = "op0"
        expand_json.infer_schema_from_samples(['{"a": 1}'])
        schema_inference.infer_schema_from_samples(['{"a": 1}'])
        tr.enabled = False
        expand_json.infer_schema_from_samples(['{"a": 1}'])
    finally:
        tr.uninstall()
    assert expand_json.infer_schema_from_samples is orig
    assert [s["op"] for s in tr.of("schema_inference.merge")] == ["op0", "op0"]
