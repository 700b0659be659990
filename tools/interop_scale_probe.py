"""sf10 interop scale probes (VERDICT r08 ask#8): run the open-format
interop queries — Delta DV read, Iceberg position-delete and
equality-delete reads, UniForm MoR dual-export, Hudi MoR log merge — at
100x the bench scale (sf0.1 orders replicated 100-fold), plus a
1000-commit Delta log replay walk, and print factors vs sf0.1.

PERF input only — correctness stays oracle-checked at sf0.01; nothing
here feeds CORRECTNESS_r{N}.  The replica offsets o_orderkey by
i*10_000_000 per copy so modular fixtures (k%97 deletes, k%100 updates)
keep realistic selectivity instead of perfect copy symmetry.

    python tools/interop_scale_probe.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DST = os.environ.get("SPARK_GRAFT_SF10_DIR", "/tmp/sf10_orders")
COPIES = int(os.environ.get("SPARK_GRAFT_SF10_COPIES", "100"))

PROBES = [
    "delta_dv_read_agg",
    "iceberg_pos_delete_agg",
    "iceberg_eq_delete_agg",
    "uniform_mor_dv_export_agg",
    "hudi_mor_interop_agg",
    # round-9 additions: partitioned write/export + transform pruning
    "delta_partitioned_write_agg",
    "uniform_partitioned_export_agg",
    "iceberg_transform_prune_agg",
    # round-10 additions: the write-side closures
    "hudi_upsert_roundtrip_agg",
    "hudi_mor_write_roundtrip_agg",
    "iceberg_delete_roundtrip_agg",
    "iceberg_eq_delete_write_agg",
    "delta_merge_roundtrip_agg",
]


def build(spark) -> None:
    from pyspark.sql import functions as F

    from kafka_connect_expand_json_transform_spark.sources.batch import load_table

    if os.path.exists(os.path.join(DST, "orders.parquet")):
        return
    os.makedirs(DST, exist_ok=True)
    o = load_table(spark, SRC, "orders")
    big = (
        o.withColumn("__c", F.explode(F.sequence(F.lit(0), F.lit(COPIES - 1))))
        .withColumn("o_orderkey", F.col("o_orderkey") + F.col("__c") * 10_000_000)
        .withColumn("o_custkey", F.col("o_custkey") + F.col("__c") * 10_000_000)
        .drop("__c")
    )
    big.write.mode("overwrite").parquet(os.path.join(DST, "orders.parquet"))


def replay_walk(spark) -> dict:
    """1000-commit Delta log: hand-written tiny commits (metadata walk is
    the cost being probed), replay timed raw and through a checkpoint."""
    from kafka_connect_expand_json_transform_spark.sources.delta_reader import _Snapshot
    from kafka_connect_expand_json_transform_spark.sources.delta_writer import (
        delta_checkpoint,
    )

    root = "/tmp/replay_walk_1000"
    shutil.rmtree(root, ignore_errors=True)
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    schema_string = json.dumps({"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}}]})
    with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {"minReaderVersion": 1,
                                          "minWriterVersion": 2}}) + "\n")
        fh.write(json.dumps({"metaData": {
            "id": "walk", "schemaString": schema_string,
            "partitionColumns": [], "configuration": {},
            "format": {"provider": "parquet", "options": {}}}}) + "\n")
    for v in range(1, 1000):
        with open(os.path.join(log, f"{v:020d}.json"), "w") as fh:
            fh.write(json.dumps({"add": {
                "path": f"f{v}.parquet", "partitionValues": {}, "size": 1,
                "modificationTime": v, "dataChange": True,
                "stats": json.dumps({"numRecords": 1, "minValues": {"k": v},
                                     "maxValues": {"k": v},
                                     "nullCount": {"k": 0}})}}) + "\n")
            if v % 3 == 0:
                fh.write(json.dumps({"remove": {
                    "path": f"f{v - 1}.parquet", "deletionTimestamp": v,
                    "dataChange": True}}) + "\n")
    t0 = time.perf_counter()
    snap = _Snapshot(root)
    files, head = snap.files, snap.version
    raw_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    delta_checkpoint(root, 999)
    ckpt_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    files2 = _Snapshot(root).files
    through_ckpt_s = time.perf_counter() - t0
    assert len(files) == len(files2) and head == 999
    return {"commits": 1000, "live_files": len(files),
            "raw_replay_s": round(raw_s, 3),
            "checkpoint_write_s": round(ckpt_s, 3),
            "replay_through_checkpoint_s": round(through_ckpt_s, 3)}


def main() -> int:
    from kafka_connect_expand_json_transform_spark import get_spark
    from kafka_connect_expand_json_transform_spark.plans.queries import QUERIES

    spark = get_spark(app_name="interop-scale-probe")
    build(spark)
    out = {"copies": COPIES}
    for name in PROBES:
        fn = QUERIES[name]
        t0 = time.perf_counter()
        fn(spark, SRC).write.format("noop").mode("overwrite").save()
        base_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        fn(spark, DST).write.format("noop").mode("overwrite").save()
        big_s = time.perf_counter() - t0
        out[name] = {"sf0.1_s": round(base_s, 2), "sf10_s": round(big_s, 2),
                     "factor": round(big_s / base_s, 2)}
        print(json.dumps({name: out[name]}), flush=True)
    out["replay_walk"] = replay_walk(spark)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
