"""The session-scoped plan/schema memos are bounded LRUs (round 11):
eviction must never change results, a rewritten file must supersede its
old entry, and the cache-hit alias must keep self-joins unambiguous."""

import os
import shutil

from pyspark.sql import functions as F

import importlib

# the operators package re-exports expand_json (the function) under the
# module's own name, so reach the MODULE through importlib
EJ = importlib.import_module(
    "kafka_connect_expand_json_transform_spark.operators.expand_json"
)
from kafka_connect_expand_json_transform_spark.sources import batch as B
from kafka_connect_expand_json_transform_spark.sources.batch import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_plan_cache_hit_self_join_via_qualified_aliases(spark):
    # cache hits return the SAME underlying plan, so the standard Spark
    # self-join idiom (distinct aliases + string-qualified columns) must
    # keep working across two loads of one table
    a = load_table(spark, SF_DIR, "nation").alias("a")
    b = load_table(spark, SF_DIR, "nation").alias("b")  # cache hit
    joined = a.join(b, F.col("a.n_nationkey") == F.col("b.n_regionkey"))
    n = joined.count()
    expected = (
        load_table(spark, SF_DIR, "nation")
        .select(F.col("n_regionkey").alias("k"))
        .join(
            load_table(spark, SF_DIR, "nation").select(
                F.col("n_nationkey").alias("k")
            ),
            "k",
        )
        .count()
    )
    assert n == expected and n > 0


def test_plan_cache_eviction_and_supersede(spark, tmp_path):
    src = os.path.join(SF_DIR, "region.parquet")
    before = load_table(spark, SF_DIR, "region").collect()

    # overflow the LRU with distinct paths; results must stay correct
    for i in range(B._PLAN_CACHE_MAX + 5):
        d = tmp_path / f"sf{i}"
        d.mkdir()
        shutil.copy(src, d / "region.parquet")
        assert load_table(spark, str(d), "region").count() == len(before)
    assert len(B._PLAN_CACHE) <= B._PLAN_CACHE_MAX

    # the original entry may have been evicted — reload still correct
    again = load_table(spark, SF_DIR, "region").collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, before))

    # rewriting a path supersedes (not duplicates) its cache entry
    d = tmp_path / "rw"
    d.mkdir()
    shutil.copy(src, d / "region.parquet")
    load_table(spark, str(d), "region")
    n_before = len(B._PLAN_CACHE)
    sub = load_table(spark, SF_DIR, "region").limit(2)
    sub.write.mode("overwrite").parquet(str(tmp_path / "rw_stage"))
    shutil.rmtree(d)
    shutil.copytree(tmp_path / "rw_stage", d)
    # pick any parquet part as the single-file table
    part = next(p for p in sorted(os.listdir(d)) if p.endswith(".parquet"))
    os.rename(d / part, d / "region.parquet")
    assert load_table(spark, str(d), "region").count() == 2
    assert len(B._PLAN_CACHE) <= max(n_before, B._PLAN_CACHE_MAX)
    stale = [
        k
        for k in B._PLAN_CACHE
        if k[2] == os.path.abspath(str(d / "region.parquet"))
    ]
    assert len(stale) == 1  # exactly the new entry; old one superseded


def test_infer_memo_is_bounded_and_eviction_keeps_results(spark, tmp_path):
    rows = [(i, '{"a": %d, "b": "x"}' % i) for i in range(20)]
    df = spark.createDataFrame(rows, "id int, payload string")
    p = str(tmp_path / "j.parquet")
    df.write.parquet(p)
    src = spark.read.parquet(p)
    out1 = EJ.expand_json(src, fields=["payload"]).select(
        "id", "payload.a", "payload.b"
    )
    first = sorted(map(tuple, out1.collect()))
    # overflow the memo with synthetic keys, forcing eviction of the real one
    for i in range(EJ._INFER_MEMO_MAX + 5):
        EJ._INFER_MEMO[("synthetic", i)] = (None, [])
        while len(EJ._INFER_MEMO) > EJ._INFER_MEMO_MAX:
            EJ._INFER_MEMO.popitem(last=False)
    assert len(EJ._INFER_MEMO) <= EJ._INFER_MEMO_MAX
    out2 = EJ.expand_json(src, fields=["payload"]).select(
        "id", "payload.a", "payload.b"
    )
    assert sorted(map(tuple, out2.collect())) == first


def test_infer_memo_hits_under_an_escaped_directory(spark, tmp_path, monkeypatch):
    # inputFiles() are percent-encoded URIs: the memo key must stat the
    # decoded path, or a directory with a space or '%' never hits
    d = str(tmp_path / "a b%c" / "t")
    spark.createDataFrame(
        [(i, '{"a": %d}' % i) for i in range(5)], "id int, payload string"
    ).write.parquet(d)
    calls = []
    real = EJ.collect_column_samples
    monkeypatch.setattr(
        EJ, "collect_column_samples", lambda *a, **k: calls.append(1) or real(*a, **k)
    )
    for _ in range(2):
        out = EJ.expand_json(spark.read.parquet(d), fields=["payload"])
        assert sorted(r.a for r in out.select("payload.a").collect()) == list(range(5))
    assert len(calls) == 1
