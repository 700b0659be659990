"""Batch sources/sinks — [EXT] per SURVEY.md §2.2 (the reference's host
runtime, Kafka Connect, owns all I/O; this engine owns it directly).

Handles one real-world wart: the driver's ``events.parquet`` stores ``ts`` as
parquet TIMESTAMP(NANOS), which Spark's vectorized reader rejects.  We read
nanos as long (``spark.sql.legacy.parquet.nanosAsLong``) and truncate to
microseconds — exactly what DuckDB does when it reads the same file, so the
correctness oracle sees identical values.
"""

from __future__ import annotations

import os
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# columns stored as TIMESTAMP(NANOS) in the driver's parquet, read as long
_NANO_TS_COLUMNS = {"events": ["ts"]}

# Lazy-PLAN cache: building the reader costs ~100 ms per call on the driver
# (parquet footer schema read + conf round-trips), and a full bench run calls
# load_table hundreds of times on the same ten immutable files.  The cache
# holds the unexecuted logical plan only — every action still scans the
# parquet — and the key carries the session id plus the file's (mtime, size)
# so a regenerated table or a new session can never see a stale plan.
# Bounded LRU (the reference keeps the same class of memo at 16 entries,
# ExpandJson.java:81): a long-lived driver over rotating file sets must not
# grow this monotonically, and a rewrite of a path evicts the superseded
# entry immediately rather than leaving it to age out.
_PLAN_CACHE: OrderedDict[tuple, DataFrame] = OrderedDict()
_PLAN_CACHE_MAX = 64


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table, normalizing nano-timestamps to timestamps.

    This loader intentionally OWNS session timestamp semantics: the three
    confs below (nanosAsLong, session UTC, no NTZ inference) are all set at
    build time by ``get_spark`` — the ``conf.set`` calls here are deliberate
    re-asserts for harness-owned sessions that never went through
    ``get_spark``, and they do mutate those sessions globally.  That is the
    point: every read in this suite (driver tables or otherwise) must agree
    on UTC wall-clock TIMESTAMP or the DuckDB oracle comparisons break.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        # id(spark) alongside applicationId: two SparkSessions can share one
        # application, and a DataFrame is bound to the session that built it
        cache_key = (
            id(spark),
            spark.sparkContext.applicationId,
            os.path.abspath(path),
            st.st_mtime_ns,
            st.st_size,
        )
    except OSError:
        cache_key = None  # let the reader raise its own error below
    if cache_key is not None:
        cached = _PLAN_CACHE.get(cache_key)
        if cached is not None:
            _PLAN_CACHE.move_to_end(cache_key)
            # A fresh DataFrame object per hit (alias is ~2 ms vs ~15 ms for
            # rebuilding a pinned-schema reader).  NOTE: hits share the
            # cached plan's expression IDs, so a self-join of two loads with
            # Column-object conditions (t1[k] == t2[k]) raises
            # AMBIGUOUS_SELF_JOIN — use the standard idiom instead:
            # distinct .alias("a")/.alias("b") + F.col("a.k") == F.col("b.k")
            # (tests/test_memo_bounds.py proves that path works on hits).
            return cached.alias(name)
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # locked-down conf: get_spark sessions already set it at build
    try:
        # The NTZ -> LTZ normalization below is wall-clock identity only
        # under UTC; harness-owned sessions don't run get_spark, so pin the
        # session timezone here too (runtime-settable).
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    try:
        # Read naive parquet timestamps as TIMESTAMP (LTZ) at the scan
        # itself: a post-hoc NTZ -> LTZ cast would sit between the scan and
        # every date predicate and break parquet filter pushdown (q1/q6/...
        # filter on dates; at 100 TB pushdown is the difference between
        # reading a row group and skipping it). The cast loop below then
        # finds nothing to rewrite and is kept only for locked-conf sessions.
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:
        pass
    df = spark.read.parquet(path)
    for col in _NANO_TS_COLUMNS.get(name, []):
        field = df.schema[col]
        if field.dataType.simpleString() == "bigint":
            # integer ns -> µs truncation, matching DuckDB's read of the file
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"CAST({col} DIV 1000 AS LONG)")))
    # The driver's parquet stores naive timestamps (isAdjustedToUTC=false),
    # which Spark 4 reads as TIMESTAMP_NTZ — a type unix_micros() and the
    # window()/watermark operators reject. Under the engine's fixed UTC
    # session timezone the NTZ -> LTZ cast is wall-clock identity, and
    # unix_micros(ts) then equals DuckDB's epoch_us(ts) on the same file.
    for field in df.schema.fields:
        if field.dataType.simpleString() == "timestamp_ntz":
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    if cache_key is not None:
        # a rewritten file supersedes every older entry for the same path
        stale = [k for k in _PLAN_CACHE
                 if k[:3] == cache_key[:3] and k != cache_key]
        for k in stale:
            del _PLAN_CACHE[k]
        _PLAN_CACHE[cache_key] = df
        while len(_PLAN_CACHE) > _PLAN_CACHE_MAX:
            _PLAN_CACHE.popitem(last=False)
        return df.alias(name)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {
        name: load_table(spark, sf_dir, name)
        for name in TESTDATA_TABLES
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet"))
    }


def register_testdata(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every driver table as a temp view (the engine's SQL entry
    point needs named relations; SURVEY.md §2.2 'SQL entry point')."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables


def read_json(
    spark: SparkSession,
    path: str,
    schema=None,
    multiline: bool = False,
    mode: str = "PERMISSIVE",
    options: dict | None = None,
) -> DataFrame:
    """JSON batch source — doubles as the engine's distributed schema
    inferencer (SURVEY.md §2.2: 'JSON reader doubles as the schema-inference
    engine'): with no schema, Spark samples and merges across the cluster."""
    reader = spark.read.option("multiLine", multiline).option("mode", mode)
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema=None,
    header: bool = True,
    infer_schema: bool = True,
    sep: str = ",",
    mode: str = "PERMISSIVE",
    options: dict | None = None,
) -> DataFrame:
    """CSV batch source with sane defaults (header + inference unless a
    schema is given — at scale always pass the schema: inference is a full
    extra pass over the files)."""
    reader = (
        spark.read.option("header", header)
        .option("sep", sep)
        .option("mode", mode)
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", infer_schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.csv(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, list[str]] | None = None,
    table_name: str | None = None,
) -> None:
    """Parquet sink. ``partition_by`` gives partition pruning on read;
    ``bucket_by`` (requires ``table_name``, saveAsTable) gives shuffle-free
    co-located joins on the bucket keys — the 100 TB answer to repeated joins
    on the same key."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bucket_by:
        n, cols = bucket_by
        if not table_name:
            raise ValueError("bucketBy requires saveAsTable(table_name)")
        writer.bucketBy(n, *cols).sortBy(*cols).option("path", path).saveAsTable(table_name)
        return
    writer.parquet(path)


def read_orc(spark: SparkSession, path: str, options: dict | None = None) -> DataFrame:
    """ORC batch source (columnar alternative to parquet; same pushdown and
    pruning properties through the vectorized reader)."""
    reader = spark.read
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    writer = df.write.mode(mode)
    writer.orc(path)


def read_parquet_evolving(
    spark: SparkSession, *paths: str, merge_schema: bool = True
) -> DataFrame:
    """Read parquet written over time with widening schemas (columns added
    across batches): ``mergeSchema`` unions the footers' schemas; rows from
    older files surface NULL for later-added columns.  The schema-evolution
    answer for an append-only 100 TB lake layout."""
    return (
        spark.read.option("mergeSchema", str(merge_schema).lower()).parquet(*paths)
    )


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-partition + sort-within-partition layout: the data-skipping
    answer for point/range reads on ``sort_cols`` at 100 TB.

    ``repartitionByRange`` gives globally disjoint key ranges per file and
    ``sortWithinPartitions`` makes every parquet row group's min/max stats
    narrow, so a predicate on the sort key prunes whole files via the range
    partitioning AND whole row groups via statistics — without any index
    structure to maintain. (Single-column z-order degenerates to exactly
    this; for multi-column skipping, list the columns major-to-minor.)
    """
    part = (
        df.repartitionByRange(n_files, *sort_cols)
        if n_files
        else df.repartitionByRange(*sort_cols)
    )
    part.sortWithinPartitions(*sort_cols).write.mode(mode).parquet(path)


def compact_parquet(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target)`` files. Streaming sinks and per-partition
    writers fragment tables over time; at 100 TB the resulting
    task-per-tiny-file scheduling overhead dominates scans, so periodic
    compaction toward the 128MB-file sweet spot is routine maintenance.
    Returns the output file count."""
    import math

    total = 0
    for root, _dirs, files in os.walk(in_path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    n = max(1, math.ceil(total / target_file_bytes))
    # coalesce, not repartition: bin-packing small files needs no row
    # redistribution, so the full-table shuffle repartition() would pay is
    # pure waste — each output task just concatenates a bin of input
    # files (the same no-shuffle economics Delta's OPTIMIZE bin-packing
    # uses when it is not re-clustering)
    spark.read.parquet(in_path).coalesce(n).write.mode("overwrite").parquet(out_path)
    return n


def zorder_key(df: DataFrame, cols: list[str], bits: int = 4):
    """The Morton-curve sort key ``write_zorder_parquet`` clusters by, as a
    reusable Column (txlog's OPTIMIZE ZORDER path shares it): per column,
    approxQuantile rank buckets (skew-proof), bucketed via a static sum of
    ``2^bits`` codegen comparisons, bits interleaved into one long."""
    if not cols or len(cols) < 2:
        raise ValueError("z-order needs >= 2 columns (use write_sorted_parquet for 1)")
    nb = 1 << bits
    probs = [i / nb for i in range(1, nb)]
    bounds_per_col = df.stat.approxQuantile(cols, probs, 0.001)

    buckets = []
    for c, bounds in zip(cols, bounds_per_col):
        uniq = sorted(set(bounds))
        b = None
        for x in uniq:
            ind = F.when(F.col(c) > F.lit(x), 1).otherwise(0)
            b = ind if b is None else b + ind
        buckets.append((b if b is not None else F.lit(0)).cast("long"))

    ncols = len(cols)
    z = F.lit(0).cast("long")
    for i, b in enumerate(buckets):
        for j in range(bits):
            bit = F.shiftright(b, j).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, j * ncols + (ncols - 1 - i))
    return z


def write_zorder_parquet(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 4,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Z-order (Morton-curve) clustering: multi-column data skipping.

    ``write_sorted_parquet`` prunes on its leading sort column only — the
    trailing columns' min/max stats stay wide.  Z-ordering interleaves the
    bits of a rank-bucket per column, so every file covers a narrow range of
    EVERY clustered column and point/range predicates on any of them skip
    ~(1 - 2^-bits_shared) of the files.  This is the same layout Delta/Iceberg
    `OPTIMIZE ZORDER BY` produces, built from stock operators:

    1. per column, ``approxQuantile`` boundaries (one sampled pass, driver
       gets ``2^bits`` doubles) → rank buckets, so skew cannot collapse the
       curve (value-uniform width_bucket would);
    2. bucket via a static sum of ``2^bits`` comparisons (codegen, no UDF);
    3. Morton-interleave the bucket bits into ``__z``;
    4. range-partition + sort by ``__z`` (one shuffle), drop ``__z``.

    Numeric columns only (ranks need an ordering approxQuantile supports);
    NULLs land in bucket 0.
    """
    zdf = df.withColumn("__z", zorder_key(df, cols, bits))
    part = (
        zdf.repartitionByRange(n_files, "__z")
        if n_files
        else zdf.repartitionByRange("__z")
    )
    part.sortWithinPartitions("__z").drop("__z").write.mode(mode).parquet(path)
