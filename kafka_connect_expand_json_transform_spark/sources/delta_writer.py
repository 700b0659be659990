"""Pure-Python Delta Lake APPEND writer — the produce direction of the
jar-free Delta story (reader: ``delta_reader``; dual-format export:
``uniform``), per the public delta.io PROTOCOL.md:

* ``delta_append(df, root, txn=None)`` — commit the DataFrame as the next
  Delta version of a standalone Delta table (creating the table with
  protocol + metaData on first write).  Appends only: schema must match
  the table's exactly (the Delta append contract without mergeSchema).
  Concurrency is optimistic — the commit file is claimed with an
  exclusive create, so a racing writer loses cleanly and retries against
  the new head, never clobbers.
* ``txn=(app_id, version)`` writes Delta's ``txn`` action — the
  IDEMPOTENT-WRITER contract streaming sinks use: a commit whose
  ``(appId, version)`` is already recorded at or above ``version`` is
  SKIPPED (returns the current head), so a replayed micro-batch lands
  exactly once.
* ``delta_streaming_sink(root, app_id)`` — the foreachBatch body wiring
  batchId into ``txn``: restart-safe streaming ingestion INTO a Delta
  table, the same exactly-once shape the repo's txlog foreachBatch sinks
  document (checkpoint replays the batch, the txn action dedups it).

Scale: one parquet write per batch plus one conditional metadata PUT —
the same commit economics every Delta writer pays; data files land once
under unique version-scoped names and are never rewritten by appends.
"""

from __future__ import annotations

import json
import os
import re
import time as _time

from pyspark.sql import DataFrame

from kafka_connect_expand_json_transform_spark.sources import _files
from kafka_connect_expand_json_transform_spark.sources._commit import publish, replace
from kafka_connect_expand_json_transform_spark.sources._merge import MergePlan
from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
    _list_log,
    _log_dir,
    _replay,
)


class DeltaCommitConflict(RuntimeError):
    """A concurrent writer claimed this Delta version first; re-read the
    head and retry."""


# writer requirements this implementation can honor (PROTOCOL.md "Writer
# Requirements"): appendOnly + CHECK constraints + invariants are
# ENFORCED below, column mapping appends write physical names/field ids,
# deletionVectors are collapsed by CoW DML, timestampNtz/vacuum checks
# impose no write-side work, CDF tables accept appends (adds ARE the
# change events for inserts) and DML writes cdc files (r9).
_SUPPORTED_WRITER_FEATURES = {
    "appendOnly", "invariants", "checkConstraints", "columnMapping",
    "deletionVectors", "timestampNtz", "vacuumProtocolCheck",
    "changeDataFeed", "v2Checkpoint",
    # r10: appends compute/validate generated columns and assign
    # identity values (high watermark versioned in the commit's
    # metaData); DML on these tables is gated per-operation in
    # _check_writer_requirements
    "generatedColumns", "identityColumns",
}


def _generated_cols(schema) -> dict[str, str]:
    """GENERATED columns: name -> generation expression (PROTOCOL.md
    "Generated Columns": ``delta.generationExpression`` field
    metadata)."""
    out = {}
    for f in schema.fields:
        expr = (f.metadata or {}).get("delta.generationExpression")
        if expr is not None:
            out[f.name] = expr
    return out


def _identity_cols(schema) -> dict[str, dict]:
    """IDENTITY columns: name -> {start, step, highWaterMark,
    allowExplicitInsert} (PROTOCOL.md "Identity Columns"
    ``delta.identity.*`` field metadata)."""
    out = {}
    for f in schema.fields:
        md = f.metadata or {}
        if any(k.startswith("delta.identity.") for k in md):
            out[f.name] = {
                "start": int(md.get("delta.identity.start", 1)),
                "step": int(md.get("delta.identity.step", 1)),
                "hwm": md.get("delta.identity.highWaterMark"),
                "allow_explicit": bool(
                    md.get("delta.identity.allowExplicitInsert", False)
                ),
            }
    return out


def _check_writer_requirements(meta: dict, protocol: dict | None,
                               dml: bool,
                               assignments: dict | str | None = None,
                               merge_inserts: bool = False) -> None:
    """Fail closed on tables whose WRITER requirements this
    implementation cannot honor — writing anyway would corrupt the
    table's invariants for every other engine (PROTOCOL.md: writers must
    refuse tables with unknown writer features).  Generated/identity
    columns are handled per operation (r10): appends compute/validate/
    assign them; DELETE changes no values; UPDATE/MERGE assignments may
    invalidate a generation expression (dependency analysis would need
    an expression parser) and MERGE inserts would need fresh identity
    values — both refuse."""
    from pyspark.sql import types as T

    v = (protocol or {}).get("minWriterVersion", 2)
    if v == 7:
        unknown = set((protocol or {}).get("writerFeatures") or []) \
            - _SUPPORTED_WRITER_FEATURES
        if unknown:
            raise ValueError(
                f"table requires writer features {sorted(unknown)}; "
                "refusing to write"
            )
    elif v > 7:
        raise ValueError(f"minWriterVersion {v} not supported")
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    gen = _generated_cols(schema)
    idc = _identity_cols(schema)
    if dml and assignments is not None and gen:
        raise ValueError(
            "UPDATE/MERGE assignments on a table with GENERATED columns "
            f"({sorted(gen)}) are refused: an assignment may invalidate "
            "a generation expression"
        )
    if dml and idc:
        if isinstance(assignments, dict) and any(
            c in idc for c in assignments
        ):
            raise ValueError(
                f"assignment to IDENTITY column(s) {sorted(idc)} refused"
            )
        # update='all' and MERGE inserts are allowed (r10): 'all'
        # never assigns columns the source lacks, and
        # delta_merge_into itself refuses a source that CARRIES the
        # identity column, assigns fresh ids to inserts, and bumps
        # the watermark in the commit's metaData
    cfg = meta.get("configuration") or {}
    if dml:
        if str(cfg.get("delta.appendOnly", "false")).lower() == "true":
            raise ValueError(
                "table is delta.appendOnly=true: DELETE/UPDATE refused"
            )



def _active_constraints(meta: dict) -> list[tuple[str, str]]:
    """CHECK constraints (``delta.constraints.<name>`` configuration) and
    column invariants (``delta.invariants`` field metadata) as
    ``(label, sql_expression)`` — the writer must reject rows violating
    either (PROTOCOL.md "CHECK Constraints" / "Column Invariants")."""
    from pyspark.sql import types as T

    out: list[tuple[str, str]] = []
    for k, expr in sorted((meta.get("configuration") or {}).items()):
        if k.startswith("delta.constraints."):
            out.append((k[len("delta.constraints."):], expr))
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    for f in schema.fields:
        inv = (f.metadata or {}).get("delta.invariants")
        if not inv:
            continue
        try:
            expr = json.loads(inv)["expression"]["expression"]
        except (ValueError, KeyError, TypeError) as e:
            raise ValueError(
                f"unparseable delta.invariants on column {f.name!r}: "
                f"{inv!r}"
            ) from e
        out.append((f"invariant({f.name})", expr))
    return out


def _enforce_constraints(df: DataFrame, constraints: list[tuple[str, str]],
                         what: str) -> None:
    """One early-out job over the batch: a row where any constraint
    evaluates to FALSE (SQL semantics — NULL passes) aborts the write;
    the violated constraint is then identified for the error message."""
    if not constraints:
        return
    viol = " OR ".join(
        f"NOT coalesce(({e}), true)" for _n, e in constraints
    )
    if df.where(viol).limit(1).count() == 0:
        return
    for name, e in constraints:
        if df.where(f"NOT coalesce(({e}), true)").limit(1).count():
            raise ValueError(
                f"{what} violates CHECK constraint {name!r}: {e}"
            )
    raise ValueError(f"{what} violates a CHECK constraint")


def _stats_json(part) -> str:
    """Delta add-action ``stats`` JSON (numRecords/minValues/maxValues)
    from a written file's footer facts (``_files.Part``) — no data read.
    Emitting stats at write time is what makes the reader's ``where=``
    log-level skipping (and the CoW writer's candidate pruning) work on
    this writer's own tables.  Ranges follow ``_files.footer``'s
    every-row-group rule, so skipping stays sound; a range whose values
    have no JSON form here is omitted."""
    import datetime
    import decimal

    def _plain(v):
        if isinstance(v, bytes):
            return v.decode("utf-8", "replace")
        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.isoformat()
        if isinstance(v, decimal.Decimal):
            return str(v)
        if isinstance(v, (bool, int, float, str)):
            return v
        return None

    mins: dict = {}
    maxs: dict = {}
    for name, (lo, hi) in part.ranges.items():
        lo, hi = _plain(lo), _plain(hi)
        if lo is not None and hi is not None:
            mins[name], maxs[name] = lo, hi
    out = {"numRecords": part.rows}
    if mins:
        out["minValues"], out["maxValues"] = mins, maxs
    return json.dumps(out)


#: (abs root, app_id) -> (highest commit version scanned, latest txn seen).
#: Commit JSONs are immutable once written, so the scan can resume where
#: it left off — without this a long-running streaming sink re-reads the
#: ENTIRE commit history on every micro-batch (O(history) driver I/O).
_TXN_WATERMARKS: dict[tuple[str, str], tuple[int, int | None]] = {}


def _latest_txn_version(path: str, app_id: str) -> int | None:
    """The highest ``txn`` version recorded for ``app_id`` (the
    idempotence watermark); incremental across calls.  A cold scan seeds
    from the newest checkpoint's txn rows — pre-checkpoint commits may
    have been vacuumed, and PROTOCOL.md puts txn watermarks in the
    checkpoint for exactly this reason."""
    key = (os.path.abspath(path), app_id)
    scanned, latest = _TXN_WATERMARKS.get(key, (-1, None))
    commits, ckpts = _list_log(path)
    if scanned == -1 and ckpts:
        from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
            _checkpoint_actions,
        )

        base = max(ckpts)
        for part in ckpts[base]:
            for a in _checkpoint_actions(part):
                t = a.get("txn")
                if t and t.get("appId") == app_id:
                    tv = int(t["version"])
                    latest = tv if latest is None else max(latest, tv)
        scanned = base
    new = sorted(v for v in commits if v > scanned)
    for v in new:
        with open(commits[v], encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                t = a.get("txn")
                if t and t.get("appId") == app_id:
                    tv = int(t["version"])
                    latest = tv if latest is None else max(latest, tv)
    if new:
        _TXN_WATERMARKS[key] = (new[-1], latest)
    return latest


def _retention_hours(meta: dict | None) -> float:
    """``delta.deletedFileRetentionDuration`` from the table
    configuration as hours (default 168 = 7 days).  Delta's interval
    syntax: ``interval <n> <unit>`` (days/hours/minutes/seconds...);
    an unparseable value falls back to the default rather than
    silently shortening the retention window."""
    raw = ((meta or {}).get("configuration") or {}).get(
        "delta.deletedFileRetentionDuration"
    )
    if not raw:
        return 168.0
    m = re.match(
        r"^\s*(?:interval\s+)?(\d+(?:\.\d+)?)\s*"
        r"(week|day|hour|minute|second|millisecond)s?\s*$",
        str(raw).strip(), re.IGNORECASE,
    )
    if not m:
        return 168.0
    n = float(m.group(1))
    per_hour = {"week": 168.0, "day": 24.0, "hour": 1.0,
                "minute": 1 / 60.0, "second": 1 / 3600.0,
                "millisecond": 1 / 3.6e6}
    return n * per_hour[m.group(2).lower()]


def delta_checkpoint(root: str, version: int | None = None) -> str:
    """Write a single-part ``V.checkpoint.parquet`` of the replayed state
    at ``version`` (default head) plus the ``_last_checkpoint`` pointer —
    PROTOCOL.md "Checkpoints".  This bounds log replay for long-lived
    tables: without one, every reader (and every ``delta_append``) walks
    the FULL commit history; with one, replay starts at the newest
    checkpoint.  Planner-side: the state is the live-file list, the same
    O(live files) every Delta checkpointer materializes.  Adds carrying
    deletion-vector descriptors keep them verbatim (PROTOCOL.md: the DV
    descriptor is part of the add's state — long-lived MoR tables need
    checkpoints most), and unexpired remove tombstones ride along so
    external readers keep their retention info."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files, meta, protocol, v = _replay(root, version)
    dv_t = pa.struct([
        ("storageType", pa.string()),
        ("pathOrInlineDv", pa.string()),
        ("offset", pa.int32()),
        ("sizeInBytes", pa.int32()),
        ("cardinality", pa.int64()),
    ])
    add_t = pa.struct([
        ("path", pa.string()),
        ("partitionValues", pa.map_(pa.string(), pa.string())),
        ("size", pa.int64()),
        ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()),
        ("stats", pa.string()),
        ("deletionVector", dv_t),
    ])
    remove_t = pa.struct([
        ("path", pa.string()),
        ("deletionTimestamp", pa.int64()),
        ("dataChange", pa.bool_()),
    ])
    fmt_t = pa.struct([
        ("provider", pa.string()),
        ("options", pa.map_(pa.string(), pa.string())),
    ])
    meta_t = pa.struct([
        ("id", pa.string()),
        ("name", pa.string()),
        ("format", fmt_t),
        ("schemaString", pa.string()),
        ("partitionColumns", pa.list_(pa.string())),
        ("configuration", pa.map_(pa.string(), pa.string())),
        ("createdTime", pa.int64()),
    ])
    proto_t = pa.struct([
        ("minReaderVersion", pa.int32()),
        ("minWriterVersion", pa.int32()),
        ("readerFeatures", pa.list_(pa.string())),
        ("writerFeatures", pa.list_(pa.string())),
    ])
    txn_t = pa.struct([
        ("appId", pa.string()),
        ("version", pa.int64()),
        ("lastUpdated", pa.int64()),
    ])
    # txn idempotence watermarks MUST ride the checkpoint (PROTOCOL.md
    # checkpoint schema): once pre-checkpoint commits are vacuumed, the
    # streaming sink's exactly-once dedup would otherwise reset
    txns: dict[str, dict] = {}
    tombstones: dict[str, int] = {}  # removed path -> deletionTimestamp ms

    def _note_tomb(action: dict) -> None:
        ts = action.get("deletionTimestamp") or 0
        p = action["path"]
        tombstones[p] = max(tombstones.get(p, 0), int(ts))

    commits, _ckpts = _list_log(root)
    for cv in sorted(c for c in commits if c <= v):
        with open(commits[cv], encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                if a.get("remove"):
                    _note_tomb(a["remove"])
                t = a.get("txn")
                if t and (t["appId"] not in txns
                          or int(t["version"])
                          >= int(txns[t["appId"]]["version"])):
                    txns[t["appId"]] = {
                        "appId": t["appId"],
                        "version": int(t["version"]),
                        "lastUpdated": t.get("lastUpdated"),
                    }
    # fold txns summarized by an older checkpoint — some of the commits it
    # covered may already be vacuumed (max-merge, idempotent)
    base = max((b for b in _ckpts if b <= v), default=None)
    if base is not None:
        from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
            _checkpoint_actions,
        )

        for part in _ckpts[base]:
            for a in _checkpoint_actions(part):
                if a.get("remove"):
                    _note_tomb(a["remove"])
                t = a.get("txn")
                if t and (t["appId"] not in txns
                          or int(t["version"])
                          >= int(txns[t["appId"]]["version"])):
                    txns[t["appId"]] = {
                        "appId": t["appId"],
                        "version": int(t["version"]),
                        "lastUpdated": t.get("lastUpdated"),
                    }
    txn_rows = [txns[k] for k in sorted(txns)]

    def _dv_row(add: dict):
        dv = add.get("deletionVector")
        if not dv:
            return None
        return {
            "storageType": dv.get("storageType"),
            "pathOrInlineDv": dv.get("pathOrInlineDv"),
            "offset": dv.get("offset"),
            "sizeInBytes": dv.get("sizeInBytes"),
            "cardinality": dv.get("cardinality"),
        }

    adds = [
        {
            "path": add["path"],
            "partitionValues": sorted(
                (add.get("partitionValues") or {}).items()
            ),
            "size": add.get("size"),
            "modificationTime": add.get("modificationTime"),
            # a checkpointed add is state, not a change event
            "dataChange": False,
            "stats": add.get("stats"),
            "deletionVector": _dv_row(add),
        }
        for _rel, add in sorted(files.items())
    ]
    # unexpired tombstones ride the checkpoint (PROTOCOL.md: readers keep
    # retention info once pre-checkpoint commits are cleaned up); a path
    # re-added later is live state, not a tombstone
    # ADVICE r9 (medium): honor delta.deletedFileRetentionDuration —
    # tombstones must outlive the table's configured retention or
    # vacuum's deleted_at map loses them and falls back to file mtime,
    # breaking the concurrent-reader/time-travel window
    tomb_cutoff_ms = int(
        (_time.time() - _retention_hours(meta) * 3600.0) * 1000
    )
    removes = [
        {"path": p, "deletionTimestamp": ts, "dataChange": False}
        for p, ts in sorted(tombstones.items())
        if p not in files and ts >= tomb_cutoff_ms
    ]
    meta_row = {
        "id": meta.get("id"),
        "name": meta.get("name"),
        "format": {
            "provider": (meta.get("format") or {}).get("provider", "parquet"),
            "options": sorted(
                ((meta.get("format") or {}).get("options") or {}).items()
            ),
        },
        "schemaString": meta.get("schemaString"),
        "partitionColumns": list(meta.get("partitionColumns") or []),
        "configuration": sorted((meta.get("configuration") or {}).items()),
        "createdTime": meta.get("createdTime"),
    }
    proto_row = {
        "minReaderVersion": (protocol or {}).get("minReaderVersion", 1),
        "minWriterVersion": (protocol or {}).get("minWriterVersion", 2),
        "readerFeatures": (protocol or {}).get("readerFeatures"),
        "writerFeatures": (protocol or {}).get("writerFeatures"),
    }
    n = len(adds) + len(removes) + len(txn_rows) + 2
    rows_add = [*adds] + [None] * (n - len(adds))
    rows_remove = ([None] * len(adds)) + removes + [None] * (
        len(txn_rows) + 2
    )
    rows_txn = ([None] * (len(adds) + len(removes))) + txn_rows + [None, None]
    rows_meta = [None] * (n - 2) + [meta_row, None]
    rows_proto = [None] * (n - 1) + [proto_row]
    table = pa.table({
        "add": pa.array(rows_add, add_t),
        "remove": pa.array(rows_remove, remove_t),
        "txn": pa.array(rows_txn, txn_t),
        "metaData": pa.array(rows_meta, meta_t),
        "protocol": pa.array(rows_proto, proto_t),
    })
    final = os.path.join(_log_dir(root), f"{v:020d}.checkpoint.parquet")
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    # idempotent: any writer produces the same state
    replace(final, buf.getvalue().to_pybytes())
    replace(
        os.path.join(_log_dir(root), "_last_checkpoint"),
        json.dumps({"version": v, "size": n}),
    )
    return final


def _publish(root: str, version: int, actions: list[dict], placed: list[str]) -> None:
    """Publish ``actions`` as commit ``version``; when a concurrent writer
    won the version, this attempt's staged files (``placed``, referenced by
    no add action) are unlinked and ``DeltaCommitConflict`` raised."""
    publish(
        os.path.join(_log_dir(root), f"{version:020d}.json"),
        "".join(json.dumps(a) + "\n" for a in actions).encode(),
        DeltaCommitConflict(f"version {version} already committed"),
        [os.path.join(root, rel) for rel in placed],
    )


def _stage_adds(
    df: DataFrame,
    root: str,
    version: int,
    nonce: int,
    now_ms: int,
    part_cols: list[str],
) -> tuple[list[str], list[dict]]:
    """Stage ``df`` into ``root`` under attempt-unique names (hive
    ``partitionBy`` layout when ``part_cols``) and return
    ``(placed_rel_paths, add_actions)``.  Partition values travel as
    directory names and land in the adds' ``partitionValues`` — never in
    the data files; adds carry footer-derived stats so the reader's
    skipping works; empty task outputs are never committed.  Shared by
    ``delta_append``, the CoW DML rewrite, MERGE and OPTIMIZE."""
    parts = _files.stage(df, root, lambda i, p: os.path.join(
        os.path.dirname(p.path), f"part-v{version:05d}-{nonce}-{i:05d}.parquet"
    ), part_cols)
    return [p.path for p in parts], [
        {"add": {"path": p.path, "partitionValues": p.values,
                 "size": p.size, "modificationTime": now_ms,
                 "dataChange": True, "stats": _stats_json(p)}}
        for p in parts
    ]


def _to_physical(df: DataFrame, table_schema, part_cols: list[str],
                 mode: str, extra: tuple = ()):
    """Rename a LOGICAL-named frame to the table's physical column names
    (plus parquet field ids under 'id' mapping) for staging, and return
    ``(stage_df, physical_part_cols)`` — column-mapped tables store
    physical names in the data files, so staging logical names would
    make every reader surface nulls.  Columns absent from ``df`` (a
    merge_schema append omitting one) are skipped."""
    from pyspark.sql import functions as F

    cols = []
    for f in table_schema.fields:
        if f.name not in df.columns:
            continue
        md = f.metadata or {}
        phys = md.get("delta.columnMapping.physicalName", f.name)
        fid = md.get("delta.columnMapping.id")
        if fid is not None:
            cols.append(F.col(f.name).alias(
                phys, metadata={"parquet.field.id": int(fid)}
            ))
        else:
            cols.append(F.col(f.name).alias(phys))
    cols.extend(F.col(e) for e in extra)
    phys_of = {
        f.name: (f.metadata or {}).get(
            "delta.columnMapping.physicalName", f.name
        ) for f in table_schema.fields
    }
    return df.select(*cols), [phys_of[c] for c in part_cols]


def _stage_cdc(
    df: DataFrame,
    root: str,
    version: int,
    nonce: int,
    now_ms: int,
    part_cols: list[str],
) -> tuple[list[str], list[dict]]:
    """Stage change-data files under ``_change_data/`` and return
    ``(placed_rel_paths, cdc_actions)`` — ``_stage_adds`` emitting the
    protocol's ``cdc`` action (no stats; ``dataChange`` false by
    definition: change files never count as table data)."""
    parts = _files.stage(df, root, lambda i, p: os.path.join(
        "_change_data", os.path.dirname(p.path),
        f"cdc-v{version:05d}-{nonce}-{i:05d}.parquet",
    ), part_cols)
    return [p.path for p in parts], [
        {"cdc": {"path": p.path, "partitionValues": p.values,
                 "size": p.size, "dataChange": False}}
        for p in parts
    ]


def _assign_identity(df: DataFrame, name: str, dtype, base: int,
                     step: int):
    """Fill the identity column's NULL rows (or the whole missing
    column) with ``base, base+step, ...`` and return
    ``(df, n_assigned)``.  Distributed zipWithIndex shape: one bounded
    per-partition COUNT aggregate (rows collected = #partitions),
    cumulative offsets broadcast in the closure, one mapInPandas pass
    numbering each partition locally — no single-partition window, no
    driver-side data."""
    from pyspark.sql import functions as F

    if name in df.columns:
        need = df.where(F.col(name).isNull())
        have = df.where(F.col(name).isNotNull())
    else:
        need = df.withColumn(name, F.lit(None).cast(dtype))
        have = None
    need = need.localCheckpoint(eager=True)
    n_by_pid = {
        r["pid"]: r["n"]
        for r in need.groupBy(
            F.spark_partition_id().alias("pid")
        ).agg(F.count("*").alias("n")).collect()
    }
    total = sum(n_by_pid.values())
    if total == 0:
        return df, 0
    offsets, acc = {}, 0
    for pid in sorted(n_by_pid):
        offsets[pid] = acc
        acc += n_by_pid[pid]
    cols = list(need.columns)

    def assign(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        pos = offsets.get(pid, 0)
        for pdf in batches:
            n = len(pdf)
            pdf = pdf.copy()
            pdf[name] = [base + step * (pos + i) for i in range(n)]
            pos += n
            yield pdf[cols]

    assigned = need.mapInPandas(assign, need.schema)
    out = assigned if have is None else have.unionByName(assigned)
    return out, total


def delta_append(
    df: DataFrame,
    root: str,
    txn: tuple[str, int] | None = None,
    checkpoint_interval: int | None = 10,
    partition_by: list[str] | None = None,
    merge_schema: bool = False,
) -> int:
    """Append ``df`` as the next version of the Delta table at ``root``
    (creating it on first write); returns the committed version.  With
    ``txn=(app_id, version)``, an already-recorded version is a no-op
    returning the current head — the exactly-once replay contract.
    Every ``checkpoint_interval`` commits a single-part checkpoint is
    written (best-effort, post-commit) so replay stays bounded on
    long-running sinks; pass None to disable.  ``partition_by`` (round 9)
    hive-partitions the table on first write; appends to an existing
    partitioned table follow the table's own ``partitionColumns`` (a
    conflicting ``partition_by`` refuses — Delta partitioning is a
    table-level invariant, not a per-write choice), and each add carries
    its ``partitionValues`` so the reader prunes on them.
    ``merge_schema`` (r9) is Delta's mergeSchema append evolution: new
    df columns are APPENDED to the table schema as nullable fields via a
    new metaData action in the same commit, df may omit table columns
    (readers surface nulls), and a type conflict on a shared column
    still refuses — evolution widens, never rewrites."""
    from pyspark.sql import types as T

    from pyspark.sql import functions as F

    try:
        _files, meta, _proto, head = _replay(root, None)
        exists = True
    except FileNotFoundError:  # no committed version (maybe a first claim)
        exists = False
    evolved = None
    stage_df, stage_part_cols = df, None
    if exists:
        _check_writer_requirements(meta, _proto, dml=False)
        _enforce_constraints(df, _active_constraints(meta), "append")
        part_cols = list(meta.get("partitionColumns") or [])
        if partition_by is not None and list(partition_by) != part_cols:
            raise ValueError(
                f"partition_by {list(partition_by)} != table's "
                f"partitionColumns {part_cols}"
            )
        table_schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        gen_cols = _generated_cols(table_schema)
        id_cols = _identity_cols(table_schema)
        id_meta_update: dict[str, int] = {}
        if gen_cols or id_cols:
            by_tname = {f.name: f for f in table_schema.fields}
            # GENERATED: compute when omitted, validate when provided
            # (PROTOCOL.md: the writer must ensure value == expression)
            for name, expr in sorted(gen_cols.items()):
                dtype = by_tname[name].dataType
                if name not in df.columns:
                    df = df.withColumn(name, F.expr(expr).cast(dtype))
                elif df.where(
                    ~F.col(name).eqNullSafe(F.expr(expr).cast(dtype))
                ).limit(1).count():
                    raise ValueError(
                        f"provided value for GENERATED column {name!r} "
                        f"differs from its expression {expr!r}"
                    )
            # IDENTITY: assign fresh values past the high watermark for
            # NULL/missing rows; explicit values need allowExplicitInsert
            # and advance the watermark past their max (SYNC semantics)
            for name, info in sorted(id_cols.items()):
                dtype = by_tname[name].dataType
                explicit_max = None
                if name in df.columns:
                    if not info["allow_explicit"] and df.where(
                        F.col(name).isNotNull()
                    ).limit(1).count():
                        raise ValueError(
                            f"IDENTITY column {name!r} is GENERATED "
                            "ALWAYS (allowExplicitInsert=false): "
                            "explicit values refused"
                        )
                    row = df.agg(F.max(name).alias("m")).first()
                    explicit_max = row["m"]
                hwm = info["hwm"]
                base = (int(hwm) + info["step"] if hwm is not None
                        else info["start"])
                df, n_assigned = _assign_identity(
                    df, name, dtype, base, info["step"]
                )
                new_hwm = (base + info["step"] * (n_assigned - 1)
                           if n_assigned else
                           (int(hwm) if hwm is not None else None))
                if explicit_max is not None:
                    new_hwm = (int(explicit_max) if new_hwm is None
                               else max(new_hwm, int(explicit_max)))
                if new_hwm is not None and (
                    hwm is None or new_hwm != int(hwm)
                ):
                    id_meta_update[name] = new_hwm
            # table order for known columns; mergeSchema extras keep
            # trailing positions for the evolution block below
            extras = [c for c in df.columns if c not in by_tname]
            df = df.select(
                *[f.name for f in table_schema.fields
                  if f.name in df.columns],
                *extras,
            )
            stage_df = df
        if merge_schema:
            by_name = {f.name: f for f in table_schema.fields}
            for f in df.schema.fields:
                tf = by_name.get(f.name)
                if tf is not None and (
                    tf.dataType.simpleString() != f.dataType.simpleString()
                ):
                    raise ValueError(
                        f"column {f.name!r}: append type "
                        f"{f.dataType.simpleString()} conflicts with table "
                        f"type {tf.dataType.simpleString()} (mergeSchema "
                        "adds columns, it does not change types)"
                    )
            new_fields = [T.StructField(f.name, f.dataType, True)
                          for f in df.schema.fields
                          if f.name not in by_name]
            if new_fields:
                evolved = T.StructType(
                    list(table_schema.fields) + new_fields
                )
        elif [
            (f.name, f.dataType.simpleString()) for f in table_schema.fields
        ] != [(f.name, f.dataType.simpleString()) for f in df.schema.fields]:
            raise ValueError(
                f"append schema {df.schema.simpleString()} != table schema "
                f"{table_schema.simpleString()}"
            )
        mode = (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        )
        if mode != "none":
            if evolved is not None:
                raise ValueError(
                    "mergeSchema evolution on a column-mapped table needs "
                    "id/physicalName assignment — not supported"
                )
            stage_df, stage_part_cols = _to_physical(
                df, table_schema, part_cols, mode
            )
        if txn is not None:
            seen = _latest_txn_version(root, txn[0])
            if seen is not None and seen >= int(txn[1]):
                return head  # replayed batch: exactly-once no-op
        version = head + 1
    else:
        version = 0
        id_meta_update = {}
        part_cols = list(partition_by or [])
        missing = [c for c in part_cols if c not in df.columns]
        if missing:
            raise ValueError(f"partition_by columns {missing} not in schema")

    # attempt-unique file names: a STALE writer racing a committed version
    # must never collide with (and clobber) that version's data files —
    # its uniquely-named orphans stay invisible and are unlinked on loss
    nonce = _time.time_ns()
    now_ms = int(_time.time() * 1000)
    placed, adds = _stage_adds(
        stage_df, root, version, nonce, now_ms,
        part_cols if stage_part_cols is None else stage_part_cols,
    )

    actions = [{"commitInfo": {"timestamp": now_ms, "operation": "WRITE",
                               "engineInfo": "kafka-connect-expand-json-transform-spark delta_append"}}]
    if version == 0:
        actions.append({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}})
        actions.append({"metaData": {
            "id": f"delta-append-{os.path.basename(os.path.abspath(root))}",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(df.schema.jsonValue()),
            "partitionColumns": part_cols, "configuration": {},
            "createdTime": now_ms,
        }})
    elif evolved is not None:
        # mergeSchema evolution: the widened schema rides THIS commit as
        # a new metaData action (Delta's own shape — schema is metadata,
        # versioned with the data that first needs it)
        actions.append({"metaData": {
            **meta, "schemaString": json.dumps(evolved.jsonValue()),
        }})
    elif id_meta_update:
        # identity assignment: the advanced high watermark is part of
        # the schema metadata and rides THIS commit (versioned and
        # crash-safe — a lost commit loses the watermark advance with
        # the data that consumed it)
        sj = json.loads(meta["schemaString"])
        for f in sj["fields"]:
            if f["name"] in id_meta_update:
                f.setdefault("metadata", {})[
                    "delta.identity.highWaterMark"
                ] = id_meta_update[f["name"]]
        actions.append({"metaData": {
            **meta, "schemaString": json.dumps(sj),
        }})
    if txn is not None:
        actions.append({"txn": {"appId": txn[0], "version": int(txn[1]),
                                "lastUpdated": now_ms}})
    actions.extend(adds)

    os.makedirs(_log_dir(root), exist_ok=True)
    _publish(root, version, actions, placed)
    if (checkpoint_interval and version > 0
            and version % checkpoint_interval == 0):
        try:
            delta_checkpoint(root, version)
        except Exception:
            pass  # advisory: a missed checkpoint only lengthens replay
    return version


def delta_delete_where(spark, root: str, predicate: str) -> tuple[int, int]:
    """Copy-on-write DELETE on a Delta table, jar-free: one pass finds the
    files that CONTAIN matching rows (``_metadata.file_path`` grain), only
    those files are rewritten without the matches, and one commit removes
    the affected files and adds their survivors — untouched files carry
    over by not being mentioned, Delta's partial-CoW economics.  Returns
    ``(version, rows_deleted)``; a predicate matching nothing is a no-op
    returning the current head.  Partitioned tables are supported
    (round 9): partition-term hints prune whole partitions before stats
    pruning, survivors restage through a hive-layout ``partitionBy``
    write, and the new adds carry ``partitionValues`` — untouched
    partitions' files are byte-identical carried references.
    Column-mapped tables are supported (r9): the scan resolves
    physical names / field ids like the snapshot read, and the
    rewrite re-stages physical names (+ field ids under 'id')."""
    return _delta_cow(spark, root, predicate, None)


def delta_update_where(
    spark, root: str, predicate: str, assignments: dict[str, str]
) -> tuple[int, int]:
    """Copy-on-write UPDATE on a Delta table, jar-free: the same
    file-pruned rewrite as ``delta_delete_where``, but matching rows are
    kept with the SET ``assignments`` (column -> SQL expression over the
    row) applied.  Returns ``(version, rows_updated)``."""
    if not assignments:
        raise ValueError("update needs at least one assignment")
    return _delta_cow(spark, root, predicate, assignments)


_HINT_TERM = re.compile(
    r"^\s*`?(\w+)`?\s*(<=|>=|=|<|>)\s*"
    r"(?:(-?\d+(?:\.\d+)?)|'((?:[^']|'')*)')\s*$"
)


def _predicate_hints(predicate: str) -> list[tuple]:
    """Extract conjunctive ``col op literal`` terms from a SQL predicate
    for log-level file skipping (each parsed term may prune a file on its
    add-action stats; unparsed terms are simply not used — pruning stays
    sound because hints only ever SKIP files whose stats prove no match).
    An OR anywhere outside a string literal defeats conjunct splitting
    (SQL precedence binds AND tighter: ``a=1 AND b=2 OR c=3`` is
    ``(a=1 AND b=2) OR c=3``, so no single conjunct is required), so it
    yields no hints at all."""
    # blank out '…' literals (with '' escapes) before the OR scan so a
    # value like name = 'black OR white' does not disable pruning
    stripped = re.sub(r"'(?:[^']|'')*'", "''", predicate)
    if re.search(r"(?i)\bOR\b", stripped):
        return []
    hints = []
    for term in re.split(r"(?i)\s+AND\s+", predicate):
        m = _HINT_TERM.match(term)
        if not m:
            continue
        col, op, num, s = m.groups()
        val = (float(num) if num and "." in num else int(num)) \
            if num is not None else s.replace("''", "'")
        hints.append((col, op, val))
    return hints


def _cow_scan(spark, root, candidates, meta, schema, mode, phys_of,
              part_cols):
    """Shared CoW read machinery (DML + MERGE): a pinned-schema scan of
    the candidate files under LOGICAL column names, excluding DV-deleted
    rows (the (file, pos) frame comes from the reader's shared helper),
    re-injecting hive partition values, and exposing ``__f`` (the
    normalized absolute file path) for file-grain hit accounting."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
        _field_id_type,
        dv_frame,
    )

    dv_df = dv_frame(spark, root, candidates)
    by_name = {f.name: f for f in schema.fields}
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    if mode == "id":
        # resolve parquet columns by FIELD ID (the snapshot read's shape)
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        read_schema = _field_id_type(T.StructType(
            [T.StructField(f.name, f.dataType, f.nullable, f.metadata)
             for f in data_fields]
        ))
    else:
        read_schema = T.StructType(
            [T.StructField(phys_of[f.name], f.dataType, True)
             for f in data_fields]
        )
    pv_df = None
    if part_cols:
        # broadcast file -> partitionValues map, the snapshot read's shape
        # (partitionValues are keyed by PHYSICAL name on mapped tables)
        pv_df = spark.createDataFrame(
            [(os.path.abspath(os.path.join(root, rel)),
              *[(add.get("partitionValues") or {}).get(phys_of[c])
                for c in part_cols])
             for rel, add in candidates.items()],
            T.StructType(
                [T.StructField("__f", T.StringType(), False)]
                + [T.StructField(f"__pv_{c}", T.StringType(), True)
                   for c in part_cols]
            ),
        )

    def scan(rels):
        df = spark.read.schema(read_schema).parquet(
            *[os.path.join(root, rel) for rel in sorted(rels)]
        ).withColumn(
            "__f",
            _files.plain_file_path(),
        )
        if dv_df is not None:
            df = (
                df.withColumn("__pos", F.col("_metadata.row_index"))
                .join(
                    F.broadcast(dv_df),
                    (F.col("__f") == F.col("__dv_file"))
                    & (F.col("__pos") == F.col("__dv_pos")),
                    "left_anti",
                )
                .drop("__pos")
            )
        if mode == "name":
            # physical -> logical, plan-time rename ('id' already reads
            # under logical names via field-id resolution)
            df = df.select(
                "__f",
                *[F.col(phys_of[f.name]).alias(f.name)
                  for f in data_fields],
            )
        if pv_df is not None:
            df = df.join(F.broadcast(pv_df), "__f").select(
                "__f",
                *[f.name for f in data_fields],
                *[F.col(f"__pv_{c}").cast(by_name[c].dataType).alias(c)
                  for c in part_cols],
            )
        return df

    return scan


def _delta_cow(
    spark, root: str, predicate: str, assignments: dict[str, str] | None
) -> tuple[int, int]:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
        _physical_name,
        _stats_keep,
    )

    files, meta, _proto, head = _replay(root, None)
    _check_writer_requirements(meta, _proto, dml=True,
                               assignments=assignments)
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    phys_of = {f.name: (_physical_name(f) if mode != "none" else f.name)
               for f in schema.fields}
    part_cols = list(meta.get("partitionColumns") or [])
    if assignments and any(c in assignments for c in part_cols):
        raise ValueError(
            "updating partition columns is not supported (rows would move "
            "between partitions — delete + re-insert instead)"
        )
    if not files:
        return head, 0

    # log-level candidate pruning: files whose add-action stats OR
    # partitionValues prove the predicate cannot match are never even
    # scanned (the reader's own skipping, reused on the write path; for
    # partitioned tables the partition terms prune whole partitions)
    hints = _predicate_hints(predicate)
    if hints:
        types_of = {f.name: f.dataType for f in schema.fields}
        candidates = {
            rel: add for rel, add in files.items()
            if _stats_keep(add, hints, part_cols, phys_of, types_of)
        }
    else:
        candidates = dict(files)
    if not candidates:
        return head, 0

    # deletion-vector tables: the scan must EXCLUDE DV-deleted rows —
    # counting them as hits would rewrite files needlessly, and carrying
    # them into a rewrite would resurrect them.  The rewrite drops the
    # affected files' DVs (survivors are fully materialized), the same
    # DV-collapse a Delta OPTIMIZE performs.
    scan = _cow_scan(spark, root, candidates, meta, schema, mode,
                     phys_of, part_cols)

    abs_of = {os.path.abspath(os.path.join(root, rel)): rel
              for rel in candidates}
    # bounded collect: one row per file that CONTAINS a match
    hits = scan(candidates).where(predicate).groupBy("__f").count().collect()
    if not hits:
        return head, 0
    n_deleted = sum(r["count"] for r in hits)
    affected = sorted(abs_of[r["__f"]] for r in hits)

    nonce = _time.time_ns()
    now_ms = int(_time.time() * 1000)
    version = head + 1
    op = "DELETE" if assignments is None else "UPDATE"
    actions = [{"commitInfo": {"timestamp": now_ms, "operation": op,
                               "operationParameters": {"predicate": predicate}}}]

    # ONE Spark job rewrites every affected file's survivors (a CoW
    # rewrite has no file-to-file mapping obligation — the new files are
    # just the union of survivors, Delta's own rewrite economics); the
    # old per-file coalesce(1) loop was O(affected files) sequential
    # driver-orchestrated jobs plus a second evaluation per file.
    # Untouched partitions' files are never rewritten: partition-term
    # hints prune them above, and a file with no matching row is not in
    # `affected` regardless.
    survivors = scan(affected).drop("__f")
    if assignments is None:
        rewritten = survivors.where(f"NOT ({predicate})")
    else:
        cond = F.expr(predicate)
        rewritten = survivors.select(
            *[
                (F.when(cond, F.expr(assignments[c.name]))
                 .otherwise(F.col(c.name)).cast(c.dataType).alias(c.name)
                 if c.name in assignments else F.col(c.name))
                for c in schema.fields
            ]
        )
    if assignments is not None:
        # UPDATE may move rows outside a CHECK constraint — enforce on
        # the rewritten frame (only evaluated when constraints exist)
        _enforce_constraints(rewritten, _active_constraints(meta), "update")
    stage_rewritten, stage_parts = rewritten, part_cols
    if mode != "none":
        # mapped tables stage PHYSICAL names (+ field ids under 'id')
        stage_rewritten, stage_parts = _to_physical(
            rewritten, schema, part_cols, mode
        )
    placed, add_actions = _stage_adds(
        stage_rewritten, root, version, nonce, now_ms, stage_parts
    )
    actions.extend(add_actions)
    if str((meta.get("configuration") or {}).get(
        "delta.enableChangeDataFeed", "false"
    )).lower() == "true":
        # CDF-enabled tables: the DML commit carries its change events
        # as cdc actions over _change_data/ files (PROTOCOL.md "Change
        # Data Files") — DELETE emits the deleted rows, UPDATE emits
        # pre+post images; without these, the rewrite would be
        # unrecoverable for every CDF reader
        matched = scan(affected).drop("__f").where(predicate)
        if assignments is None:
            cdc_df = matched.withColumn("_change_type", F.lit("delete"))
        else:
            cond = F.expr(predicate)
            post = matched.select(
                *[
                    (F.when(cond, F.expr(assignments[c.name]))
                     .otherwise(F.col(c.name)).cast(c.dataType)
                     .alias(c.name)
                     if c.name in assignments else F.col(c.name))
                    for c in schema.fields
                ]
            ).withColumn("_change_type", F.lit("update_postimage"))
            cdc_df = matched.withColumn(
                "_change_type", F.lit("update_preimage")
            ).unionByName(post)
        cdc_parts = part_cols
        if mode != "none":
            cdc_df, cdc_parts = _to_physical(
                cdc_df, schema, part_cols, mode, extra=("_change_type",)
            )
        cdc_placed, cdc_actions = _stage_cdc(
            cdc_df, root, version, nonce, now_ms, cdc_parts
        )
        placed.extend(cdc_placed)
        actions.extend(cdc_actions)
    actions.extend(
        {"remove": {"path": rel, "deletionTimestamp": now_ms,
                    "dataChange": True}}
        for rel in affected
    )
    _publish(root, version, actions, placed)
    return version, n_deleted


def delta_merge_into(
    spark,
    root: str,
    source: DataFrame,
    on: list[str],
    *,
    update: dict | str | None = "all",
    delete_when=None,
    insert: bool = True,
    insert_when=None,
) -> tuple[int, dict]:
    """Standalone MERGE INTO on a Delta table, jar-free (r10).  The
    clauses (``update`` / ``delete_when`` / ``insert`` / ``insert_when``),
    the refusals and the stats are the shared MERGE semantics documented
    in ``sources/_merge.py`` — those of ``txlog.merge_into`` and Delta's
    own MERGE.  ``update="all"`` never assigns partition columns, and an
    explicit assignment to one refuses.  Returns ``(version,
    {"inserted": i, "updated": u, "deleted": d})``; a merge that matches
    and inserts nothing commits no version.

    Partial-CoW economics: only files CONTAINING a matched row are
    rewritten (one semi-join at file grain finds them; footer-stats
    pruning on the first integer merge key skips non-overlapping files
    before the scan); untouched files carry by not being mentioned.
    DV tables scan minus deleted positions and the rewrite collapses the
    affected files' DVs; column-mapped ('name'/'id') and partitioned
    tables restage physical names / hive layout via the shared staging
    path; CDF-enabled tables commit delete / update_preimage /
    update_postimage / insert change rows as cdc actions.  Inserted rows
    compute (or validate) generated columns, and non-key identity columns
    get fresh ids past the high-water mark, which the commit's metaData
    advances; a source carrying a non-key identity column refuses.
    Scale: one shuffle equi-join on the merge keys (a small source
    broadcasts via AQE); survivors + inserts stage as ONE job; nothing
    data-sized is collected."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
        _physical_name,
        _stats_keep,
    )

    files, meta, _proto, head = _replay(root, None)
    _check_writer_requirements(meta, _proto, dml=True,
                               assignments=update,
                               merge_inserts=insert)
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    phys_of = {f.name: (_physical_name(f) if mode != "none" else f.name)
               for f in schema.fields}
    part_cols = list(meta.get("partitionColumns") or [])
    plan = MergePlan(
        source, on, schema, update=update, delete_when=delete_when,
        insert=insert, insert_when=insert_when, partition_cols=part_cols,
    )
    id_cols = _identity_cols(schema)
    carried_src = [c for c in id_cols if c in source.columns and c not in on]
    if carried_src:
        raise ValueError(
            f"source carries IDENTITY column(s) {carried_src} that "
            "are not merge keys; drop them — inserts get fresh ids"
        )
    hints = plan.scan_source()

    # footer-stats candidate pruning: files whose [min, max] cannot hold
    # any source key are never read (sound: a pruned file can contain no
    # matched row, and its rows are exactly the target-only-kept clause)
    candidates = dict(files)
    if files and hints:
        types_of = {f.name: f.dataType for f in schema.fields}
        candidates = {
            rel: add for rel, add in files.items()
            if _stats_keep(add, hints, part_cols, phys_of, types_of)
        }

    nonce = _time.time_ns()
    now_ms = int(_time.time() * 1000)
    version = head + 1

    if candidates:
        scan = _cow_scan(spark, root, candidates, meta, schema, mode,
                         phys_of, part_cols)
        tgt = scan(candidates)
        # file-grain hit discovery: one semi-join, one row per file that
        # CONTAINS a matched key (bounded collect).  No .distinct() on the
        # source keys: the duplicate-key guard proves them unique, and a
        # LEFT SEMI join never multiplies
        abs_of = {os.path.abspath(os.path.join(root, rel)): rel
                  for rel in candidates}
        hit_files = (
            tgt.select("__f", *on)
            .join(source.select(*on), on, "left_semi")
            .select("__f").distinct().collect()
        )
        affected = sorted(abs_of[r["__f"]] for r in hit_files)
    else:
        affected = []

    plan.join(scan(affected).drop("__f") if affected
              else spark.createDataFrame([], schema))
    stats = plan.stats()
    if not affected and stats["inserted"] == 0:
        return head, stats

    by_name = {f.name: f for f in schema.fields}
    ins_rows = plan.inserts()
    # generated columns on INSERTED rows (r10): compute when the source
    # omits them, validate when it provides them — the same contract as
    # append (matched rows keep their already-valid target values, and
    # assignments on generated tables were refused above)
    for c, expr in sorted(_generated_cols(schema).items()):
        dt = by_name[c].dataType
        if c in source.columns:
            if ins_rows.where(
                ~F.col(c).eqNullSafe(F.expr(expr).cast(dt))
            ).limit(1).count():
                raise ValueError(
                    f"inserted value for GENERATED column {c!r} "
                    f"differs from its expression {expr!r}"
                )
        else:
            ins_rows = ins_rows.withColumn(c, F.expr(expr).cast(dt))
    # identity columns not among the merge keys: inserted rows arrive
    # NULL — assign fresh ids past the watermark (the surrogate-key SCD
    # pattern) and ride the advanced watermark on this commit's metaData
    id_meta_update: dict[str, int] = {}
    for c in sorted(id_cols):
        if c in on:
            continue  # key-matched: the source supplies the value
        info = id_cols[c]
        hwm = info["hwm"]
        base = (int(hwm) + info["step"] if hwm is not None
                else info["start"])
        ins_rows, n_assigned = _assign_identity(
            ins_rows, c, by_name[c].dataType, base, info["step"]
        )
        if n_assigned:
            id_meta_update[c] = base + info["step"] * (n_assigned - 1)
    rewritten = plan.kept().unionByName(ins_rows)
    _enforce_constraints(rewritten, _active_constraints(meta), "merge")

    stage_df, stage_parts = rewritten, part_cols
    if mode != "none":
        stage_df, stage_parts = _to_physical(
            rewritten, schema, part_cols, mode
        )
    placed, add_actions = _stage_adds(
        stage_df, root, version, nonce, now_ms, stage_parts
    )
    actions = [{"commitInfo": {
        "timestamp": now_ms, "operation": "MERGE",
        "operationParameters": {"predicate": " AND ".join(
            f"t.{k} = s.{k}" for k in on
        )},
    }}]
    if id_meta_update:
        sj = json.loads(meta["schemaString"])
        for f in sj["fields"]:
            if f["name"] in id_meta_update:
                f.setdefault("metadata", {})[
                    "delta.identity.highWaterMark"
                ] = id_meta_update[f["name"]]
        actions.append({"metaData": {
            **meta, "schemaString": json.dumps(sj),
        }})
    actions.extend(add_actions)
    if str((meta.get("configuration") or {}).get(
        "delta.enableChangeDataFeed", "false"
    )).lower() == "true":
        # the identity-assigned inserts, the same rows as staged
        cdc_df = plan.changes(ins_rows, labels=(
            "delete", "update_preimage", "update_postimage", "insert"
        ))
        cdc_parts = part_cols
        if mode != "none":
            cdc_df, cdc_parts = _to_physical(
                cdc_df, schema, part_cols, mode, extra=("_change_type",)
            )
        cdc_placed, cdc_actions = _stage_cdc(
            cdc_df, root, version, nonce, now_ms, cdc_parts
        )
        placed.extend(cdc_placed)
        actions.extend(cdc_actions)
    actions.extend(
        {"remove": {"path": rel, "deletionTimestamp": now_ms,
                    "dataChange": True}}
        for rel in affected
    )
    _publish(root, version, actions, placed)
    return version, stats


def delta_vacuum(
    root: str,
    retention_hours: float | None = None,
    dry_run: bool = False,
) -> list[str]:
    """VACUUM: delete data/DV files not referenced by the CURRENT version
    and older than ``retention_hours`` (Delta's default 7 days); returns
    the removed relative paths.  Time travel to versions whose files were
    vacuumed stops working — Delta's own documented trade; the retention
    window is the guard, and the reader's replay fails loudly (missing
    file at scan) rather than returning partial rows.  Retention is keyed
    off the remove action's ``deletionTimestamp`` (when the file became
    UNREFERENCED — Delta's own rule: the window protects concurrent
    readers and recent time travel, which file mtime cannot), with mtime
    as the floor and the only signal for untracked leftovers.  Leftover
    ``_stage_*`` attempt dirs from crashed writers age out by the same
    rule.  Planner-side: one replay + one log walk + one directory
    walk."""
    files, _meta, _proto, _head = _replay(root, None)
    if retention_hours is None:
        # default to the table's configured retention, like Delta's own
        # VACUUM (delta.deletedFileRetentionDuration, default 7 days)
        retention_hours = _retention_hours(_meta)
    # tombstone timestamps: rel path -> latest deletionTimestamp (ms)
    from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
        _checkpoint_actions,
        _list_log,
    )

    commits, ckpts = _list_log(root)
    deleted_at: dict[str, float] = {}

    def _note_remove(action: dict) -> None:
        rel = os.path.normpath(action["path"])
        ts = action.get("deletionTimestamp")
        if ts is not None:
            deleted_at[rel] = max(deleted_at.get(rel, 0.0), ts / 1000.0)

    base = max(ckpts, default=None)
    if base is not None:
        for part in ckpts[base]:
            for a in _checkpoint_actions(part):
                if a.get("remove"):
                    _note_remove(a["remove"])
    for v in sorted(commits):
        if base is not None and v <= base:
            continue
        with open(commits[v], encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    a = json.loads(line)
                    if a.get("remove"):
                        _note_remove(a["remove"])
    live = {os.path.normpath(rel) for rel in files}
    for add in files.values():
        dv = add.get("deletionVector")
        if dv:
            from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
                _dv_file_path,
            )

            p = _dv_file_path(root, dv)
            if p:
                live.add(os.path.normpath(os.path.relpath(p, root)))
    cutoff = _time.time() - retention_hours * 3600.0
    removed: list[str] = []
    for dirpath, dirs, names in os.walk(root):
        dirs[:] = [d for d in dirs if d != "_delta_log"]
        for n in names:
            if not (n.endswith(".parquet") or n.endswith(".bin")):
                continue
            full = os.path.join(dirpath, n)
            rel = os.path.normpath(os.path.relpath(full, root))
            if rel in live:
                continue
            try:
                # cutoff applies to when the file became UNREFERENCED
                # (tombstone deletionTimestamp), not when it was written;
                # mtime is the floor, and the only signal for untracked
                # files (crashed-writer leftovers with no remove action)
                if max(deleted_at.get(rel, 0.0),
                       os.path.getmtime(full)) >= cutoff:
                    continue
            except OSError:
                continue  # raced with a concurrent writer's cleanup
            removed.append(rel)
            if not dry_run:
                try:
                    os.unlink(full)
                except OSError:
                    pass
    if not dry_run:
        for dirpath, dirs, names in os.walk(root, topdown=False):
            if (os.path.basename(dirpath).startswith("_stage_")
                    and not names and not dirs):
                try:
                    os.rmdir(dirpath)
                except OSError:
                    pass
    return sorted(removed)


def delta_streaming_sink(root: str, app_id: str,
                         partition_by: list[str] | None = None):
    """foreachBatch body for exactly-once streaming ingestion into a Delta
    table: ``batchId`` rides the ``txn`` action, so checkpoint replays
    dedup (the public Delta idempotent-writer recipe).  ``partition_by``
    hive-partitions the table on the stream's FIRST commit; later batches
    follow the table's own partitionColumns (r9)."""

    def apply(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        delta_append(batch_df, root, txn=(app_id, int(batch_id)),
                     partition_by=partition_by)

    return apply


def delta_optimize(
    spark,
    root: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    zorder_by: list[str] | None = None,
) -> tuple[int, int]:
    """OPTIMIZE for standalone Delta tables: bin-pack small files (and
    collapse deletion vectors) into ~``target_file_bytes`` files, in ONE
    Spark job, committed with ``dataChange=false`` adds/removes — the
    protocol's compaction marker, which keeps streaming readers alive
    (``deltastream`` skips dataChange=false commits; re-streaming a
    rewrite would duplicate rows).  ``zorder_by`` additionally clusters
    the rewrite on the Morton key of the named columns (multi-dimensional
    skipping: the rewritten files' stats become selective on EVERY named
    column).  Partitioned tables compact within each partition (the
    hive-layout restage).  Returns ``(version, files_rewritten)``; a
    table with at most one live file per partition and no DVs is a no-op
    returning the current head.  Scale: candidate selection is
    O(live files) planner metadata; the rewrite reads only the files
    being compacted."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
        dv_frame,
    )

    files, meta, _proto, head = _replay(root, None)
    _check_writer_requirements(meta, _proto, dml=False)
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    part_cols = list(meta.get("partitionColumns") or [])
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    by_name = {f.name: f for f in schema.fields}
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    if zorder_by:
        bad = [c for c in zorder_by if c not in by_name or c in part_cols]
        if bad:
            raise ValueError(f"zorder_by columns {bad} not clusterable")

    # candidates: per partition, every DV-bearing file plus small files
    # when there are 2+ of them (compacting one lone small file is churn)
    def pkey(add):
        pv = add.get("partitionValues") or {}
        return tuple(sorted(pv.items()))

    groups: dict[tuple, list[str]] = {}
    for rel, add in files.items():
        groups.setdefault(pkey(add), []).append(rel)
    affected: list[str] = []
    for _k, rels in groups.items():
        dvd = [r for r in rels if files[r].get("deletionVector")]
        small = [r for r in rels
                 if files[r].get("size", 0) < target_file_bytes
                 and r not in dvd]
        affected.extend(dvd)
        if len(small) + len(dvd) >= 2:
            affected.extend(small)
    affected = sorted(set(affected))
    if not affected:
        return head, 0

    cand = {rel: files[rel] for rel in affected}
    dv_df = dv_frame(spark, root, cand)
    from kafka_connect_expand_json_transform_spark.sources.delta_reader import (
        _field_id_type,
        _physical_name,
    )

    phys_of = {f.name: (_physical_name(f) if mode != "none" else f.name)
               for f in schema.fields}
    if mode == "id":
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        read_schema = _field_id_type(T.StructType(
            [T.StructField(f.name, f.dataType, f.nullable, f.metadata)
             for f in data_fields]
        ))
    else:
        read_schema = T.StructType(
            [T.StructField(phys_of[f.name], f.dataType, True)
             for f in data_fields]
        )
    df = spark.read.schema(read_schema).parquet(
        *[os.path.join(root, rel) for rel in affected]
    ).withColumn(
        "__f",
        _files.plain_file_path(),
    )
    if dv_df is not None:
        df = (
            df.withColumn("__pos", F.col("_metadata.row_index"))
            .join(
                F.broadcast(dv_df),
                (F.col("__f") == F.col("__dv_file"))
                & (F.col("__pos") == F.col("__dv_pos")),
                "left_anti",
            )
            .drop("__pos")
        )
    if mode == "name":
        df = df.select(
            "__f",
            *[F.col(phys_of[f.name]).alias(f.name) for f in data_fields],
        )
    if part_cols:
        pv_df = spark.createDataFrame(
            [(os.path.abspath(os.path.join(root, rel)),
              *[(add.get("partitionValues") or {}).get(phys_of[c])
                for c in part_cols])
             for rel, add in cand.items()],
            T.StructType(
                [T.StructField("__f", T.StringType(), False)]
                + [T.StructField(f"__pv_{c}", T.StringType(), True)
                   for c in part_cols]
            ),
        )
        df = df.join(F.broadcast(pv_df), "__f").select(
            *[f.name for f in data_fields],
            *[F.col(f"__pv_{c}").cast(by_name[c].dataType).alias(c)
              for c in part_cols],
        )
    else:
        df = df.drop("__f")

    total = sum(cand[rel].get("size", 0) for rel in affected)
    n_out = max(1, -(-total // target_file_bytes))
    if zorder_by:
        from kafka_connect_expand_json_transform_spark.sources.batch import (
            zorder_key,
        )

        df = (
            df.withColumn("__z", zorder_key(df, list(zorder_by)))
            .repartitionByRange(n_out, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
    else:
        # bin-packing needs no row redistribution — coalesce, no shuffle
        df = df.coalesce(n_out)

    nonce = _time.time_ns()
    now_ms = int(_time.time() * 1000)
    version = head + 1
    actions = [{"commitInfo": {
        "timestamp": now_ms, "operation": "OPTIMIZE",
        "operationParameters": {
            "zOrderBy": json.dumps(list(zorder_by or []))},
    }}]
    stage_df, stage_parts = df, part_cols
    if mode != "none":
        stage_df, stage_parts = _to_physical(df, schema, part_cols, mode)
    placed, add_actions = _stage_adds(
        stage_df, root, version, nonce, now_ms, stage_parts
    )
    for a in add_actions:
        a["add"]["dataChange"] = False
    actions.extend(add_actions)
    actions.extend(
        {"remove": {"path": rel, "deletionTimestamp": now_ms,
                    "dataChange": False}}
        for rel in affected
    )
    _publish(root, version, actions, placed)
    return version, len(affected)
