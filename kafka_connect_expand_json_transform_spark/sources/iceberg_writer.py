"""Pure-Python Apache Iceberg APPEND writer — the produce direction for
the second open table format, mirroring ``delta_writer.delta_append``
(reader: ``iceberg_reader``; txlog-side export: ``uniform``), per the
public iceberg.apache.org spec:

* ``iceberg_append(df, root)`` — commit the DataFrame as the next
  snapshot of a standalone format-version-2 Iceberg table (creating the
  ``metadata/`` tree on first write).  Schema must match the table's
  exactly (or evolve via ``merge_schema``).  Each commit CARRIES the
  previous snapshot's manifests verbatim in the new manifest list and
  adds ONE manifest holding only the new files — Iceberg's own append
  economics — so carried entries keep their partition tuples, spec ids,
  and sequence numbers, and time travel works in any Iceberg reader;
  the commit publishes ``v(N+1).metadata.json`` through
  ``_commit.publish``, where N is the newest committed version it read —
  the atomic rename-if-absent contract Iceberg's catalogs provide — and
  then rewrites ``version-hint.text`` for outside clients (written, never
  read here).
* ``iceberg_delete_where(spark, root, predicate)`` — a v2
  POSITION-DELETE commit: matching rows (from ``_metadata.row_index``
  on the distributed pinned scan) land in a delete parquet with the
  spec's reserved field ids behind a content=1 delete manifest; data
  files are never rewritten.

Scale: one parquet write per batch plus O(files WRITTEN BY THIS COMMIT)
planner-side manifest metadata — previous manifests are referenced,
never re-read or re-written; data files land once under unique
snapshot-scoped names and are never rewritten by appends.
"""

from __future__ import annotations

import json
import os
import time as _time

from pyspark.sql import DataFrame

from kafka_connect_expand_json_transform_spark.sources import _files
from kafka_connect_expand_json_transform_spark.sources._commit import publish, replace
from kafka_connect_expand_json_transform_spark.sources import avro_codec as AC
from kafka_connect_expand_json_transform_spark.sources import (
    iceberg_reader as IR,
)
from kafka_connect_expand_json_transform_spark.sources.uniform import (
    _ICE_ENTRY_SCHEMA,
    _ICE_MLIST_SCHEMA,
    _iceberg_schema,
)


class IcebergCommitConflict(RuntimeError):
    """A concurrent writer claimed this metadata version first; re-read
    the head and retry."""


def _publish_metadata(root: str, version: int, meta: dict, placed=(),
                      conflict=None) -> None:
    """Publish ``meta`` as ``metadata/v{version}.metadata.json`` through
    ``_commit.publish``, then point ``version-hint.text`` at it for
    outside clients; this repo's readers never read the hint
    (``iceberg_reader._metadata_head``).  On a lost race this attempt's
    ``placed`` files are unlinked and ``conflict`` raised (by default
    ``IcebergCommitConflict``)."""
    meta_dir = os.path.join(root, "metadata")
    publish(
        os.path.join(meta_dir, f"v{version}.metadata.json"),
        json.dumps(meta).encode(),
        conflict or IcebergCommitConflict(f"metadata v{version} already committed"),
        [os.path.join(root, rel) for rel in placed],
    )
    replace(os.path.join(meta_dir, "version-hint.text"), str(version))


def _offset_ids(t, off: int):
    """Shift every assigned field id in an Iceberg type tree by ``off``
    (schema evolution: new columns' ids must start after the table's
    last-column-id)."""
    if isinstance(t, dict):
        out = {}
        for k, v in t.items():
            if k in ("id", "element-id", "key-id", "value-id"):
                out[k] = v + off
            else:
                out[k] = _offset_ids(v, off)
        return out
    if isinstance(t, list):
        return [_offset_ids(x, off) for x in t]
    return t


def _carried_mlist_rows(root: str, prev_meta: dict) -> list[dict]:
    """The current snapshot's manifest-list rows, re-rooted under
    ``root`` and normalized for carrying into the next snapshot: every
    row keeps its partition_spec_id/content/added_snapshot_id, and a
    missing sequence_number is recovered from the adding snapshot's
    sequence (None when unrecoverable — callers decide whether that is
    fatal for the carried content)."""
    prev_snaps = prev_meta.get("snapshots", [])
    cur = next(
        (x for x in prev_snaps
         if x["snapshot-id"] == prev_meta.get("current-snapshot-id")),
        None,
    )
    if cur is None:
        return []
    location = prev_meta.get("location", root)
    seq_of = {x["snapshot-id"]: x.get("sequence-number")
              for x in prev_snaps}
    rows = []
    for row in AC.read_container(
        IR._resolve(root, location, cur["manifest-list"])
    ):
        local = IR._resolve(root, location, row["manifest_path"])
        rows.append({
            "manifest_path": "file://" + os.path.abspath(local),
            "manifest_length": row["manifest_length"],
            "partition_spec_id": row.get("partition_spec_id", 0),
            "content": row.get("content", 0),
            "added_snapshot_id": row.get(
                "added_snapshot_id", cur["snapshot-id"]
            ),
            "sequence_number": (
                row.get("sequence_number")
                if row.get("sequence_number") is not None
                else seq_of.get(row.get("added_snapshot_id"))
            ),
        })
    return rows


def _refuse_eq_deletes_without_seq(root: str, prev_meta: dict,
                                   carried_rows: list[dict]) -> None:
    """Equality deletes are sequence-scoped; a carried delete manifest
    whose row lost its sequence number would default to the NEW
    snapshot's sequence and wrongly hit every old data file — refuse."""
    location = prev_meta.get("location", root)
    for row in carried_rows:
        if row["sequence_number"] is not None or row["content"] != 1:
            continue
        local = IR._resolve(root, location, row["manifest_path"])
        for entry in AC.read_container(local):
            if entry["data_file"].get("content") == 2:
                raise ValueError(
                    "appending to a table with equality delete files "
                    "whose sequence numbers are unrecoverable is not "
                    "supported (compact first)"
                )


def iceberg_append(df: DataFrame, root: str,
                   merge_schema: bool = False) -> int:
    """Append ``df`` as the next snapshot of the Iceberg table at
    ``root`` (creating it on first write); returns the committed
    snapshot id.  ``merge_schema`` (r9) is Iceberg's add-column
    evolution: new df columns are APPENDED to the table schema with
    FRESH field ids (after last-column-id) in a new schema entry, df may
    omit table columns, and a type conflict on a shared column refuses —
    earlier data files simply lack the new columns and read as null.
    See the module docstring for the layout contract."""
    meta_dir = os.path.join(root, "metadata")
    loc = "file://" + os.path.abspath(root)
    try:
        head, prev_meta = IR._metadata_head(root)
    except FileNotFoundError:
        prev_meta = None

    evolved_schemas = None
    evolved_last_id = None
    if prev_meta is not None:
        table_fields = IR._current_schema(prev_meta)["fields"]
        table_spark = IR._spark_type(
            {"type": "struct", "fields": table_fields}
        )
        if merge_schema:
            by_name = {f.name: f for f in table_spark.fields}
            for f in df.schema.fields:
                tf = by_name.get(f.name)
                if tf is not None and (
                    tf.dataType.simpleString()
                    != f.dataType.simpleString()
                ):
                    raise ValueError(
                        f"column {f.name!r}: append type "
                        f"{f.dataType.simpleString()} conflicts with "
                        f"table type {tf.dataType.simpleString()}"
                    )
            new_names = [f.name for f in df.schema.fields
                         if f.name not in by_name]
            if new_names:
                from pyspark.sql import types as T

                last_id = prev_meta.get("last-column-id", 0)
                add_schema, n_new = _iceberg_schema(T.StructType(
                    [f for f in df.schema.fields if f.name in new_names]
                ))
                new_fields = _offset_ids(add_schema["fields"], last_id)
                cur_id = IR._current_schema(prev_meta).get(
                    "schema-id", 0
                )
                evolved = {
                    "schema-id": cur_id + 1, "type": "struct",
                    "fields": [*table_fields, *new_fields],
                }
                evolved_schemas = [
                    *(prev_meta.get("schemas") or []), evolved,
                ]
                evolved_last_id = last_id + n_new
        elif [(f.name, f.dataType.simpleString())
                for f in table_spark.fields] != \
             [(f.name, f.dataType.simpleString())
                for f in df.schema.fields]:
            raise ValueError(
                f"append schema {df.schema.simpleString()} != table "
                f"schema {table_spark.simpleString()}"
            )
        prev_snaps = prev_meta.get("snapshots", [])
        # r10: CARRY the previous snapshot's manifests verbatim and add
        # ONE new manifest for this commit's files — Iceberg's own
        # append economics (O(new files) per commit, not O(live files)
        # footer reads), and carried entries keep their partition
        # tuples and spec ids exactly (closes the r9 partitioned-append
        # refusal with correct behavior instead).
        carried_rows = _carried_mlist_rows(root, prev_meta)
        # equality deletes scope by sequence number: they are safe to
        # carry ONLY when every carried manifest row knows its sequence
        # (a legacy row without one would default to the NEW snapshot's
        # seq and wrongly hit old data files)
        if any(r["sequence_number"] is None for r in carried_rows):
            _refuse_eq_deletes_without_seq(root, prev_meta, carried_rows)
        meta_version = head + 1
    else:
        prev_snaps, meta_version = [], 1
        carried_rows = []
        os.makedirs(meta_dir, exist_ok=True)
    # ADVICE r9 (high): len(prev_snaps)+1 collides with live snapshot
    # ids once expire_iceberg_snapshots has pruned the list, making the
    # append invisible (current-snapshot-id resolves to the OLD
    # snapshot) and regressing sequence-number below
    # last-sequence-number.  Allocate past the maximum instead.
    snap_id = 1 + max(
        (s["snapshot-id"] for s in prev_snaps), default=0
    )
    seq_no = 1 + (prev_meta or {}).get("last-sequence-number", 0)

    # attempt-unique data file names: a stale racer's orphans are never
    # referenced by a committed manifest and are unlinked on loss
    nonce = _time.time_ns()
    parts = _files.stage(df, root, lambda i, _p: (
        f"data/snap{snap_id:05d}-{nonce}-{i:05d}.parquet"
    ))
    placed = [p.path for p in parts]

    # new data files ride an UNPARTITIONED spec (found or added); the
    # table's default spec and every carried manifest's spec are
    # preserved untouched — Iceberg's multi-spec contract
    specs = [dict(sp) for sp in
             (prev_meta or {}).get("partition-specs")
             or [{"spec-id": 0, "fields": []}]]
    empty_spec = next((sp for sp in specs if not sp.get("fields")), None)
    if empty_spec is None:
        empty_spec = {"spec-id": max(sp["spec-id"] for sp in specs) + 1,
                      "fields": []}
        specs.append(empty_spec)
    manifest_rel = f"metadata/append-m{snap_id}-{nonce}.avro"
    AC.write_container(
        os.path.join(root, manifest_rel), _ICE_ENTRY_SCHEMA,
        [
            {"status": 1, "snapshot_id": snap_id,
             "data_file": {
                 "content": 0, "file_path": f"{loc}/{p.path}",
                 "file_format": "parquet",
                 "record_count": p.rows,
                 "file_size_in_bytes": p.size,
                 "equality_ids": None}}
            for p in parts
        ],
        codec="null",
    )
    mlist_entries = [
        {"manifest_path": f"{loc}/{manifest_rel}",
         "manifest_length": os.path.getsize(
             os.path.join(root, manifest_rel)),
         "partition_spec_id": empty_spec["spec-id"], "content": 0,
         "added_snapshot_id": snap_id, "sequence_number": seq_no},
        *carried_rows,
    ]
    mlist_rel = f"metadata/append-snap-{snap_id}-{nonce}-list.avro"
    AC.write_container(
        os.path.join(root, mlist_rel), _ICE_MLIST_SCHEMA,
        mlist_entries,
        codec="null",
    )

    schema, last_col_id = _iceberg_schema(df.schema)
    # ADVICE r9 (medium): stamp the snapshot with the schema id active
    # at commit — the evolved id when merge_schema added columns, else
    # the table's current id — so native engines resolving a snapshot's
    # schema by id see the columns this snapshot wrote.
    commit_schema_id = (
        evolved_schemas[-1]["schema-id"] if evolved_schemas
        else (prev_meta or {}).get("current-schema-id", 0)
    )
    now_ms = int(_time.time() * 1000)
    meta = {
        "format-version": 2,
        "table-uuid": (prev_meta or {}).get(
            "table-uuid",
            f"iceberg-append-{os.path.basename(os.path.abspath(root))}",
        ),
        "location": loc,
        "last-updated-ms": now_ms,
        "last-column-id": (evolved_last_id
                           if evolved_last_id is not None else
                           (prev_meta or {}).get("last-column-id",
                                                 last_col_id)),
        "last-sequence-number": seq_no,
        "schemas": (evolved_schemas
                    or (prev_meta or {}).get("schemas") or [schema]),
        "current-schema-id": commit_schema_id,
        "partition-specs": specs,
        "default-spec-id": (prev_meta or {}).get("default-spec-id", 0),
        "last-partition-id": (prev_meta or {}).get(
            "last-partition-id", 999),
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": {},
        "current-snapshot-id": snap_id,
        "snapshots": [*prev_snaps, {
            "snapshot-id": snap_id,
            "sequence-number": seq_no,
            "timestamp-ms": now_ms,
            "summary": {"operation": "append"},
            "manifest-list": f"{loc}/{mlist_rel}",
            "schema-id": commit_schema_id,
        }],
        "snapshot-log": [],
        "metadata-log": [],
    }
    _publish_metadata(root, meta_version, meta, placed)
    return snap_id


def iceberg_delete_where(spark, root: str, predicate: str) -> tuple[int, int]:
    """DELETE FROM the Iceberg table at ``root`` WHERE ``predicate`` by
    writing a format-version-2 POSITION-DELETE commit (spec "Row-level
    deletes"): matching rows become ``(file_path, pos)`` rows in a
    delete parquet file (the spec's reserved schema, field ids
    2147483546/2147483545) referenced by a delete manifest (content=1)
    in the new snapshot; data files are never rewritten.  Returns
    ``(snapshot_id, n_deleted)`` — the current snapshot unchanged when
    nothing matches.  The commit publishes the next metadata version
    like ``iceberg_append``.

    Scale: positions come from ``_metadata.row_index`` on the pinned
    scan — predicate evaluation and position extraction stay
    distributed and codegen'd; only manifest metadata (O(files)) is
    planner-side, and the delete parquet is written by the cluster,
    never collected."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F

    loc = "file://" + os.path.abspath(root)
    head, prev_meta = IR._metadata_head(root)  # raises when no table
    prev_files_seq, prev_pos_dels, prev_eq_dels, _ipv = \
        IR._snapshot_entries(root, prev_meta, None)
    if prev_eq_dels:
        raise ValueError(
            "delete on a table with equality delete files is not "
            "supported (compact first)"
        )
    default_spec = next(
        (s for s in prev_meta.get("partition-specs", [])
         if s.get("spec-id") == prev_meta.get("default-spec-id", 0)),
        None,
    )
    if default_spec and default_spec.get("fields"):
        raise ValueError(
            "delete on a partitioned Iceberg table is not supported "
            "(the carried-entry manifest has no partition tuples)"
        )
    data_rels = sorted(
        os.path.relpath(p, root) for p, _s in prev_files_seq
    )
    prev_snaps = prev_meta.get("snapshots", [])
    meta_version = head + 1
    snap_id = 1 + max((s["snapshot-id"] for s in prev_snaps), default=0)
    seq_no = 1 + prev_meta.get("last-sequence-number", 0)

    schema = IR._spark_type({
        "type": "struct",
        "fields": IR._current_schema(prev_meta)["fields"],
    })
    scan = spark.read.schema(schema).parquet(
        *[os.path.join(root, rel) for rel in data_rels]
    )
    hits = scan.where(F.expr(predicate)).select(
        # the data file's URI exactly as the manifest holds it
        F.concat(F.lit("file://"), _files.plain_file_path()).alias("file_path"),
        F.col("_metadata.row_index").alias("pos"),
    )
    if prev_pos_dels:
        # rows already position-deleted are not visible: do not re-count
        # or re-delete them
        old = (
            spark.read.schema("file_path string, pos bigint")
            .parquet(*prev_pos_dels)
        )
        hits = hits.join(F.broadcast(old), ["file_path", "pos"],
                         "left_anti")

    nonce = _time.time_ns()
    del_rel = f"data/delete-snap{snap_id:05d}-{nonce}.parquet"
    parts = _files.stage(hits.coalesce(1), root, lambda _i, _p: del_rel)
    if not parts:
        return prev_meta.get("current-snapshot-id"), 0
    (part,) = parts
    n_deleted = part.rows
    # re-emit in place with the spec's RESERVED field ids so native
    # readers resolve the columns (2147483546 file_path / 2147483545
    # pos), sorted by (file_path, pos) as the spec requires
    t = _pq.read_table(os.path.join(root, del_rel)).sort_by(
        [("file_path", "ascending"), ("pos", "ascending")]
    )
    t = t.cast(_pa.schema([
        _pa.field("file_path", _pa.string(),
                  metadata={b"PARQUET:field_id": b"2147483546"}),
        _pa.field("pos", _pa.int64(),
                  metadata={b"PARQUET:field_id": b"2147483545"}),
    ]))
    _pq.write_table(t, os.path.join(root, del_rel))
    placed = [del_rel]

    # r10: carry the previous snapshot's manifests verbatim and add
    # ONE delete manifest holding only this commit's delete file —
    # O(new) planner work per delete, the same economics as the append
    carried_rows = _carried_mlist_rows(root, prev_meta)
    mdel_rel = f"metadata/delete-mdel{snap_id}-{nonce}.avro"
    AC.write_container(
        os.path.join(root, mdel_rel), _ICE_ENTRY_SCHEMA,
        [{"status": 1, "snapshot_id": snap_id, "data_file": {
            "content": 1, "file_path": f"{loc}/{del_rel}",
            "file_format": "parquet",
            "record_count": n_deleted,
            "file_size_in_bytes": os.path.getsize(
                os.path.join(root, del_rel)),
            "equality_ids": None}}],
        codec="null",
    )
    mlist_rel = f"metadata/delete-snap-{snap_id}-{nonce}-list.avro"
    AC.write_container(
        os.path.join(root, mlist_rel), _ICE_MLIST_SCHEMA,
        [{"manifest_path": f"{loc}/{mdel_rel}",
          "manifest_length": os.path.getsize(
              os.path.join(root, mdel_rel)),
          "partition_spec_id": 0, "content": 1,
          "added_snapshot_id": snap_id, "sequence_number": seq_no},
         *carried_rows],
        codec="null",
    )

    now_ms = int(_time.time() * 1000)
    commit_schema_id = prev_meta.get("current-schema-id", 0)
    meta = dict(prev_meta)
    meta.update({
        "last-updated-ms": now_ms,
        "last-sequence-number": seq_no,
        "current-snapshot-id": snap_id,
        "snapshots": [*prev_snaps, {
            "snapshot-id": snap_id,
            "sequence-number": seq_no,
            "timestamp-ms": now_ms,
            "summary": {"operation": "delete"},
            "manifest-list": f"{loc}/{mlist_rel}",
            "schema-id": commit_schema_id,
        }],
    })
    _publish_metadata(root, meta_version, meta, placed)
    return snap_id, n_deleted


def iceberg_delete_keys(spark, root: str, keys: DataFrame) -> tuple[int, int]:
    """DELETE FROM the Iceberg table at ``root`` by KEY EQUALITY — a
    format-version-2 EQUALITY-DELETE commit (spec "Equality Delete
    Files"): ``keys``' columns (a subset of the table schema) become the
    delete file's ``equality_ids``; any data row whose values match a
    key row is deleted from data files with sequence number STRICTLY
    LESS than the delete's — so rows re-inserted by a LATER append
    survive, the semantics CDC ingestion needs.  Returns
    ``(snapshot_id, n_key_rows)``.  The table's own reader applies
    these deletes sequence-scoped (``read_iceberg``).

    Scale: the delete file is O(distinct keys) written by the cluster;
    the commit carries the previous manifests verbatim plus ONE delete
    manifest — no data file is read or rewritten at all, the cheapest
    possible delete (Flink's CDC-to-Iceberg write path)."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    loc = "file://" + os.path.abspath(root)
    head, prev_meta = IR._metadata_head(root)  # raises when no table
    cur_fields = IR._current_schema(prev_meta)["fields"]
    id_of = {f["name"]: f["id"] for f in cur_fields}
    missing = [c for c in keys.columns if c not in id_of]
    if missing:
        raise ValueError(
            f"key columns {missing} are not table columns"
        )
    if not keys.columns:
        raise ValueError("keys frame has no columns")
    eq_ids = sorted(id_of[c] for c in keys.columns)
    prev_snaps = prev_meta.get("snapshots", [])
    carried_rows = _carried_mlist_rows(root, prev_meta)
    if any(r["sequence_number"] is None for r in carried_rows):
        raise ValueError(
            "table has manifests with unrecoverable sequence numbers; "
            "equality deletes cannot be scoped — compact first"
        )
    meta_version = head + 1
    snap_id = 1 + max((s["snapshot-id"] for s in prev_snaps), default=0)
    seq_no = 1 + prev_meta.get("last-sequence-number", 0)

    nonce = _time.time_ns()
    del_rel = f"data/eqdelete-snap{snap_id:05d}-{nonce}.parquet"
    parts = _files.stage(keys.distinct().coalesce(1), root,
                         lambda _i, _p: del_rel)
    if not parts:
        return prev_meta.get("current-snapshot-id"), 0
    (part,) = parts
    n_keys = part.rows
    # re-emit in place stamped with the table's field ids so native
    # readers resolve columns
    t = _pq.read_table(os.path.join(root, del_rel))
    t = t.cast(_pa.schema([
        _pa.field(f.name, f.type,
                  metadata={b"PARQUET:field_id":
                            str(id_of[f.name]).encode()})
        for f in t.schema
    ]))
    _pq.write_table(t, os.path.join(root, del_rel))
    placed = [del_rel]

    mdel_rel = f"metadata/eqdelete-mdel{snap_id}-{nonce}.avro"
    AC.write_container(
        os.path.join(root, mdel_rel), _ICE_ENTRY_SCHEMA,
        [{"status": 1, "snapshot_id": snap_id, "data_file": {
            "content": 2, "file_path": f"{loc}/{del_rel}",
            "file_format": "parquet",
            "record_count": n_keys,
            "file_size_in_bytes": os.path.getsize(
                os.path.join(root, del_rel)),
            "equality_ids": eq_ids}}],
        codec="null",
    )
    mlist_rel = f"metadata/eqdelete-snap-{snap_id}-{nonce}-list.avro"
    AC.write_container(
        os.path.join(root, mlist_rel), _ICE_MLIST_SCHEMA,
        [{"manifest_path": f"{loc}/{mdel_rel}",
          "manifest_length": os.path.getsize(
              os.path.join(root, mdel_rel)),
          "partition_spec_id": 0, "content": 1,
          "added_snapshot_id": snap_id, "sequence_number": seq_no},
         *carried_rows],
        codec="null",
    )
    now_ms = int(_time.time() * 1000)
    meta = dict(prev_meta)
    meta.update({
        "last-updated-ms": now_ms,
        "last-sequence-number": seq_no,
        "current-snapshot-id": snap_id,
        "snapshots": [*prev_snaps, {
            "snapshot-id": snap_id,
            "sequence-number": seq_no,
            "timestamp-ms": now_ms,
            "summary": {"operation": "delete"},
            "manifest-list": f"{loc}/{mlist_rel}",
            "schema-id": prev_meta.get("current-schema-id", 0),
        }],
    })
    _publish_metadata(root, meta_version, meta, placed)
    return snap_id, n_keys


def iceberg_compact(spark, root: str) -> int:
    """REWRITE DATA FILES for the Iceberg table at ``root`` (the
    ``rewriteDataFiles`` maintenance action): the current snapshot —
    position AND equality deletes applied — rewrites into fresh data
    files under ONE full manifest, committed as a ``replace`` snapshot.
    This bounds two growth axes at once: row-level delete files stop
    taxing every read, and the manifest-list chain (one manifest per
    carried commit) resets to a single manifest.  Old snapshots remain
    time-travelable; ``icebergstream`` skips ``replace`` snapshots, so
    compaction never re-streams rows.  Returns the new snapshot id.

    Scale: one distributed read-rewrite job (the snapshot read's own
    delete application) + O(new files) manifest metadata."""
    loc = "file://" + os.path.abspath(root)
    head, prev_meta = IR._metadata_head(root)
    prev_snaps = prev_meta.get("snapshots", [])
    default_spec = next(
        (sp for sp in prev_meta.get("partition-specs", [])
         if sp.get("spec-id") == prev_meta.get("default-spec-id", 0)),
        None,
    )
    if default_spec and default_spec.get("fields"):
        raise ValueError(
            "compacting a partitioned Iceberg table is not supported "
            "(the rewrite would drop partition tuples)"
        )
    meta_version = head + 1
    snap_id = 1 + max((s["snapshot-id"] for s in prev_snaps), default=0)
    seq_no = 1 + prev_meta.get("last-sequence-number", 0)

    from kafka_connect_expand_json_transform_spark.sources.iceberg_reader import (
        read_iceberg,
    )

    nonce = _time.time_ns()
    parts = _files.stage(read_iceberg(spark, root), root, lambda i, _p: (
        f"data/compact-snap{snap_id:05d}-{nonce}-{i:05d}.parquet"
    ))
    placed = [p.path for p in parts]

    manifest_rel = f"metadata/compact-m{snap_id}-{nonce}.avro"
    AC.write_container(
        os.path.join(root, manifest_rel), _ICE_ENTRY_SCHEMA,
        [{"status": 1, "snapshot_id": snap_id, "data_file": {
            "content": 0, "file_path": f"{loc}/{p.path}",
            "file_format": "parquet",
            "record_count": p.rows,
            "file_size_in_bytes": p.size,
            "equality_ids": None}}
         for p in parts],
        codec="null",
    )
    mlist_rel = f"metadata/compact-snap-{snap_id}-{nonce}-list.avro"
    AC.write_container(
        os.path.join(root, mlist_rel), _ICE_MLIST_SCHEMA,
        [{"manifest_path": f"{loc}/{manifest_rel}",
          "manifest_length": os.path.getsize(
              os.path.join(root, manifest_rel)),
          "partition_spec_id": prev_meta.get("default-spec-id", 0),
          "content": 0, "added_snapshot_id": snap_id,
          "sequence_number": seq_no}],
        codec="null",
    )
    now_ms = int(_time.time() * 1000)
    meta = dict(prev_meta)
    meta.update({
        "last-updated-ms": now_ms,
        "last-sequence-number": seq_no,
        "current-snapshot-id": snap_id,
        "snapshots": [*prev_snaps, {
            "snapshot-id": snap_id,
            "sequence-number": seq_no,
            "timestamp-ms": now_ms,
            "summary": {"operation": "replace"},
            "manifest-list": f"{loc}/{mlist_rel}",
            "schema-id": prev_meta.get("current-schema-id", 0),
        }],
    })
    _publish_metadata(root, meta_version, meta, placed)
    return snap_id
