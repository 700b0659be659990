"""UniForm-style Delta export for txlog tables — write a spec-conformant
``_delta_log`` BESIDE the txlog's own log, over the SAME immutable data
files, so any Delta client (delta-rs, delta-spark, this repo's
``delta_reader``) can read the table without copying a byte.

This is the public "Delta UniForm" idea (one copy of data, multiple
format metadata trees) applied to the repo's native table format: txlog
data files are plain parquet and immutable per version, which is exactly
Delta's add-action contract, so the export is METADATA-ONLY:

* ``export_delta(root)`` — snapshot the txlog's CURRENT file set into the
  next Delta version: first call writes version 0 (protocol + metaData +
  adds); later calls diff against the previously exported state and write
  adds/removes only (no change -> no new version, returns the existing
  one).  The Delta schemaString is the txlog's log-owned schema
  (Spark's StructType JSON — the exact format Delta uses).
* ``export_iceberg(root)`` — the symmetric Iceberg metadata tree:
  ``metadata/vN.metadata.json`` + Avro manifest list + manifest, written
  by the repo's own stdlib Avro codec; each export is a new snapshot, so
  Iceberg time travel across exports works.

Fail-closed (metadata-only export cannot represent these; a wrong export
would corrupt every downstream Delta reader):

* live merge-on-read DELETION VECTORS (Delta expresses DVs with reader
  feature v3 sidecars this exporter does not write) — compact first;
* column mapping renames (the txlog stores physical names in files;
  expressible as Delta columnMapping=name, left for a later tier);
* Iceberg partition tuples for non-string/integral/boolean partition
  column types (the Delta side exports ANY partitioned table — values
  are hive directory strings re-typed by the reader; r9).

Hive-PARTITIONED txlog tables export in BOTH directions (r9): each add
carries ``partitionValues`` parsed from its hive directory names, the
Delta metaData carries ``partitionColumns``, and the Iceberg tree gets
an identity partition spec + typed per-file partition tuples (the
repo's Iceberg reader re-injects those values into columns absent from
the data files, per the spec's column-projection rule).

Scale: the export is O(live files) metadata on the planner — the same
bound the txlog's own commit machinery pays — and zero data movement.
"""

from __future__ import annotations

import json
import os
import re
import time as _time

from pyspark.sql import types as T

from kafka_connect_expand_json_transform_spark.sources import _files
from kafka_connect_expand_json_transform_spark.sources._commit import publish
from kafka_connect_expand_json_transform_spark.sources import txlog as TX


class UniformExportUnsupported(RuntimeError):
    """The txlog table uses features a metadata-only Delta export cannot
    represent; see the docstring for the compact-first workarounds."""


def _dv_positions_by_abs(snap) -> dict[str, list[int]]:
    """The snapshot's live txlog deletion-vector rows, grouped by absolute
    data file path.  Driver-side read of the kilobyte (file, pos) sidecars
    — O(deleted-not-compacted rows), the same bound every DV reader pays."""
    import pyarrow.parquet as pq

    out: dict[str, set[int]] = {}
    for rel in snap.dvs:
        d = os.path.join(snap.root, rel)
        for dirpath, _dirs, names in os.walk(d):
            for n in sorted(names):
                if not n.endswith(".parquet"):
                    continue
                t = pq.read_table(os.path.join(dirpath, n),
                                  columns=["file", "pos"])
                for f, p in zip(t.column("file").to_pylist(),
                                t.column("pos").to_pylist()):
                    # the txlog stores Spark's file URI (file:/x%20y)
                    out.setdefault(_files.plain_path(f), set()).add(int(p))
    return {k: sorted(v) for k, v in out.items()}


def _txlog_state(root: str):
    """(txlog version, live part files as rel path -> size, schema DDL,
    live DV positions by absolute file path, partition columns)."""
    snap = TX._Snapshot(root).require()
    if snap.mapping:
        raise UniformExportUnsupported(
            "table has column-mapping renames; exportable as Delta "
            "columnMapping=name in a later tier"
        )
    current = {
        os.path.relpath(p, root): os.path.getsize(p) for p, _, _ in snap.parts()
    }
    return (snap.version, current, snap.schema, _dv_positions_by_abs(snap),
            snap.partition_by or [])


def _hive_pvals(rel: str, part_cols: list[str]) -> dict:
    """Partition values of one data file from its hive directory names
    (the txlog writes partitionBy layouts, so values travel as
    directories, never in the files)."""
    out = {k: v for k, v in _files.hive_values(rel).items() if k in part_cols}
    missing = [c for c in part_cols if c not in out]
    if missing:
        raise UniformExportUnsupported(
            f"data file {rel!r} lacks hive directories for partition "
            f"columns {missing}"
        )
    return out


def _delta_replayed(root: str) -> tuple[int | None, set[str], dict]:
    """(latest exported delta version, its live file set, its add actions
    by rel path) — (None, empty, empty) when no _delta_log exists yet."""
    from kafka_connect_expand_json_transform_spark.sources import delta_reader as DR

    try:
        files, _meta, _proto, ver = DR._replay(root, None)
    except FileNotFoundError:
        return None, set(), {}
    return ver, set(files), dict(files)


def export_delta(root: str) -> int:
    """Export the txlog table's current snapshot as the next Delta
    version beside it; returns the Delta version written (or the current
    one when nothing changed).  Metadata-only for data: the parquet files
    are shared, never copied.  MERGE-ON-READ tables export their txlog
    (file, pos) deletion vectors as REAL Delta DV files (RoaringBitmapArray
    bitmaps, storageType 'u') — kilobytes per affected file — with the
    protocol upgraded to readerFeatures=[deletionVectors]; a DV change
    re-issues the file's add (remove + add with the new descriptor, the
    protocol's own DV-update shape)."""
    from kafka_connect_expand_json_transform_spark.sources import (
        delta_reader as DR,
    )

    tx_version, current, schema_ddl, dv_by_abs, part_cols = _txlog_state(root)
    prev_version, prev_files, prev_adds = _delta_replayed(root)

    # live DV positions per CURRENT rel path (vectors on dropped files
    # simply stop matching — txlog semantics)
    dv_by_rel = {}
    for rel in current:
        pos = dv_by_abs.get(os.path.abspath(os.path.join(root, rel)))
        if pos:
            dv_by_rel[rel] = pos

    def _prev_positions(rel):
        dv = (prev_adds.get(rel) or {}).get("deletionVector")
        return DR._dv_deleted_positions(root, dv) if dv else []

    carried = set(current) & prev_files
    dv_changed = sorted(
        rel for rel in carried
        if dv_by_rel.get(rel, []) != _prev_positions(rel)
    )
    adds = sorted(set(current) - prev_files) + dv_changed
    removes = sorted(prev_files - set(current)) + dv_changed
    if prev_version is not None and not adds and not removes:
        return prev_version

    struct = T._parse_datatype_string(schema_ddl)
    schema_string = json.dumps(struct.jsonValue())
    now_ms = int(_time.time() * 1000)
    actions = [
        {"commitInfo": {
            "timestamp": now_ms,
            "operation": "WRITE",
            "operationParameters": {"txlogVersion": tx_version},
            "engineInfo": "kafka-connect-expand-json-transform-spark uniform export",
        }}
    ]
    if dv_by_rel:
        # protocol upgrade the commit DVs first appear (idempotent)
        actions.append({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors"],
        }})
    elif prev_version is None:
        actions.append({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}})
    if prev_version is None:
        actions.append({"metaData": {
            "id": f"txlog-uniform-{os.path.basename(os.path.abspath(root))}",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string,
            "partitionColumns": part_cols,
            "configuration": {},
            "createdTime": now_ms,
        }})
    # removes FIRST: a DV update re-issues the same path (remove + add in
    # one commit), and replay applies actions in order
    actions.extend(
        {"remove": {"path": rel, "deletionTimestamp": now_ms,
                    "dataChange": True}}
        for rel in removes
    )
    for rel in adds:
        add = {"path": rel,
               "partitionValues": _hive_pvals(rel, part_cols),
               "size": current[rel],
               "modificationTime": now_ms, "dataChange": True}
        if rel in dv_by_rel:
            add["deletionVector"] = DR.write_dv_file(
                root, dv_by_rel[rel], storage="u"
            )
        actions.append({"add": add})
    version = 0 if prev_version is None else prev_version + 1
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir, exist_ok=True)
    # create-once: of two concurrent exports of one version, one wins
    publish(
        os.path.join(log_dir, f"{version:020d}.json"),
        "".join(json.dumps(a) + "\n" for a in actions).encode(),
        TX.TxLogConflict(f"concurrent Delta export at version {version}"),
    )
    return version


# --- Iceberg export (the symmetric metadata tree) ----------------------------


def _iceberg_type(dt: T.DataType):
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
        return "int"
    if isinstance(dt, T.LongType):
        return "long"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.TimestampNTZType):
        return "timestamp"
    if isinstance(dt, T.TimestampType):
        return "timestamptz"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BinaryType):
        return "binary"
    raise UniformExportUnsupported(
        f"no Iceberg mapping for Spark type {dt.simpleString()}"
    )


def _iceberg_schema(struct: T.StructType) -> dict:
    counter = [0]

    def next_id():
        counter[0] += 1
        return counter[0]

    def conv(dt):
        if isinstance(dt, T.StructType):
            return {
                "type": "struct",
                "fields": [
                    {"id": next_id(), "name": f.name, "required": False,
                     "type": conv(f.dataType)}
                    for f in dt.fields
                ],
            }
        if isinstance(dt, T.ArrayType):
            return {"type": "list", "element-id": next_id(),
                    "element": conv(dt.elementType),
                    "element-required": not dt.containsNull}
        if isinstance(dt, T.MapType):
            return {"type": "map", "key-id": next_id(), "key": conv(dt.keyType),
                    "value-id": next_id(), "value": conv(dt.valueType),
                    "value-required": not dt.valueContainsNull}
        return _iceberg_type(dt)

    fields = []
    for f in struct.fields:
        fid = next_id()
        fields.append({"id": fid, "name": f.name, "required": False,
                       "type": conv(f.dataType)})
    return {"schema-id": 0, "type": "struct", "fields": fields}, counter[0]


_ICE_ENTRY_SCHEMA = {
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": "long"},
        {"name": "data_file", "type": {
            "type": "record", "name": "r2", "fields": [
                {"name": "content", "type": "int"},
                {"name": "file_path", "type": "string"},
                {"name": "file_format", "type": "string"},
                {"name": "record_count", "type": "long"},
                {"name": "file_size_in_bytes", "type": "long"},
                # v2: present only on equality-delete files (content=2)
                {"name": "equality_ids",
                 "type": ["null", {"type": "array", "items": "int"}]},
            ]}},
    ],
}
_ICE_MLIST_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "added_snapshot_id", "type": "long"},
        # v2 spec field (r10): carried manifests keep their commit's
        # sequence so equality-delete scoping survives manifest reuse
        {"name": "sequence_number", "type": ["null", "long"]},
    ],
}


def export_iceberg(root: str) -> int:
    """Export the txlog table's current snapshot as the next Iceberg
    snapshot beside it (``metadata/`` tree; Avro manifests written by the
    repo's stdlib codec) over the same data files; returns the snapshot
    id.  Each export writes one full manifest of the live file set
    (status 1 = newly added vs the previous exported snapshot, 0 =
    carried — the layout an Iceberg manifest-compaction produces), so
    time travel across exports works in any Iceberg reader.  MERGE-ON-READ
    tables export their txlog deletion vectors as a v2 POSITION-DELETE
    file + delete manifest (the row-level-delete layout the spec
    mandates; this repo's reader applies it).  Same fail-closed guards as
    ``export_delta``."""
    from kafka_connect_expand_json_transform_spark.sources import avro_codec as AC
    from kafka_connect_expand_json_transform_spark.sources import iceberg_reader as IR

    tx_version, current, schema_ddl, dv_by_abs, part_cols = _txlog_state(root)
    cur_dels: set[tuple[str, int]] = set()
    for rel in current:
        for p in dv_by_abs.get(
            os.path.abspath(os.path.join(root, rel))
        ) or []:
            cur_dels.add((rel, int(p)))

    meta_dir = os.path.join(root, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    import pyarrow.parquet as _pq

    abs_root = os.path.abspath(root)
    try:
        head, prev_meta = IR._metadata_head(root)
        prev_data, prev_del_files = IR._snapshot_files(root, prev_meta, None)
        prev_files = {os.path.relpath(f, root) for f in prev_data}
        prev_dels: set[tuple[str, int]] = set()
        for f in prev_del_files:
            t = _pq.read_table(f, columns=["file_path", "pos"])
            for fp, p in zip(t.column("file_path").to_pylist(),
                             t.column("pos").to_pylist()):
                fp = re.sub(r"^[a-z]+:/+", "/", fp)
                prev_dels.add((os.path.relpath(fp, abs_root), int(p)))
        prev_snaps = prev_meta.get("snapshots", [])
        meta_version = head + 1
    except FileNotFoundError:
        prev_files, prev_snaps, meta_version = set(), [], 1
        prev_dels = set()
    if (prev_snaps and prev_files == set(current)
            and prev_dels == cur_dels):
        return prev_snaps[-1]["snapshot-id"]

    # allocate past the max live id (expiry prunes the list, so
    # len()+1 could collide with a live snapshot id — ADVICE r9)
    snap_id = 1 + max((s["snapshot-id"] for s in prev_snaps), default=0)
    seq_no = 1 + max(
        (s.get("sequence-number", s["snapshot-id"]) for s in prev_snaps),
        default=0,
    )
    loc = "file://" + os.path.abspath(root)

    struct0 = T._parse_datatype_string(schema_ddl)
    by_col = {f.name: f.dataType for f in struct0.fields}
    part_avro: list[tuple[str, str]] = []
    for c in part_cols:
        dt = by_col.get(c)
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                           T.LongType)):
            part_avro.append((c, "long"))
        elif isinstance(dt, T.StringType):
            part_avro.append((c, "string"))
        elif isinstance(dt, T.BooleanType):
            part_avro.append((c, "boolean"))
        else:
            raise UniformExportUnsupported(
                f"partition column {c!r} of type "
                f"{dt.simpleString() if dt else '?'} is not exportable to "
                "Iceberg partition tuples (string/integral/boolean only)"
            )

    def _typed_pv(rel):
        raw = _hive_pvals(rel, part_cols)
        out = {}
        for c, at in part_avro:
            v = raw.get(c)
            if v is None:
                out[c] = None
            elif at == "long":
                out[c] = int(v)
            elif at == "boolean":
                out[c] = str(v).lower() == "true"
            else:
                out[c] = v
        return out

    entry_schema = _ICE_ENTRY_SCHEMA
    if part_cols:
        import copy as _copy

        entry_schema = _copy.deepcopy(_ICE_ENTRY_SCHEMA)
        entry_schema["fields"][2]["type"]["fields"].insert(3, {
            "name": "partition", "type": {
                "type": "record", "name": "r102", "fields": [
                    {"name": c, "type": ["null", at]}
                    for c, at in part_avro
                ]}})

    manifest_rel = f"metadata/uniform-m{snap_id}.avro"
    AC.write_container(
        os.path.join(root, manifest_rel), entry_schema,
        [
            {"status": 0 if rel in prev_files else 1, "snapshot_id": snap_id,
             "data_file": {
                 "content": 0, "file_path": f"{loc}/{rel}",
                 "file_format": "parquet",
                 **({"partition": _typed_pv(rel)} if part_cols else {}),
                 # honest counts from the parquet footer (one footer read
                 # per file, O(files)): Iceberg planners trust record_count
                 "record_count": _files.footer(
                     os.path.join(root, rel)).rows,
                 "file_size_in_bytes": current[rel],
                 "equality_ids": None}}
            for rel in sorted(current)
        ],
        codec="null",
    )
    mlist_entries = [
        {"manifest_path": f"{loc}/{manifest_rel}",
         "manifest_length": os.path.getsize(os.path.join(root, manifest_rel)),
         "partition_spec_id": 0, "content": 0, "added_snapshot_id": snap_id,
         "sequence_number": seq_no}
    ]
    if cur_dels:
        # position-delete file per the spec's reserved schema + a delete
        # manifest (manifest-list content=1) — kilobytes, planner-side
        import pyarrow as _pa

        ordered = sorted(cur_dels)
        pd_rel = f"metadata/uniform-pd-{snap_id}.parquet"
        _pq.write_table(
            _pa.table(
                {"file_path": [f"{loc}/{rel}" for rel, _p in ordered],
                 "pos": [p for _rel, p in ordered]},
                schema=_pa.schema([("file_path", _pa.string()),
                                   ("pos", _pa.int64())]),
            ),
            os.path.join(root, pd_rel),
        )
        mdel_rel = f"metadata/uniform-mdel{snap_id}.avro"
        AC.write_container(
            os.path.join(root, mdel_rel), _ICE_ENTRY_SCHEMA,
            [{"status": 1, "snapshot_id": snap_id, "data_file": {
                "content": 1, "file_path": f"{loc}/{pd_rel}",
                "file_format": "parquet", "record_count": len(ordered),
                "file_size_in_bytes": os.path.getsize(
                    os.path.join(root, pd_rel)),
                "equality_ids": None}}],
            codec="null",
        )
        mlist_entries.append(
            {"manifest_path": f"{loc}/{mdel_rel}",
             "manifest_length": os.path.getsize(os.path.join(root, mdel_rel)),
             # global position deletes ride the UNPARTITIONED spec
             "partition_spec_id": 1 if part_cols else 0, "content": 1,
             "added_snapshot_id": snap_id, "sequence_number": seq_no}
        )
    mlist_rel = f"metadata/uniform-snap-{snap_id}-list.avro"
    AC.write_container(
        os.path.join(root, mlist_rel), _ICE_MLIST_SCHEMA,
        mlist_entries,
        codec="null",
    )
    schema, last_col_id = _iceberg_schema(struct0)
    id_of = {f["name"]: f["id"] for f in schema["fields"]}
    spec_fields = [
        {"name": c, "transform": "identity", "source-id": id_of[c],
         "field-id": 1000 + i}
        for i, c in enumerate(part_cols)
    ]
    specs = [{"spec-id": 0, "fields": spec_fields}]
    if part_cols:
        specs.append({"spec-id": 1, "fields": []})  # for global deletes
    now_ms = int(_time.time() * 1000)
    meta = {
        "format-version": 2,
        "table-uuid": f"txlog-uniform-{os.path.basename(os.path.abspath(root))}",
        "location": loc,
        "last-updated-ms": now_ms,
        "last-column-id": last_col_id,
        "last-sequence-number": seq_no,
        "schemas": [schema],
        "current-schema-id": 0,
        "partition-specs": specs,
        "default-spec-id": 0,
        "last-partition-id": 999 + len(part_cols),
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": {"txlog.version": str(tx_version)},
        "current-snapshot-id": snap_id,
        "snapshots": [*prev_snaps, {
            "snapshot-id": snap_id,
            "sequence-number": seq_no,
            "timestamp-ms": now_ms,
            # honest operation label: a pure append (no files dropped, no
            # row deletes) keeps streaming readers alive; a CoW rewrite or
            # a DV change is an overwrite
            "summary": {"operation": "append"
                        if prev_files <= set(current)
                        and cur_dels == prev_dels else "overwrite"},
            "manifest-list": f"{loc}/{mlist_rel}",
            "schema-id": 0,
        }],
        "snapshot-log": [],
        "metadata-log": [],
    }
    from kafka_connect_expand_json_transform_spark.sources.iceberg_writer import (
        _publish_metadata,
    )

    _publish_metadata(root, meta_version, meta, conflict=TX.TxLogConflict(
        f"concurrent Iceberg export at v{meta_version}"
    ))
    return snap_id


def expire_iceberg_snapshots(
    root: str,
    keep_last: int = 1,
    older_than_ms: int | None = None,
) -> list[str]:
    """Iceberg table maintenance for the exported ``metadata/`` tree:
    drop snapshots beyond the newest ``keep_last`` (and, additionally,
    only those older than ``older_than_ms`` when given — both bounds
    must agree, Iceberg's own expire contract), then delete the
    manifest lists, manifests, and uniform-written position-delete files
    referenced ONLY by expired snapshots.  DATA files are never touched:
    they belong to the txlog (the exporter's one-copy-of-data contract);
    the txlog's own retention owns them.  Returns the deleted
    metadata-relative paths.  Time travel to expired snapshots stops
    working — the documented trade every engine's expireSnapshots makes.
    Scale: O(snapshots + manifests) planner metadata."""
    from kafka_connect_expand_json_transform_spark.sources import (
        avro_codec as AC,
    )
    from kafka_connect_expand_json_transform_spark.sources import (
        iceberg_reader as IR,
    )

    head, meta = IR._metadata_head(root)
    snaps = sorted(meta.get("snapshots", []),
                   key=lambda s: s.get("sequence-number",
                                       s.get("timestamp-ms", 0)))
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    cut = max(0, len(snaps) - keep_last)
    expired = [
        s for s in snaps[:cut]
        if older_than_ms is None
        or s.get("timestamp-ms", 0) < older_than_ms
    ]
    if not expired:
        return []
    kept = [s for s in snaps if s not in expired]
    if meta.get("current-snapshot-id") in {
        s["snapshot-id"] for s in expired
    }:
        raise ValueError("cannot expire the current snapshot")

    location = meta.get("location", root)

    def refs(snapshot) -> set[str]:
        out = set()
        mlist = IR._resolve(root, location, snapshot["manifest-list"])
        out.add(os.path.abspath(mlist))
        for mrow in AC.read_container(mlist):
            mpath = IR._resolve(root, location, mrow["manifest_path"])
            out.add(os.path.abspath(mpath))
            for entry in AC.read_container(mpath):
                df_ = entry["data_file"]
                if df_.get("content", 0) != 0:
                    # uniform-written delete files live under metadata/
                    out.add(os.path.abspath(
                        IR._resolve(root, location, df_["file_path"])
                    ))
        return out

    kept_refs: set[str] = set()
    for s in kept:
        kept_refs |= refs(s)
    doomed: set[str] = set()
    for s in expired:
        doomed |= refs(s)
    doomed -= kept_refs
    meta_dir = os.path.abspath(os.path.join(root, "metadata"))
    removed = []
    for p in sorted(doomed):
        # only metadata-tree files are ever deleted (data is txlog-owned)
        if os.path.dirname(p) != meta_dir:
            continue
        try:
            os.unlink(p)
            removed.append(os.path.relpath(p, root))
        except FileNotFoundError:
            pass

    new_meta = dict(meta)
    new_meta["snapshots"] = kept
    from kafka_connect_expand_json_transform_spark.sources.iceberg_writer import (
        _publish_metadata,
    )

    _publish_metadata(root, head + 1, new_meta, conflict=TX.TxLogConflict(
        f"concurrent Iceberg commit at v{head + 1}"
    ))
    return removed
