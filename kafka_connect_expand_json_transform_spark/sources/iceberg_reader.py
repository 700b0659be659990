"""Pure-Python Apache Iceberg metadata reader — jar-free interop with the
second dominant open table format (iceberg.apache.org/spec/, public).

Together with ``delta_reader`` this closes the lakehouse-interop loop: a
reference user's existing tables — Delta or Iceberg — are readable by this
engine without format jars, the capability tier PyIceberg offers.  The
metadata tree is walked with PUBLIC structures only:

    metadata/vN.metadata.json  newest committed N     table metadata
      -> snapshots[{snapshot-id, manifest-list, ...}]
      -> manifest list (Avro OCF)  one row per manifest  [avro_codec]
      -> manifests (Avro OCF)      entries {status, data_file{...}}
      -> live parquet data files

The newest committed ``vN.metadata.json`` comes from one listing of
``metadata/`` (a zero-length name is an in-flight claim and skipped);
``version-hint.text`` is written by this repo's writers for outside
clients but never read, so a stale or half-written hint cannot steer a
read or a commit.

* ``read_iceberg(spark, path, snapshot_id=None)`` — current snapshot, or
  time travel by snapshot id; Iceberg data files normally STORE partition
  source columns in-row, and when an identity-partition source column is
  ABSENT from a file (spec "Column Projection" rule 2 — e.g. a migrated
  Hive layout) its value is re-injected from the entry's partition tuple
  via a broadcast file->values map (r9);
* ``iceberg_snapshots(path)`` — the snapshot log (id, timestamp,
  operation) for time-travel discovery;
* the Iceberg schema JSON (field-ids, required flags, nested
  struct/list/map, decimal/date/timestamp primitives) is mapped to the
  Spark read schema — read-by-name, which matches any Spark/Flink-written
  table that has not used field-id-only renames (documented limitation:
  a renamed column needs field-id resolution; this reader REFUSES tables
  whose current schema names are absent from the files rather than
  returning nulls — parquet's missing-column null-fill is detectable by
  the caller via a count of an always-required field);
* format-version 2 POSITION delete files are APPLIED on the snapshot read
  (merge-on-read: broadcast (file_path, pos) anti-join against
  ``_metadata``, the same shape as delta_reader's deletion vectors);
  EQUALITY delete files are APPLIED too (round 9): sequence-scoped
  broadcast anti-joins on the ``equality_ids`` columns with NULL = NULL
  semantics — a delete hits only data files whose data sequence number
  is strictly less than the delete's, so a newer re-insert survives
  (spec "Scan Planning" / "Equality Delete Files").

Scale: manifest lists/manifests are block-streamed through the stdlib
Avro codec; only the live-file LIST materializes on the planner (the same
bound PyIceberg/Spark-Iceberg planning pays).  Manifest-level partition
pruning is a natural extension point; at this tier Catalyst's row-group
pruning covers the sandbox scales.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from kafka_connect_expand_json_transform_spark.sources import _tablestream
from kafka_connect_expand_json_transform_spark.sources._files import plain_file_path
from kafka_connect_expand_json_transform_spark.sources import avro_codec as AC


class IcebergUnsupported(RuntimeError):
    """The table requires reader capabilities this implementation lacks."""


_DEC_RE = re.compile(r"^decimal\((\d+),\s*(\d+)\)$")
_FIXED_RE = re.compile(r"^fixed\[(\d+)\]$")

_PRIMITIVES = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "date": T.DateType(),
    "timestamp": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(),
    "string": T.StringType(),
    "uuid": T.StringType(),
    "binary": T.BinaryType(),
}


def _spark_type(t) -> T.DataType:
    if isinstance(t, str):
        if t in _PRIMITIVES:
            return _PRIMITIVES[t]
        m = _DEC_RE.match(t)
        if m:
            return T.DecimalType(int(m.group(1)), int(m.group(2)))
        if _FIXED_RE.match(t):
            return T.BinaryType()
        raise IcebergUnsupported(f"iceberg primitive {t!r} not supported")
    kind = t["type"]
    if kind == "struct":
        return T.StructType(
            [
                T.StructField(f["name"], _spark_type(f["type"]), not f["required"])
                for f in t["fields"]
            ]
        )
    if kind == "list":
        return T.ArrayType(_spark_type(t["element"]), not t["element-required"])
    if kind == "map":
        return T.MapType(
            _spark_type(t["key"]), _spark_type(t["value"]), not t["value-required"]
        )
    raise IcebergUnsupported(f"iceberg type {t!r} not supported")


def _metadata_head(path: str) -> tuple[int, dict]:
    """``(N, metadata)`` of the newest committed ``vN.metadata.json``,
    from one listing.  A zero-length name is a writer's in-flight claim
    (``_commit.publish``), never a commit; ``version-hint.text`` is not
    read, so the version a writer claims next (N + 1) is tied to the
    metadata it read."""
    meta_dir = os.path.join(path, "metadata")
    if not os.path.isdir(meta_dir):
        raise FileNotFoundError(f"no Iceberg metadata dir at {meta_dir}")
    versions = sorted(
        (int(m.group(1)), os.path.join(meta_dir, n))
        for n in os.listdir(meta_dir)
        for m in [re.match(r"^v(\d+)\.metadata\.json$", n)]
        if m
    )
    for n, cand in reversed(versions):
        if os.path.getsize(cand):
            with open(cand) as fh:
                return n, json.load(fh)
    raise FileNotFoundError(f"no committed vN.metadata.json under {meta_dir}")


def _read_metadata(path: str) -> dict:
    return _metadata_head(path)[1]


def _resolve(path: str, location: str, file_path: str) -> str:
    """Manifest/data paths are absolute URIs from the writer's filesystem;
    re-root them under ``path`` via the table location prefix so relocated
    (copied) tables stay readable — the spec's location-relative layout."""
    for scheme in ("file://", "file:", ""):
        prefix = scheme + location.rstrip("/") + "/"
        if file_path.startswith(prefix):
            return os.path.join(path, file_path[len(prefix):])
    return file_path


def _current_schema(meta: dict) -> dict:
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        for s in meta["schemas"]:
            if s.get("schema-id") == sid:
                return s
        raise ValueError(f"current-schema-id {sid} not in schemas")
    return meta["schema"]  # format-version 1 single-schema layout


def iceberg_snapshots(path: str) -> list[dict]:
    """The table's snapshot list (id, timestamp-ms, operation), newest
    first — the time-travel index."""
    meta = _read_metadata(path)
    out = [
        {
            "snapshot_id": s["snapshot-id"],
            "timestamp_ms": s.get("timestamp-ms"),
            "operation": (s.get("summary") or {}).get("operation"),
        }
        for s in meta.get("snapshots", [])
    ]
    return sorted(out, key=lambda s: -(s["timestamp_ms"] or 0))


def _decode_bound(raw: bytes, itype) -> object | None:
    """Iceberg Appendix D single-value BINARY serialization -> python
    value (spec "Binary single-value serialization"): int/long/float/
    double/date/timestamp are little-endian, decimal is an unscaled
    big-endian two's-complement, string is UTF-8.  Unknown or nested
    types return None (caller keeps the file — pruning stays sound)."""
    import decimal
    import struct

    if raw is None or not isinstance(itype, str):
        return None
    try:
        if itype == "boolean":
            return raw[0] != 0
        if itype == "int":
            return struct.unpack("<i", raw)[0]
        if itype == "long":
            return struct.unpack("<q", raw)[0]
        if itype == "float":
            return struct.unpack("<f", raw)[0]
        if itype == "double":
            return struct.unpack("<d", raw)[0]
        if itype == "date":  # days since epoch: ordering-preserving int
            return struct.unpack("<i", raw)[0]
        if itype in ("timestamp", "timestamptz", "time"):
            return struct.unpack("<q", raw)[0]  # micros
        if itype == "string":
            return raw.decode("utf-8")
        m = _DEC_RE.match(itype)
        if m:
            unscaled = int.from_bytes(raw, "big", signed=True)
            return decimal.Decimal(unscaled).scaleb(-int(m.group(2)))
    except (IndexError, ValueError, TypeError, decimal.InvalidOperation):
        return None
    return None


def _as_kv(bounds) -> dict:
    """Manifest bound maps arrive as Avro key/value record lists (Avro
    maps cannot key by int) or as plain dicts — normalize."""
    if bounds is None:
        return {}
    if isinstance(bounds, dict):
        return bounds
    out = {}
    for e in bounds:
        if isinstance(e, dict) and "key" in e:
            out[e["key"]] = e.get("value")
        elif isinstance(e, (list, tuple)) and len(e) == 2:
            out[e[0]] = e[1]
    return out


def _bounds_keep(df_: dict, where: list[tuple], fields_by_name: dict) -> bool:
    """Column-stat file skipping on the manifest entry's lower_bounds /
    upper_bounds (the planning-time skip Iceberg clients perform on top
    of partition pruning).  Keep when the predicate MAY match; missing,
    null-typed, or undecodable bounds keep the file (sound)."""
    lows = _as_kv(df_.get("lower_bounds"))
    highs = _as_kv(df_.get("upper_bounds"))
    if not lows and not highs:
        return True
    for col, op, val in where:
        f = fields_by_name.get(col)
        if f is None:
            continue
        fid, itype = f["id"], f["type"]
        lo = _decode_bound(lows.get(fid), itype)
        hi = _decode_bound(highs.get(fid), itype)
        import datetime

        if itype == "date" and isinstance(val, datetime.date):
            val = (val - datetime.date(1970, 1, 1)).days
        try:
            if op == "=" and lo is not None and hi is not None and not (
                lo <= val <= hi
            ):
                return False
            if op in ("<", "<=") and lo is not None and not (
                lo < val if op == "<" else lo <= val
            ):
                return False
            if op in (">", ">=") and hi is not None and not (
                hi > val if op == ">" else hi >= val
            ):
                return False
        except TypeError:
            continue  # incomparable: keep, sound
    return True


def _murmur3_32(data: bytes, seed: int = 0) -> int:
    """32-bit Murmur3 (x86 variant), unsigned result — the hash Iceberg's
    bucket transform mandates (spec Appendix B "Bucket Transform
    Details"); pure stdlib, golden-vector tested."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed
    n = len(data)
    full = n - (n % 4)
    for i in range(0, full, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[full:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def _bucket_of(val, source_type: str, n: int) -> int | None:
    """Iceberg bucket transform: ``(murmur3_x86_32(encode(v)) &
    Integer.MAX_VALUE) % N`` with the spec's per-type encodings (Appendix
    B): int/long/date hash as the 8-byte little-endian long, timestamps
    as micros, strings as UTF-8.  None = this type does not prune."""
    import datetime

    t = str(source_type)
    if t in ("int", "long"):
        data = int(val).to_bytes(8, "little", signed=True)
    elif t == "date":
        data = int(_epoch_days(val)).to_bytes(8, "little", signed=True)
    elif t.startswith("timestamp"):
        if isinstance(val, datetime.datetime):
            epoch = datetime.datetime(1970, 1, 1, tzinfo=val.tzinfo)
            val = int((val - epoch).total_seconds() * 1_000_000)
        data = int(val).to_bytes(8, "little", signed=True)
    elif t == "string":
        data = str(val).encode("utf-8")
    else:
        return None
    return (_murmur3_32(data) & 0x7FFFFFFF) % n


def _epoch_days(val) -> int:
    import datetime

    if isinstance(val, datetime.datetime):
        val = val.date()
    if isinstance(val, datetime.date):
        return (val - datetime.date(1970, 1, 1)).days
    if isinstance(val, str):
        return (datetime.date.fromisoformat(val)
                - datetime.date(1970, 1, 1)).days
    return int(val)


def _epoch_micros(val) -> int:
    """Timestamp-ish value -> micros since epoch (naive = UTC); raises
    on unconvertible input (callers keep the file, sound)."""
    import datetime

    if isinstance(val, str):
        val = datetime.datetime.fromisoformat(val)
    if isinstance(val, datetime.datetime):
        epoch = datetime.datetime(1970, 1, 1, tzinfo=val.tzinfo)
        return int((val - epoch).total_seconds() * 1_000_000)
    if isinstance(val, bool):
        raise TypeError("bool is not a timestamp")
    return int(val)


def _time_ordinal(transform: str, val) -> int | None:
    """Value of Iceberg's monotonic time transforms: day/month/year as
    ordinals from 1970, hour as hours from epoch.  Accepts date/datetime/
    ISO strings; None = cannot normalize (keep the file)."""
    import datetime

    if isinstance(val, str):
        try:
            val = (datetime.datetime.fromisoformat(val)
                   if ("T" in val or " " in val or ":" in val)
                   else datetime.date.fromisoformat(val))
        except ValueError:
            return None
    if transform == "hour":
        if isinstance(val, datetime.datetime):
            epoch = datetime.datetime(1970, 1, 1, tzinfo=val.tzinfo)
            return int((val - epoch).total_seconds() // 3600)
        return int(val)
    if isinstance(val, datetime.datetime):
        val = val.date()
    if isinstance(val, datetime.date):
        if transform == "day":
            return _epoch_days(val)
        if transform == "month":
            return (val.year - 1970) * 12 + (val.month - 1)
        if transform == "year":
            return val.year - 1970
    if isinstance(val, int):
        return val  # already an ordinal in the transform's own unit
    return None


_IDENT_SKIP = object()  # sentinel: value not convertible, skip injection


def _ident_py(raw, dtype: T.DataType):
    """Avro-decoded partition-tuple value -> the Python value of the
    column's Spark type (identity injection); ``_IDENT_SKIP`` when the
    type is not convertible (caller leaves the column to the file)."""
    import datetime

    if raw is None:
        return None
    try:
        if isinstance(dtype, T.DateType):
            if isinstance(raw, datetime.date):
                return raw
            return (datetime.date(1970, 1, 1)
                    + datetime.timedelta(days=int(raw)))
        if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType,
                              T.LongType)):
            return int(raw)
        if isinstance(dtype, (T.FloatType, T.DoubleType)):
            return float(raw)
        if isinstance(dtype, T.StringType):
            return str(raw)
        if isinstance(dtype, T.BooleanType):
            return bool(raw)
        if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
            if isinstance(raw, datetime.datetime):
                return raw
            return (datetime.datetime(1970, 1, 1)
                    + datetime.timedelta(microseconds=int(raw)))
    except (ValueError, TypeError, OverflowError):
        return _IDENT_SKIP
    return _IDENT_SKIP


_TRANSFORM_RE = re.compile(r"^(bucket|truncate)\[(\d+)\]$")


def _partition_keep(entry_partition, where: list[tuple],
                    spec_map: dict | None = None) -> bool:
    """Partition pruning on the manifest entry's ``partition`` struct
    (spec: data files carry their partition tuple).  With ``spec_map``
    (source column -> [(partition field name, transform, source type)])
    the table's TRANSFORMS prune: identity compares directly; bucket[N]
    prunes equality via the spec's Murmur3 hash; truncate[W] and the
    monotonic time transforms (day/month/year/hour) prune ranges with
    the op loosened to the transform's granularity (a file whose day
    equals day(V) may still hold rows before V, so ``<`` keeps equal
    ordinals).  A present-but-null partition value cannot satisfy any
    comparison, so it prunes; an ABSENT field (older spec) keeps the
    file.  Without a spec, falls back to identity-by-field-name.  Keep
    when the predicate MAY match (sound)."""
    pv = entry_partition or {}
    if isinstance(pv, list):  # arrow/avro map round-trip
        pv = dict(pv)

    def cmp_keep(got, op, val, loosened: bool) -> bool:
        # loosened: got/val are at transform granularity — equality at
        # the ordinal cannot rule out rows on either side of val
        try:
            if op == "=":
                return got == val
            if op in ("<", "<="):
                return got <= val if (loosened or op == "<=") else got < val
            if op in (">", ">="):
                return got >= val if (loosened or op == ">=") else got > val
        except TypeError:
            return True  # incomparable: keep, sound
        return True

    for col, op, val in where:
        for fname, transform, stype in (spec_map or {}).get(
            col, [(col, "identity", None)] if not spec_map else []
        ):
            if fname not in pv:
                continue  # field absent (older spec): keep, sound
            got = pv[fname]
            if transform == "void":
                continue
            if got is None:
                return False  # null source value: no comparison matches
            if transform == "identity":
                # ADVICE r9 (medium): normalize temporal types BOTH
                # sides (avro tuples store date as int days, timestamp
                # as micros long; literals arrive as str/datetime) and
                # treat any residual cross-type comparison as
                # incomparable (keep the file) — a plain != on
                # mixed types silently pruned matching rows.
                tgot, tval = got, val
                st = str(stype or "")
                try:
                    if st == "date":
                        tgot, tval = _epoch_days(got), _epoch_days(val)
                    elif st.startswith("timestamp"):
                        tgot, tval = _epoch_micros(got), _epoch_micros(val)
                except (ValueError, TypeError, OverflowError):
                    continue  # unnormalizable: keep, sound
                if type(tgot) is not type(tval) and not (
                    isinstance(tgot, (int, float))
                    and isinstance(tval, (int, float))
                    and not isinstance(tgot, bool)
                    and not isinstance(tval, bool)
                ):
                    continue  # cross-type: incomparable, keep, sound
                if not cmp_keep(tgot, op, tval, loosened=False):
                    return False
                continue
            m = _TRANSFORM_RE.match(transform)
            if m and m.group(1) == "bucket":
                if op != "=":
                    continue  # buckets scatter ranges: only = prunes
                b = _bucket_of(val, stype, int(m.group(2)))
                if b is not None and got != b:
                    return False
                continue
            if m and m.group(1) == "truncate":
                w = int(m.group(2))
                if isinstance(val, str):
                    tval = val[:w]
                elif isinstance(val, int):
                    tval = val - (val % w)
                else:
                    continue
                if not cmp_keep(got, op, tval, loosened=True):
                    return False
                continue
            if transform in ("day", "month", "year", "hour"):
                tval = _time_ordinal(transform, val)
                if tval is not None and not cmp_keep(
                    got, op, tval, loosened=True
                ):
                    return False
                continue
            # unknown transform: keep, sound
    return True


def _snapshot_entries(
    path: str, meta: dict, snapshot_id: int | None, where: list[tuple] | None = None
) -> tuple[list[tuple[str, int]], list[str], list[tuple[str, int, tuple]]]:
    """(data files with their data sequence numbers, POSITION-delete file
    paths, EQUALITY-delete files as ``(path, seq, equality_ids)``) live at
    the snapshot.  Position deletes name their target file by exact path
    (paths are unique, spec "Position Delete Files"), so stale entries
    simply stop matching; equality deletes are sequence-scoped — they
    apply only to data files whose data sequence number is STRICTLY LESS
    than the delete's (spec "Scan Planning": a row re-inserted by a newer
    commit survives).  Sequence numbers inherit per the spec: entry ->
    manifest-list row -> snapshot, defaulting to 0 for v1."""
    snaps = meta.get("snapshots", [])
    if not snaps:
        return [], [], []
    if snapshot_id is None:
        snapshot_id = meta["current-snapshot-id"]
    snap = next((s for s in snaps if s["snapshot-id"] == snapshot_id), None)
    if snap is None:
        raise ValueError(f"snapshot {snapshot_id} not in table metadata")
    location = meta.get("location", path)
    schema_fields = _current_schema(meta).get("fields", [])
    fields_by_name = {f["name"]: f for f in schema_fields}
    fields_by_id = {f["id"]: f for f in schema_fields}

    def _spec_map(spec_id) -> dict:
        """source column name -> [(partition field name, transform,
        source type)] for one partition spec (v2 partition-specs list or
        v1 flat partition-spec)."""
        sfields = None
        specs = meta.get("partition-specs")
        if specs:
            by = {s.get("spec-id", 0): s.get("fields", []) for s in specs}
            sfields = by.get(
                spec_id if spec_id is not None
                else meta.get("default-spec-id", 0)
            )
        if sfields is None:
            sfields = meta.get("partition-spec") or []
        out: dict[str, list] = {}
        for sf in sfields:
            src = fields_by_id.get(sf.get("source-id"))
            if src is None:
                continue
            out.setdefault(src["name"], []).append(
                (sf["name"], str(sf.get("transform", "identity")),
                 str(src.get("type")))
            )
        return out

    spec_maps: dict = {}
    files: dict[str, int] = {}
    ident_pv: dict[str, dict] = {}
    pos_deletes: list[str] = []
    eq_deletes: dict[tuple[str, int, tuple], None] = {}
    mlist = _resolve(path, location, snap["manifest-list"])
    for mrow in AC.read_container(mlist):
        is_delete_manifest = mrow.get("content", 0) == 1
        spec_id = mrow.get("partition_spec_id")
        if spec_id not in spec_maps:
            spec_maps[spec_id] = _spec_map(spec_id)
        spec_map = spec_maps[spec_id]
        manifest = _resolve(path, location, mrow["manifest_path"])
        for entry in AC.read_container(manifest):
            if entry["status"] == 2:  # DELETED
                continue
            df_ = entry["data_file"]
            seq = entry.get("sequence_number")
            if seq is None:
                seq = mrow.get("sequence_number")
            if seq is None:
                seq = snap.get("sequence-number", 0)
            content = df_.get("content", 1 if is_delete_manifest else 0)
            fmt = str(df_.get("file_format", "PARQUET")).upper()
            if fmt != "PARQUET":
                raise IcebergUnsupported(f"data file format {fmt} not supported")
            if content == 0:
                if is_delete_manifest:
                    raise IcebergUnsupported(
                        "data entry inside a delete manifest"
                    )
                if where and not _partition_keep(
                    df_.get("partition"), where, spec_map
                ):
                    continue
                if where and not _bounds_keep(df_, where, fields_by_name):
                    continue
                rp = _resolve(path, location, df_["file_path"])
                files[rp] = int(seq)
                # identity partition values for the spec's column
                # projection rule: a source column ABSENT from the data
                # file reads from partition metadata (and when present
                # its values equal the tuple by construction)
                part = df_.get("partition") or {}
                if isinstance(part, list):
                    part = dict(part)
                ipv = {}
                for src_col, flist in spec_map.items():
                    for fname, transform, _stype in flist:
                        if transform == "identity" and fname in part:
                            ipv[src_col] = part[fname]
                if ipv:
                    ident_pv[rp] = ipv
            elif content == 1:  # position deletes
                pos_deletes.append(_resolve(path, location, df_["file_path"]))
            else:  # equality deletes
                ids = df_.get("equality_ids")
                if not ids:
                    raise IcebergUnsupported(
                        "equality delete file without equality_ids"
                    )
                eq_deletes[(
                    _resolve(path, location, df_["file_path"]),
                    int(seq), tuple(sorted(ids)),
                )] = None
    return (sorted(files.items()), sorted(set(pos_deletes)),
            sorted(eq_deletes), ident_pv)


def _snapshot_files(
    path: str, meta: dict, snapshot_id: int | None, where: list[tuple] | None = None
) -> tuple[list[str], list[str]]:
    """Back-compat wrapper: (data paths, position-delete paths); callers
    that cannot sequence-scope equality deletes refuse them here."""
    files, pos_deletes, eq_deletes, _ipv = _snapshot_entries(
        path, meta, snapshot_id, where
    )
    if eq_deletes:
        raise IcebergUnsupported(
            "equality delete files need sequence-scoped application — "
            "read through read_iceberg"
        )
    return [p for p, _seq in files], pos_deletes


def snapshot_as_of(path: str, timestamp_ms: int) -> int:
    """Iceberg's timestamp time travel rule: the newest snapshot whose
    timestamp-ms is <= the bound (before-first-snapshot is an error there
    too)."""
    snaps = iceberg_snapshots(path)  # newest first
    for s in snaps:
        if s["timestamp_ms"] is not None and s["timestamp_ms"] <= timestamp_ms:
            return s["snapshot_id"]
    raise ValueError(f"timestamp {timestamp_ms} predates the first snapshot")


def _snapshot_appended_files(path: str, meta: dict, snap: dict,
                             ignore_changes: bool) -> list[str]:
    """Data files ADDED by one snapshot (manifest entries with status=1
    and the snapshot's id).  A snapshot that also deletes entries is a
    rewrite — refused unless ``ignore_changes`` (its adds re-stream)."""
    location = meta.get("location", path)
    added: list[str] = []
    saw_delete = False
    mlist = _resolve(path, location, snap["manifest-list"])
    for mrow in AC.read_container(mlist):
        if mrow.get("content", 0) == 1:
            # v2 delete manifest (r10): delete files ADDED by this
            # snapshot make it a rewrite — handled below like deleted
            # entries (abort unless ignore_changes / the skip options).
            # CARRIED delete files (earlier sequence) can never hit the
            # data files this snapshot adds (position/equality deletes
            # apply only to data with sequence <= the delete's), so a
            # later append over a delete-bearing table streams cleanly.
            manifest = _resolve(path, location, mrow["manifest_path"])
            for entry in AC.read_container(manifest):
                if entry["status"] == 1 and entry.get(
                    "snapshot_id", snap["snapshot-id"]
                ) == snap["snapshot-id"]:
                    saw_delete = True
            continue
        manifest = _resolve(path, location, mrow["manifest_path"])
        for entry in AC.read_container(manifest):
            if entry["status"] == 2:
                saw_delete = True
                continue
            if entry["status"] == 1 and entry.get(
                "snapshot_id", snap["snapshot-id"]
            ) == snap["snapshot-id"]:
                df_ = entry["data_file"]
                added.append(_resolve(path, location, df_["file_path"]))
    op = (snap.get("summary") or {}).get("operation", "append")
    if (saw_delete or op not in ("append",)) and not ignore_changes:
        raise ValueError(
            f"snapshot {snap['snapshot-id']} is a {op} with deleted entries; "
            "set ignoreChanges=true to re-stream its adds, or start after it"
        )
    return sorted(set(added))


def _ordered_snapshots(path: str) -> list[dict]:
    meta = _read_metadata(path)
    snaps = list(meta.get("snapshots", []))
    # sequence-number and timestamp-ms live on different scales — mixing
    # them as one sort key interleaves wrongly when only some snapshots
    # carry sequence-number (v1->v2 upgraded tables)
    if snaps and all("sequence-number" in s for s in snaps):
        return sorted(
            snaps,
            key=lambda s: (s["sequence-number"], s.get("timestamp-ms", 0)),
        )
    return sorted(snaps, key=lambda s: s.get("timestamp-ms", 0))


def _resolve_pos(snaps: list[dict], snapshot_id: int) -> int:
    for i, s in enumerate(snaps):
        if s["snapshot-id"] == snapshot_id:
            return i
    raise ValueError(
        f"snapshot {snapshot_id} is no longer in the table's snapshot "
        "log (expired?); exactly-once resume is impossible — restart "
        "the stream from a fresh checkpoint"
    )


class _IcebergStream(_tablestream.TableStream):
    """``icebergstream``: STREAM an Iceberg table's committed snapshots
    without the iceberg-spark runtime.  Offsets are the LAST-STREAMED
    SNAPSHOT-ID (``{"snapshot_id": id}``, not a positional index:
    snapshot expiry or a metadata rewrite shifts positions, so a
    positional checkpoint could silently skip or replay snapshots); the
    id is resolved against the snapshot log at planning and fails closed
    if that snapshot has been expired.  Each micro-batch is the data
    files ADDED by the new snapshots.  Overwrite/delete snapshots abort
    the stream unless ``ignoreChanges=true`` (their adds re-stream;
    consumers dedup) — the same contract Iceberg's own streaming read
    documents — or the Iceberg option names
    ``streaming-skip-delete-snapshots`` /
    ``streaming-skip-overwrite-snapshots`` skip those snapshots
    WHOLESALE; 'replace' (compaction) snapshots are always skipped,
    matching the reference streaming source."""

    name = "icebergstream"

    def __init__(self, options, schema=None):
        super().__init__(options, schema)
        self.ignore_changes = self.flag("ignoreChanges")
        # Iceberg's own streaming options: skip the named snapshot
        # types WHOLESALE instead of aborting on them
        self.skip = {
            op for op, key in (("delete", "streaming-skip-delete-snapshots"),
                               ("overwrite", "streaming-skip-overwrite-snapshots"))
            if self.flag(key)
        }

    @classmethod
    def read_schema(cls, options):
        meta = _read_metadata(options["path"])
        return _spark_type(
            {"type": "struct", "fields": _current_schema(meta)["fields"]}
        )

    def initial_offset(self) -> dict:
        return {"snapshot_id": None}

    def latest_offset(self) -> dict:
        snaps = _ordered_snapshots(self.root)
        return {"snapshot_id": snaps[-1]["snapshot-id"] if snaps else None}

    def changes(self, start: dict, end: dict) -> list:
        # offsets from before the snapshot-id format carry a "pos" key;
        # treating them as initial would silently re-stream every
        # snapshot (duplicates) — fail closed instead, same contract as
        # _resolve_pos on an expired snapshot
        for off in (start, end):
            if off and "pos" in off:
                raise ValueError(
                    "icebergstream checkpoint holds a legacy {'pos': N} "
                    "offset from a previous format; exactly-once resume "
                    "is impossible — restart from a fresh checkpoint"
                )
        if end.get("snapshot_id") is None:
            return []
        meta = _read_metadata(self.root)
        snaps = _ordered_snapshots(self.root)
        lo = (0 if start.get("snapshot_id") is None
              else _resolve_pos(snaps, start["snapshot_id"]) + 1)
        hi = _resolve_pos(snaps, end["snapshot_id"]) + 1
        tasks = []
        for snap in snaps[lo:hi]:
            op = (snap.get("summary") or {}).get("operation", "append")
            # 'replace' is compaction/rewrite: no data change — Iceberg's
            # own streaming source always skips it (streaming its adds
            # would duplicate rows)
            if op == "replace" or op in self.skip:
                continue
            tasks += [
                _tablestream.FileTask(f)
                for f in _snapshot_appended_files(
                    self.root, meta, snap, self.ignore_changes
                )
            ]
        return tasks


def register_iceberg_stream_source(spark: SparkSession) -> None:
    """Register ``icebergstream`` (``_IcebergStream``), the twin of
    ``delta_reader.register_delta_stream_source``.  Usage::

        register_iceberg_stream_source(spark)
        spark.readStream.format("icebergstream").option("path", root).load()
    """
    _tablestream.register(spark, _IcebergStream)


def read_iceberg(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    where: list[tuple] | None = None,
    as_of_timestamp_ms: int | None = None,
) -> DataFrame:
    """Snapshot (or time-travel) read of an Iceberg table without the
    iceberg-spark runtime: metadata.json -> manifest list -> manifests ->
    one parquet scan over the live data files, schema pinned from the
    table's current Iceberg schema.  ``where=[(col, op, val)]`` prunes
    files at the manifest level on identity partition values (the
    planning-time skip Iceberg clients perform); the returned frame is NOT
    filtered — callers apply their own predicate, which Catalyst pushes
    into the already-pruned scan.  v2 POSITION deletes are applied as a
    broadcast (file_path, pos) anti-join against ``_metadata`` — the
    merge-on-read the spec mandates, same shape as delta_reader's
    deletion vectors; EQUALITY deletes are applied as sequence-scoped
    broadcast anti-joins on their ``equality_ids`` columns (NULL = NULL,
    delete seq strictly greater than the row's data-file seq)."""
    from pyspark.sql import functions as F

    if snapshot_id is not None and as_of_timestamp_ms is not None:
        raise ValueError("pass snapshot_id= or as_of_timestamp_ms=, not both")
    if as_of_timestamp_ms is not None:
        snapshot_id = snapshot_as_of(path, as_of_timestamp_ms)
    meta = _read_metadata(path)
    if meta.get("format-version", 1) not in (1, 2):
        raise IcebergUnsupported(
            f"format-version {meta.get('format-version')} not supported"
        )
    schema = _spark_type(
        {"type": "struct", "fields": _current_schema(meta)["fields"]}
    )
    files, pos_deletes, eq_deletes, ident_pv = _snapshot_entries(
        path, meta, snapshot_id, where
    )
    if not files:
        return spark.createDataFrame([], schema)
    df = spark.read.schema(schema).parquet(*[p for p, _seq in files])
    if not pos_deletes and not eq_deletes and not ident_pv:
        return df
    cols = df.columns
    kept = df.select(
        "*",
        plain_file_path().alias("__f"),
        F.col("_metadata.row_index").alias("__p"),
    )
    if pos_deletes:
        # position-delete files: (file_path, pos) parquet per the spec's
        # reserved schema (field ids 2147483546/2147483545); the target
        # path is the WRITER's URI — re-root it the same way _resolve
        # re-roots manifest paths so relocated tables stay consistent
        location = meta.get("location", path)
        loc_norm = re.sub(r"^[a-z]+:/+", "/", location.rstrip("/"))
        abs_root = os.path.abspath(path)
        dels = (
            spark.read.schema("file_path string, pos bigint")
            .parquet(*pos_deletes)
            .withColumn(
                "file_path",
                F.regexp_replace(F.col("file_path"), "^[a-z]+:/+", "/"),
            )
        )
        if loc_norm != abs_root:
            n = len(loc_norm)
            dels = dels.withColumn(
                "file_path",
                F.when(
                    F.col("file_path").startswith(loc_norm + "/"),
                    F.concat(F.lit(abs_root),
                             F.expr(f"substring(file_path, {n + 1})")),
                ).otherwise(F.col("file_path")),
            )
        kept = kept.join(
            F.broadcast(
                dels.withColumnRenamed("file_path", "__df")
                .withColumnRenamed("pos", "__dp")
            ),
            (F.col("__f") == F.col("__df")) & (F.col("__p") == F.col("__dp")),
            "left_anti",
        )
    if eq_deletes:
        # equality deletes: anti-join on the equality_ids columns with
        # NULL = NULL semantics (<=>), sequence-scoped — the delete hits
        # only rows from data files with data seq STRICTLY LESS than the
        # delete's seq (a re-insert in a newer commit survives).  Per-row
        # data seq rides a broadcast (file -> seq) map; one broadcast
        # anti-join per (equality_ids, seq) delete group — the delete
        # side is the small dimension, the scan stays un-shuffled.
        seq_rows = [(os.path.abspath(p), s) for p, s in files]
        seq_map = spark.createDataFrame(
            seq_rows,
            T.StructType([
                T.StructField("__sf", T.StringType(), False),
                T.StructField("__seq", T.LongType(), False),
            ]),
        )
        kept = kept.join(
            F.broadcast(seq_map), F.col("__f") == F.col("__sf"), "left"
        ).drop("__sf")
        id2name = {f["id"]: f["name"]
                   for f in _current_schema(meta).get("fields", [])}
        groups: dict[tuple, list[str]] = {}
        for p, dseq, ids in eq_deletes:
            groups.setdefault((ids, dseq), []).append(p)
        for (ids, dseq), paths in sorted(groups.items()):
            try:
                names = [id2name[i] for i in ids]
            except KeyError as e:
                raise IcebergUnsupported(
                    f"equality_ids references unknown field id {e}"
                ) from e
            ed = spark.read.parquet(*paths).select(
                *[F.col(c).alias(f"__eq_{c}") for c in names]
            )
            cond = F.col("__seq") < F.lit(int(dseq))
            for c in names:
                cond = cond & F.col(c).eqNullSafe(F.col(f"__eq_{c}"))
            kept = kept.join(F.broadcast(ed), cond, "left_anti")
    if ident_pv:
        # spec "Column Projection" rule 2: an identity-partition source
        # column ABSENT from a data file reads from the entry's partition
        # tuple (when present in the file its values equal the tuple by
        # construction, so coalesce is exact) — a broadcast file->values
        # map, the same shape the Delta reader uses
        by_name = {f.name: f for f in schema.fields}
        inj = sorted({
            c for pv in ident_pv.values() for c in pv
            if c in by_name and all(
                _ident_py(v2.get(c), by_name[c].dataType)
                is not _IDENT_SKIP
                for v2 in ident_pv.values() if c in v2
            )
        })
        if inj:
            rows = [
                (os.path.abspath(p),
                 *[_ident_py(ident_pv[p][c], by_name[c].dataType)
                   if c in ident_pv.get(p, {}) else None
                   for c in inj])
                for p, _seq in files
            ]
            pv_df = spark.createDataFrame(
                rows,
                T.StructType(
                    [T.StructField("__pf", T.StringType(), False)]
                    + [T.StructField(f"__pv_{c}", by_name[c].dataType,
                                     True) for c in inj]
                ),
            )
            kept = kept.join(
                F.broadcast(pv_df), F.col("__f") == F.col("__pf"), "left"
            )
            return kept.select(
                *[F.coalesce(F.col(c), F.col(f"__pv_{c}")).alias(c)
                  if c in inj else F.col(c) for c in cols]
            )
    return kept.select(*cols)
