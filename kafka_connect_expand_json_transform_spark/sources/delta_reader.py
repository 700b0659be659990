"""Pure-Python Delta Lake PROTOCOL reader — jar-free interop with the
dominant open table format (delta.io PROTOCOL.md, public spec).

A user migrating from the reference's Connect pipelines almost certainly
lands their topics in Delta tables; this module lets the engine read those
tables (snapshot + time travel) without delta-spark on the classpath, the
same capability tier delta-rs offers:

* ``read_delta(spark, path, version=None)`` — snapshot read, VERSION AS OF
  via ``version=``; partition columns are re-injected from the log's
  ``partitionValues`` through ONE scan + a broadcast file->partition map
  (never one read per partition);
* ``delta_history(path)`` — the commit list (version, timestamp,
  operation) DESCRIBE HISTORY returns;
* column mapping mode ``name`` supported (files carry physical names; the
  reader translates physical->logical at plan time — the same trade
  txlog's column mapping documents);
* deletion vectors supported on the snapshot read path (Z85 descriptors +
  RoaringBitmapArray bitmaps decoded per PROTOCOL.md, applied as a
  broadcast (file, row_index) anti-join — the txlog MoR shape); other
  unsupported reader features are REFUSED with the protocol's own
  fail-closed rule (PROTOCOL.md "Reader Requirements"), never silently
  mis-read.

Log replay: JSON commits after the newest eligible checkpoint are parsed
on the planner (each commit is one transaction's actions — small by
construction); ``*.checkpoint.parquet`` files — single-part or
multi-part (``V.checkpoint.P.N.parquet``, all parts required, incomplete
sets refused) — are read via pyarrow column-projected to the ``add``/
``remove``/``metaData``/``protocol`` structs.  The materialized state is
the snapshot FILE LIST — O(live files), the same planner bound every
Delta reader pays (delta-rs, Delta Spark's state reconstruction); the
data itself never touches the planner.  v2 checkpoint manifests are
refused honestly (they only appear on tables whose writers opted in).
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_expand_json_transform_spark.sources import _tablestream
from kafka_connect_expand_json_transform_spark.sources._files import plain_file_path

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_CKPT_RE = re.compile(r"^(\d{20})\.checkpoint\.parquet$")
_MULTI_CKPT_RE = re.compile(
    r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$"
)
# V2 checkpoint manifest: V.checkpoint.<uuid>.{json|parquet} + sidecar
# parquet files under _delta_log/_sidecars/ (PROTOCOL.md "V2 Checkpoints")
_V2_CKPT_RE = re.compile(
    r"^(\d{20})\.checkpoint\.([0-9a-fA-F-]{8,})\.(json|parquet)$"
)

#: reader features this implementation actually honors (PROTOCOL.md:
#: unsupported features MUST fail the read, not degrade)
_SUPPORTED_READER_FEATURES = {
    "columnMapping", "timestampNtz", "vacuumProtocolCheck", "deletionVectors",
    "v2Checkpoint",
}


class DeltaProtocolUnsupported(RuntimeError):
    """The table requires reader capabilities this implementation lacks."""


def _log_dir(path: str) -> str:
    return os.path.join(path, "_delta_log")


def _list_log(path: str) -> tuple[dict[int, str], dict[int, list[str]]]:
    """(commit JSONs by version, checkpoint PART LISTS by version).  A
    single-part checkpoint is a one-element list; a multi-part checkpoint
    (``V.checkpoint.P.N.parquet``) contributes its parts in part order.
    An INCOMPLETE multi-part set is SKIPPED, not refused: PROTOCOL.md
    tells readers to ignore partially-written checkpoints (writers can
    crash mid-write) — replay falls back to a complete checkpoint at the
    same or an earlier version, or to the commit chain."""
    commits: dict[int, str] = {}
    ckpts: dict[int, list[str]] = {}
    multi: dict[int, dict[int, tuple[int, str]]] = {}
    log = _log_dir(path)
    if not os.path.isdir(log):
        raise FileNotFoundError(f"no Delta log at {log}")
    v2: dict[int, str] = {}
    for name in os.listdir(log):
        m = _COMMIT_RE.match(name)
        if m:
            p = os.path.join(log, name)
            # a zero-length commit is a writer's in-flight claim
            # (``_commit.publish``), never a committed version
            if os.path.getsize(p):
                commits[int(m.group(1))] = p
            continue
        m = _CKPT_RE.match(name)
        if m:
            ckpts[int(m.group(1))] = [os.path.join(log, name)]
            continue
        m = _MULTI_CKPT_RE.match(name)
        if m:
            v, part, nparts = (int(m.group(1)), int(m.group(2)),
                               int(m.group(3)))
            multi.setdefault(v, {})[part] = (nparts, os.path.join(log, name))
            continue
        m = _V2_CKPT_RE.match(name)
        if m:
            # multiple writers may race v2 checkpoints at one version;
            # any complete one is equivalent — pick deterministically
            v = int(m.group(1))
            p = os.path.join(log, name)
            if v not in v2 or p < v2[v]:
                v2[v] = p
    for v, p in v2.items():
        # a classic checkpoint at the same version reads in one file
        ckpts.setdefault(v, [p])
    for v, parts in multi.items():
        nparts = {n for n, _p in parts.values()}
        if len(nparts) != 1 or set(parts) != set(range(1, nparts.pop() + 1)):
            # partially-written multi-part set — ignore it per PROTOCOL.md;
            # replay uses another checkpoint or the commit chain instead
            continue
        # a single-part checkpoint at the same version wins (either is
        # complete; prefer the one-file read)
        ckpts.setdefault(v, [p for _n, p in
                             (parts[i] for i in sorted(parts))])
    if not commits and not ckpts:
        raise FileNotFoundError(f"empty Delta log at {log}")
    return commits, ckpts


def _checkpoint_actions(ckpt_path: str):
    """Yield action dicts from a checkpoint file.  Classic single-part /
    multi-part parts stream their state structs directly; a V2 manifest
    (``V.checkpoint.<uuid>.{json|parquet}``) additionally carries
    ``sidecar`` actions whose ``_delta_log/_sidecars/<path>`` parquet
    files hold the add/remove state (PROTOCOL.md "V2 Checkpoints" /
    "Checkpoint Sidecar Files"); both tiers are expanded here so replay
    is layout-agnostic.  Column-projected: only action structs are
    materialized, never stats blobs."""
    name = os.path.basename(ckpt_path)
    if _V2_CKPT_RE.match(name):
        sidecar_dir = os.path.join(os.path.dirname(ckpt_path), "_sidecars")
        if name.endswith(".json"):
            with open(ckpt_path, encoding="utf-8") as fh:
                manifest = [json.loads(ln) for ln in fh if ln.strip()]
        else:
            manifest = list(_parquet_actions(
                ckpt_path,
                ("add", "remove", "metaData", "protocol", "txn",
                 "sidecar", "checkpointMetadata"),
            ))
        for a in manifest:
            sc = a.get("sidecar")
            if sc is not None:
                sp = os.path.join(sidecar_dir, sc["path"])
                if not os.path.exists(sp):
                    raise DeltaProtocolUnsupported(
                        f"v2 checkpoint sidecar missing: {sc['path']}"
                    )
                yield from _parquet_actions(sp, ("add", "remove"))
            elif a.get("checkpointMetadata") is not None:
                continue  # {version, tags}: informational at read time
            elif any(a.get(k) is not None
                     for k in ("add", "remove", "metaData", "protocol",
                               "txn")):
                yield {k: v for k, v in a.items() if v is not None}
        return
    yield from _parquet_actions(
        ckpt_path, ("add", "remove", "metaData", "protocol", "txn")
    )


def _parquet_actions(path: str, kinds: tuple[str, ...]):
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    cols = [c for c in kinds if c in pf.schema_arrow.names]
    for batch in pf.iter_batches(columns=cols):
        rows = batch.to_pylist()
        for row in rows:
            for kind in cols:
                if row.get(kind) is not None:
                    action = row[kind]
                    # arrow MAP columns round-trip as [(k, v), ...] pairs
                    if isinstance(action, dict):
                        for mk in ("partitionValues", "configuration"):
                            if isinstance(action.get(mk), list):
                                action[mk] = dict(action[mk])
                        fmt = action.get("format")
                        if isinstance(fmt, dict) and isinstance(
                            fmt.get("options"), list
                        ):
                            fmt["options"] = dict(fmt["options"])
                    yield {kind: action}


def _replay(path: str, version: int | None):
    """Replay the log to ``version`` (latest if None).  Returns
    (file_state, metaData, protocol, actual_version)."""
    commits, ckpts = _list_log(path)
    latest = max([*commits, *ckpts])
    target = latest if version is None else int(version)
    if target > latest or (target not in commits and target not in ckpts):
        raise ValueError(f"version {target} not in Delta log (latest {latest})")

    base = max((v for v in ckpts if v <= target), default=None)
    actions = []
    if base is not None:
        for part in ckpts[base]:
            actions.extend(_checkpoint_actions(part))
        start = base + 1
    else:
        start = 0
    for v in range(start, target + 1):
        if v not in commits:
            if base is not None and v <= base:
                continue
            raise ValueError(f"Delta log is missing commit {v}")
        with open(commits[v], encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    actions.append(json.loads(line))

    files: dict[str, dict] = {}
    meta = None
    protocol = None
    for a in actions:
        if "add" in a and a["add"] is not None:
            files[a["add"]["path"]] = a["add"]
        elif "remove" in a and a["remove"] is not None:
            files.pop(a["remove"]["path"], None)
        elif "metaData" in a and a["metaData"] is not None:
            meta = a["metaData"]
        elif "protocol" in a and a["protocol"] is not None:
            protocol = a["protocol"]
    if meta is None:
        raise ValueError("Delta log has no metaData action")
    _check_protocol(protocol, meta)
    return files, meta, protocol, target


def _check_protocol(protocol: dict | None, meta: dict) -> None:
    """PROTOCOL.md reader requirements: fail closed on anything this
    implementation cannot honor."""
    if protocol is None:
        return
    v = protocol.get("minReaderVersion", 1)
    if v >= 3:
        feats = set(protocol.get("readerFeatures") or [])
        unsupported = feats - _SUPPORTED_READER_FEATURES
        if unsupported:
            raise DeltaProtocolUnsupported(
                f"table requires reader features {sorted(unsupported)}; "
                f"this reader supports {sorted(_SUPPORTED_READER_FEATURES)}"
            )
    mode = (meta.get("configuration") or {}).get("delta.columnMapping.mode", "none")
    if mode not in ("none", "name", "id"):
        raise DeltaProtocolUnsupported(
            f"columnMapping mode {mode!r} not supported "
            "(only 'none'/'name'/'id')"
        )


def _schema(meta: dict) -> T.StructType:
    return T.StructType.fromJson(json.loads(meta["schemaString"]))


def _physical_name(field: T.StructField) -> str:
    return field.metadata.get("delta.columnMapping.physicalName", field.name)


def _field_id_type(dtype: T.DataType) -> T.DataType:
    """Recursively stamp ``parquet.field.id`` metadata (from the Delta
    schema's ``delta.columnMapping.id``) onto nested struct fields so
    Spark's parquet field-id resolution matches them by id."""
    if isinstance(dtype, T.StructType):
        out = []
        for f in dtype.fields:
            fid = (f.metadata or {}).get("delta.columnMapping.id")
            if fid is None:
                raise DeltaProtocolUnsupported(
                    f"columnMapping mode 'id': field {f.name!r} has no "
                    "delta.columnMapping.id"
                )
            out.append(T.StructField(
                f.name, _field_id_type(f.dataType), f.nullable,
                metadata={"parquet.field.id": int(fid)},
            ))
        return T.StructType(out)
    if isinstance(dtype, T.ArrayType):
        return T.ArrayType(_field_id_type(dtype.elementType),
                           dtype.containsNull)
    if isinstance(dtype, T.MapType):
        return T.MapType(_field_id_type(dtype.keyType),
                         _field_id_type(dtype.valueType),
                         dtype.valueContainsNull)
    return dtype


# --- deletion vectors (PROTOCOL.md "Deletion Vectors") -----------------------
#
# A DV marks rows of an immutable parquet file as deleted without rewriting
# it (merge-on-read).  On disk it is a 64-bit roaring bitmap of row indexes
# in the RoaringFormatSpec "portable" layout (github.com/RoaringBitmap/
# RoaringFormatSpec, public) prefixed by Delta's magic number; descriptors
# ride the add action (storageType u/i/p, Z85-encoded UUID or inline data
# per PROTOCOL.md "Deletion Vector Descriptor Schema").  The read path is
# the same anti-join the txlog's own MoR uses (txlog._apply_dvs): scan
# untouched, (file, row_index) pairs broadcast against _metadata.

_Z85_ALPHABET = (
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    ".-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_ALPHABET)}
_ROARING_ARRAY_MAGIC = 1681511377  # delta's RoaringBitmapArray portable magic


def _z85_decode(s: str) -> bytes:
    """Z85 decode (ZeroMQ spec 32, the alphabet Delta's Base85Codec uses):
    5 chars -> one big-endian uint32."""
    if len(s) % 5:
        raise ValueError(f"Z85 length {len(s)} is not a multiple of 5")
    out = bytearray()
    for i in range(0, len(s), 5):
        v = 0
        for c in s[i:i + 5]:
            v = v * 85 + _Z85_INDEX[c]
        out += v.to_bytes(4, "big")
    return bytes(out)


def _z85_encode(b: bytes) -> str:
    """Z85 encode with zero-padding to the 4-byte block size (the raw
    length rides the descriptor's sizeInBytes)."""
    b = b + b"\x00" * (-len(b) % 4)
    out = []
    for i in range(0, len(b), 4):
        v = int.from_bytes(b[i:i + 4], "big")
        chunk = []
        for _ in range(5):
            chunk.append(_Z85_ALPHABET[v % 85])
            v //= 85
        out.extend(reversed(chunk))
    return "".join(out)


def _roaring_array_bytes(positions) -> bytes:
    """Serialize sorted 64-bit row indexes as Delta's RoaringBitmapArray
    portable bytes (inverse of ``_roaring_array_positions``): array
    containers up to the 4096-cardinality threshold, bitset containers
    above it (the standard portable encoding rule)."""
    import struct

    by_high: dict[int, dict[int, list[int]]] = {}
    for p in sorted(set(int(x) for x in positions)):
        low = p & 0xFFFFFFFF
        by_high.setdefault(p >> 32, {}).setdefault(low >> 16, []).append(
            low & 0xFFFF
        )
    out = bytearray(struct.pack("<iq", _ROARING_ARRAY_MAGIC, len(by_high)))
    for high in sorted(by_high):
        containers = by_high[high]
        size = len(containers)
        out += struct.pack("<I", high)
        bm = bytearray(struct.pack("<II", 12346, size))
        for k in sorted(containers):
            bm += struct.pack("<HH", k, len(containers[k]) - 1)
        # offset header (always present for the no-run cookie)
        off = 8 + 4 * size + 4 * size
        bodies = []
        for k in sorted(containers):
            vals = containers[k]
            if len(vals) > 4096:
                words = [0] * 1024
                for v in vals:
                    words[v >> 6] |= 1 << (v & 63)
                body = struct.pack("<1024Q", *words)
            else:
                body = struct.pack(f"<{len(vals)}H", *vals)
            bodies.append(body)
        for body in bodies:
            bm += struct.pack("<I", off)
            off += len(body)
        for body in bodies:
            bm += body
        out += bm
    return bytes(out)


def write_dv_file(root: str, positions, storage: str = "p") -> dict:
    """Write a deletion-vector FILE (PROTOCOL.md framing: version byte,
    then int32-BE size + bitmap + int32-BE CRC-32) and return the add
    action ``deletionVector`` descriptor referencing it.  ``storage='p'``
    emits an absolute-path descriptor; ``storage='u'`` emits the
    spec-idiomatic relocatable form (table-relative
    ``deletion_vector_<uuid>.bin``, descriptor carries the Z85 UUID).
    One DV per call."""
    import uuid as _uuid
    import zlib

    data = _roaring_array_bytes(positions)
    u = _uuid.uuid4()
    p = os.path.join(root, f"deletion_vector_{u}.bin")
    with open(p, "wb") as fh:
        fh.write(b"\x01")
        fh.write(len(data).to_bytes(4, "big"))
        fh.write(data)
        fh.write((zlib.crc32(data) & 0xFFFFFFFF).to_bytes(4, "big"))
    desc = {
        "offset": 1, "sizeInBytes": len(data),
        "cardinality": len(set(positions)),
    }
    if storage == "u":
        desc.update(storageType="u", pathOrInlineDv=_z85_encode(u.bytes))
    else:
        desc.update(storageType="p", pathOrInlineDv=p)
    return desc


def inline_dv_descriptor(positions) -> dict:
    """An inline ('i') deletion-vector descriptor for small bitmaps."""
    data = _roaring_array_bytes(positions)
    return {
        "storageType": "i", "pathOrInlineDv": _z85_encode(data),
        "sizeInBytes": len(data), "cardinality": len(set(positions)),
    }


def _roaring32_positions(mv: memoryview, pos: int) -> tuple[list[int], int]:
    """Decode ONE 32-bit RoaringBitmap in the standard portable format
    (RoaringFormatSpec): returns (sorted values, next offset).  Handles all
    three container kinds (array / bitset / run)."""
    import struct

    (cookie,) = struct.unpack_from("<I", mv, pos)
    pos += 4
    if (cookie & 0xFFFF) == 12347:  # SERIAL_COOKIE: run containers present
        size = (cookie >> 16) + 1
        nbytes = (size + 7) // 8
        run_flags = bytes(mv[pos:pos + nbytes])
        pos += nbytes

        def has_run(i: int) -> bool:
            return bool((run_flags[i // 8] >> (i % 8)) & 1)
    elif cookie == 12346:  # SERIAL_COOKIE_NO_RUNCONTAINER
        (size,) = struct.unpack_from("<I", mv, pos)
        pos += 4

        def has_run(i: int) -> bool:
            return False
    else:
        raise ValueError(f"bad roaring cookie {cookie}")
    keys, cards = [], []
    for _ in range(size):
        k, cm1 = struct.unpack_from("<HH", mv, pos)
        pos += 4
        keys.append(k)
        cards.append(cm1 + 1)
    if cookie == 12346 or size >= 4:
        pos += 4 * size  # offset header; containers follow in key order
    out: list[int] = []
    for i in range(size):
        base = keys[i] << 16
        card = cards[i]
        if has_run(i):
            (n_runs,) = struct.unpack_from("<H", mv, pos)
            pos += 2
            for _ in range(n_runs):
                start, length = struct.unpack_from("<HH", mv, pos)
                pos += 4
                out.extend(range(base + start, base + start + length + 1))
        elif card > 4096:  # bitset container: 1024 x 8-byte words
            words = struct.unpack_from("<1024Q", mv, pos)
            pos += 8192
            for wi, w in enumerate(words):
                while w:
                    out.append(base + wi * 64 + ((w & -w).bit_length() - 1))
                    w &= w - 1
        else:  # array container
            vals = struct.unpack_from(f"<{card}H", mv, pos)
            pos += 2 * card
            out.extend(base + v for v in vals)
    return out, pos


def _roaring_array_positions(data: bytes) -> list[int]:
    """Decode Delta's RoaringBitmapArray 'portable' serialization: magic
    int32 LE + number-of-bitmaps int64 LE + per bitmap (key int32 LE +
    standard 32-bit portable bitmap), per the RoaringFormatSpec 64-bit
    portable layout.  Values are (key << 32) | low32 row indexes."""
    import struct

    mv = memoryview(data)
    (magic,) = struct.unpack_from("<i", mv, 0)
    if magic != _ROARING_ARRAY_MAGIC:
        raise ValueError(f"bad RoaringBitmapArray magic {magic}")
    (n,) = struct.unpack_from("<q", mv, 4)
    pos = 12
    out: list[int] = []
    for _ in range(n):
        (key,) = struct.unpack_from("<I", mv, pos)
        pos += 4
        lows, pos = _roaring32_positions(mv, pos)
        out.extend((key << 32) | v for v in lows)
    return out


def _dv_file_path(root: str, dv: dict) -> str | None:
    """Absolute path of an on-disk deletion-vector file (None for inline
    descriptors): 'u' = table-relative prefix + 20-char Z85 UUID name,
    'p' = absolute path."""
    st = dv.get("storageType")
    if st == "i":
        return None
    if st == "u":
        import uuid as _uuid

        enc = dv["pathOrInlineDv"]
        prefix, tail = enc[:-20], enc[-20:]
        u = _uuid.UUID(bytes=_z85_decode(tail))
        return os.path.join(root, *([prefix] if prefix else []),
                            f"deletion_vector_{u}.bin")
    if st == "p":
        return dv["pathOrInlineDv"]
    raise DeltaProtocolUnsupported(
        f"deletion vector storageType {st!r} not supported"
    )


def _dv_bitmap_bytes(root: str, dv: dict) -> bytes:
    """Resolve a deletion-vector descriptor to its RAW serialized
    RoaringBitmapArray bytes (validated: CRC for on-disk DVs, sizeInBytes
    for all).  storageType 'u' = UUID-named file under the table (prefix
    + 20-char Z85 UUID), 'p' = absolute path, 'i' = inline Z85 data.
    On-disk DV framing per PROTOCOL.md: at ``offset``, int32 BE data
    size, the serialized bitmap, int32 BE CRC-32 of the data."""
    import zlib

    st = dv.get("storageType")
    if st == "i":
        # Z85 works in 4-byte blocks; the writer zero-pads, sizeInBytes
        # carries the true data length
        data = _z85_decode(dv["pathOrInlineDv"])
        if dv.get("sizeInBytes") is not None:
            data = data[:int(dv["sizeInBytes"])]
    else:
        p = _dv_file_path(root, dv)
        with open(p, "rb") as fh:
            fh.seek(int(dv["offset"]))
            size = int.from_bytes(fh.read(4), "big")
            data = fh.read(size)
            crc = int.from_bytes(fh.read(4), "big")
        if zlib.crc32(data) & 0xFFFFFFFF != crc:
            raise ValueError(f"deletion vector checksum mismatch in {p}")
    expected = dv.get("sizeInBytes")
    if expected is not None and len(data) != int(expected):
        raise ValueError(
            f"deletion vector size {len(data)} != descriptor {expected}"
        )
    return data


def _dv_deleted_positions(root: str, dv: dict) -> list[int]:
    """Resolve a deletion-vector descriptor to its deleted row indexes
    (driver-side decode — callers that scale with DV cardinality should
    go through ``dv_frame``, which decodes executor-side)."""
    positions = _roaring_array_positions(_dv_bitmap_bytes(root, dv))
    card = dv.get("cardinality")
    if card is not None and len(positions) != int(card):
        raise ValueError(
            f"deletion vector cardinality {len(positions)} != {card}"
        )
    return positions


def read_delta_changes(
    spark: SparkSession,
    path: str,
    starting_version: int,
    ending_version: int | None = None,
) -> DataFrame:
    """Delta CHANGE DATA FEED read without the jar (PROTOCOL.md "Change
    Data Files" / the ``readChangeFeed`` surface): for each version in the
    range, rows come from the version's ``cdc`` actions when the writer
    captured them (``_change_data/`` files carrying ``_change_type``),
    else from its ``add`` actions tagged ``insert`` when the version is
    append-only.  A rewrite version (dataChange removes) WITHOUT cdc
    actions is refused — the pre/post images are unrecoverable, the same
    error Delta raises when ``delta.enableChangeDataFeed`` was off.
    Output schema: table columns + ``_change_type`` + ``_commit_version``.
    Partitioned tables re-inject partition columns from the actions'
    ``partitionValues`` (broadcast file->values map, the snapshot read's
    shape); column-mapped ('name') tables read through the physical ->
    logical rename at plan time, the snapshot read's shape (r9).  Scale:
    one parquet scan per contributing version over only the change
    files — never a snapshot diff."""
    commits, _ = _list_log(path)
    latest = max(commits) if commits else -1
    end = latest if ending_version is None else int(ending_version)
    _files, meta, _proto, _v = _replay(path, end)  # protocol/meta guards
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    part_cols = list(meta.get("partitionColumns") or [])
    logical = _schema(meta)
    by_logical = {f.name: f for f in logical.fields}
    data_fields = [f for f in logical.fields if f.name not in part_cols]
    # partitionValues are keyed by PHYSICAL name in both mapping modes
    phys_of = {f.name: (_physical_name(f) if mode != "none" else f.name)
               for f in logical.fields}
    if mode == "id":
        # resolve parquet columns by FIELD ID (the snapshot read's r9
        # shape): logical names + parquet.field.id metadata; the extra
        # _change_type column has no id and matches by name
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

    def _with_parts(df, entries, extra_fields):
        """Re-inject partition columns from the actions' partitionValues
        via a broadcast file->values map — the snapshot read's shape.
        Expects ``__file`` already on ``df`` (captured pre-rename, while
        ``_metadata`` was still resolvable)."""
        if not part_cols:
            return df
        rows = [
            (os.path.abspath(os.path.join(path, rel)),
             # column-mapped tables key partitionValues by PHYSICAL name
             *[(pv or {}).get(phys_of[c]) for c in part_cols])
            for rel, pv in entries
        ]
        map_schema = T.StructType(
            [T.StructField("__file", T.StringType(), False)]
            + [T.StructField(f"__pv_{c}", T.StringType(), True)
               for c in part_cols]
        )
        pv_df = spark.createDataFrame(rows, map_schema)
        return (
            df.join(F.broadcast(pv_df), "__file")
            .select(
                *[f.name for f in data_fields],
                *[F.col(f"__pv_{c}").cast(by_logical[c].dataType).alias(c)
                  for c in part_cols],
                *extra_fields,
            )
        )

    def _scan(paths_, keep_change_type):
        if mode == "id":
            fields = list(_field_id_type(T.StructType(
                [T.StructField(f.name, f.dataType, f.nullable, f.metadata)
                 for f in data_fields]
            )).fields)
        else:
            fields = [T.StructField(phys_of[f.name], f.dataType, True)
                      for f in data_fields]
        if keep_change_type:
            fields.append(T.StructField("_change_type", T.StringType(), True))
        df = spark.read.schema(T.StructType(fields)).parquet(*paths_)
        if part_cols:
            df = df.withColumn(
                "__file",
                plain_file_path(),
            )
        # physical -> logical, plan-time rename ('name' mapping; 'id'
        # already reads under logical names via field-id resolution)
        df = df.select(
            *(["__file"] if part_cols else []),
            *[F.col(phys_of[f.name] if mode == "name" else f.name)
              .alias(f.name) for f in data_fields],
            *(["_change_type"] if keep_change_type else []),
        )
        return df

    frames = []
    for v in range(int(starting_version), end + 1):
        if v not in commits:
            continue
        adds, cdcs, data_removed = [], [], False
        with open(commits[v], encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                if a.get("cdc"):
                    cdcs.append((a["cdc"]["path"],
                                 a["cdc"].get("partitionValues")))
                elif a.get("add") and a["add"].get("dataChange", True):
                    if a["add"].get("deletionVector"):
                        # a DV add soft-deletes rows: without cdc files its
                        # pre/post images are as unrecoverable as a rewrite
                        data_removed = True
                    adds.append((a["add"]["path"],
                                 a["add"].get("partitionValues")))
                elif a.get("remove") and a["remove"].get("dataChange", True):
                    data_removed = True
        if cdcs:
            df = _scan(
                [os.path.join(path, c) for c, _pv in cdcs],
                keep_change_type=True,
            )
            df = _with_parts(df, cdcs, ["_change_type"])
        elif data_removed:
            raise DeltaProtocolUnsupported(
                f"version {v} rewrites data without cdc actions; its "
                "changes are unrecoverable (enable the change data feed "
                "on the writer)"
            )
        elif adds:
            df = _scan(
                [os.path.join(path, a) for a, _pv in adds],
                keep_change_type=False,
            ).select("*", F.lit("insert").alias("_change_type"))
            df = _with_parts(df, adds, ["_change_type"])
        else:
            continue
        frames.append(
            df.select(*[f.name for f in logical.fields], "_change_type")
            .select("*", F.lit(v).alias("_commit_version"))
        )
    if not frames:
        return spark.createDataFrame([], T.StructType(
            [*logical.fields,
             T.StructField("_change_type", T.StringType(), True),
             T.StructField("_commit_version", T.IntegerType(), False)]
        ))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


class _DeltaStream(_tablestream.TableStream):
    """``deltastream``: STREAM a Delta table's committed versions without
    the delta-spark jar — each micro-batch is a range of Delta versions,
    offsets are version numbers (``{"version": n}``, exactly-once restart
    from the checkpoint), and only PUBLISHED commits are visible.
    ``startingVersion`` or ``startingTimestamp`` (the first version
    committed at or after it, Delta's rule) picks the first version.

    Contract (Delta's own streaming-source rule): a version containing
    ``remove`` actions aborts the stream unless ``ignoreChanges=true`` is
    set, in which case its ``add`` files are re-streamed (consumers
    downstream must dedup) — silently skipping rewrites would lose data.
    ``skipChangeCommits=true`` (the newer Delta option) instead skips
    data-changing commits WHOLESALE — no rows from a version that
    removes files or adds deletion vectors — which also makes DV-bearing
    commits streamable (their adds never re-stream, so no bitmap needs
    applying).  ``dataChange=false`` actions (compaction) never stream.
    Partition values ride each add's task as typed constants;
    column-mapped tables resolve columns by physical name ('name') or by
    parquet field id ('id')."""

    name = "deltastream"

    def __init__(self, options, schema=None):
        super().__init__(options, schema)
        self.ignore_changes = self.flag("ignoreChanges")
        self.skip_change_commits = self.flag("skipChangeCommits")
        if "startingTimestamp" in options:
            if "startingVersion" in options:
                raise ValueError(
                    "pass startingVersion or startingTimestamp, not both"
                )
            ts = int(options["startingTimestamp"])
            later = [h["version"] for h in delta_history(self.root)
                     if h["timestamp"] is not None and h["timestamp"] >= ts]
            if not later:
                raise ValueError(
                    f"startingTimestamp {ts} is after the last commit"
                )
            self.starting_version = min(later)
        else:
            self.starting_version = int(options.get("startingVersion", 0))
        _files, meta, _proto, _v = _replay(self.root, None)
        mode = (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        )
        logical = _schema(meta)
        self.mapping = self.field_ids = None
        if mode != "none":
            self.mapping = {f.name: _physical_name(f) for f in logical.fields}
        if mode == "id":
            self.field_ids = {
                int(f.metadata["delta.columnMapping.id"]): f.name
                for f in logical.fields
            }

    @classmethod
    def read_schema(cls, options):
        _files, meta, _proto, _v = _replay(options["path"], None)
        return _schema(meta)  # _replay gates unsupported modes

    def initial_offset(self) -> dict:
        return {"version": self.starting_version - 1}

    def latest_offset(self) -> dict:
        commits, _ = _list_log(self.root)
        return {"version": max(commits) if commits else -1}

    def changes(self, start: dict, end: dict) -> list:
        types_of = {f.name: f.dataType for f in self.schema.fields}
        log_of = {p: l for l, p in (self.mapping or {}).items()}
        commits, _ = _list_log(self.root)
        tasks = []
        for v in range(int(start["version"]) + 1, int(end["version"]) + 1):
            if v not in commits:
                # fail-closed: a gap means the commit was vacuumed past
                # a checkpoint — silently skipping it would LOSE its
                # rows from the stream
                raise ValueError(
                    f"Delta commit {v} is missing from the log "
                    "(vacuumed past a checkpoint?); restart with "
                    "startingVersion pointing at an existing commit"
                )
            adds, has_remove, has_dv = [], False, False
            with open(commits[v], encoding="utf-8") as fh:
                for line in fh:
                    a = json.loads(line) if line.strip() else {}
                    if a.get("add") and a["add"].get("dataChange", True):
                        has_dv = has_dv or bool(a["add"].get("deletionVector"))
                        adds.append(a["add"])
                    elif a.get("remove") and a["remove"].get("dataChange", True):
                        has_remove = True
            if (has_remove or has_dv) and self.skip_change_commits:
                continue
            if has_dv:
                # re-streaming a DV-bearing add WITHOUT applying its
                # bitmap would resurrect the deleted rows — fail closed
                raise ValueError(
                    f"Delta version {v} adds a deletion-vector file; "
                    "set skipChangeCommits=true to skip it, or use "
                    "read_delta for snapshot reads"
                )
            if has_remove and not self.ignore_changes:
                raise ValueError(
                    f"Delta version {v} contains remove actions (an "
                    "update/delete rewrite); set ignoreChanges=true to "
                    "re-stream its adds, skipChangeCommits=true to "
                    "skip it, or start after it"
                )
            for add in adds:
                # the files do not store partition columns (per the
                # protocol): the add's partitionValues become typed
                # constants under their logical names
                consts = {
                    log_of.get(c, c): _typed_partition_value(
                        raw, types_of.get(log_of.get(c, c))
                    )
                    for c, raw in (add.get("partitionValues") or {}).items()
                }
                tasks.append(_tablestream.FileTask(
                    os.path.join(self.root, add["path"]),
                    constants=consts or None,
                    mapping=self.mapping,
                    field_ids=self.field_ids,
                ))
        return tasks


def register_delta_stream_source(spark: SparkSession) -> None:
    """Register ``deltastream`` (``_DeltaStream``).  Usage::

        register_delta_stream_source(spark)
        spark.readStream.format("deltastream").option("path", root).load()
    """
    _tablestream.register(spark, _DeltaStream)


def delta_history(path: str) -> list[dict]:
    """DESCRIBE HISTORY: one dict per commit (version, timestamp,
    operation) from the commitInfo actions, newest first."""
    commits, _ = _list_log(path)
    out = []
    for v in sorted(commits, reverse=True):
        info = {"version": v, "timestamp": None, "operation": None}
        with open(commits[v], encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                ci = a.get("commitInfo")
                if ci:
                    info["timestamp"] = ci.get("timestamp")
                    info["operation"] = ci.get("operation")
                    break
        out.append(info)
    return out


def _version_at_timestamp(path: str, timestamp_ms: int) -> int:
    """TIMESTAMP AS OF resolution: the newest version whose commitInfo
    timestamp is <= the bound (Delta's own rule; before-first-commit is an
    error there too)."""
    hist = delta_history(path)  # newest first
    eligible = [h["version"] for h in hist
                if h["timestamp"] is not None and h["timestamp"] <= timestamp_ms]
    if not eligible:
        raise ValueError(
            f"timestamp {timestamp_ms} predates the first commit of {path}"
        )
    return max(eligible)


def _typed_partition_value(raw, dtype: T.DataType | None):
    """Parse a Delta ``partitionValues`` string to the column's logical
    type (PROTOCOL.md "Partition Value Serialization") so range predicates
    compare numerically: with lexicographic string compare, ``n > 9``
    would wrongly prune a file whose partition value is ``"10"``."""
    import datetime
    import decimal

    if raw is None or dtype is None or isinstance(raw, (int, float)):
        return raw
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(raw)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return float(raw)
    if isinstance(dtype, T.DecimalType):
        return decimal.Decimal(raw)
    if isinstance(dtype, T.BooleanType):
        return str(raw).lower() == "true"
    if isinstance(dtype, T.DateType):
        return datetime.date.fromisoformat(str(raw))
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return datetime.datetime.fromisoformat(str(raw))
    return raw


def _stats_keep(add: dict, where: list[tuple], part_cols: list[str],
                phys_of: dict, types_of: dict | None = None) -> bool:
    """File-skipping on the add action's stats JSON (minValues/maxValues)
    and partitionValues — keep when the predicate MAY match (missing or
    type-mismatched stats keep the file: pruning must stay sound)."""
    stats = add.get("stats")
    mins = maxs = {}
    if stats:
        try:
            s = json.loads(stats) if isinstance(stats, str) else stats
            mins, maxs = s.get("minValues") or {}, s.get("maxValues") or {}
        except (ValueError, TypeError):
            mins = maxs = {}
    pv = add.get("partitionValues") or {}
    types_of = types_of or {}
    for col, op, val in where:
        key = phys_of.get(col, col)
        if col in part_cols:
            if key not in pv:
                continue  # partition value unknown: keep, sound
            got = pv[key]
            if got is None:
                # explicit null partition value: no comparison hint
                # (=, <, <=, >, >=) is ever true of SQL NULL — prune
                return False
            dtype = types_of.get(col)
            try:
                lo = hi = _typed_partition_value(got, dtype)
                if isinstance(val, str) and not isinstance(dtype, T.StringType):
                    val = _typed_partition_value(val, dtype)
            except (ValueError, TypeError, ArithmeticError):
                continue  # unparseable partition value: keep, sound
        else:
            lo, hi = mins.get(key), maxs.get(key)
        try:
            if op == "=" and lo is not None and hi is not None and not (lo <= val <= hi):
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
            continue  # incomparable stat type: keep, sound
    return True


def dv_frame(spark: SparkSession, path: str, files: dict) -> DataFrame | None:
    """Deletion-vector rows as ONE ``(__dv_file, __dv_pos)`` frame across
    the adds (or None if no add carries a DV) — the shared helper for the
    snapshot read AND the CoW DML scan, so both exclude DV-deleted rows
    through the same broadcast anti-join.  Positions decode
    EXECUTOR-side (r10, ADVICE-r9 #6): the driver ships only the raw
    roaring bitmap bytes (the compact form the log already stores —
    O(bitmap bytes), not O(cardinality) Python tuples) and a
    mapInPandas stage expands them to (file, pos) rows in parallel,
    validating each descriptor's cardinality where the decode runs.
    The expanded frame is broadcast by the consumers, the
    deleted-not-yet-compacted bound every Delta MoR reader pays."""
    descs: list[tuple[str, bytes, int | None]] = []
    for rel, add in files.items():
        dv = add.get("deletionVector")
        if dv:
            ap = os.path.abspath(os.path.join(path, rel))
            card = dv.get("cardinality")
            descs.append((ap, _dv_bitmap_bytes(path, dv),
                          None if card is None else int(card)))
    if not descs:
        return None

    def _expand(batches):
        import pandas as pd

        for pdf in batches:
            for f, b, card in zip(pdf["__dv_file"], pdf["__dv_bitmap"],
                                  pdf["__dv_card"]):
                positions = _roaring_array_positions(bytes(b))
                if card is not None and not pd.isna(card) \
                        and len(positions) != int(card):
                    raise ValueError(
                        f"deletion vector cardinality {len(positions)} "
                        f"!= {int(card)}"
                    )
                yield pd.DataFrame({
                    "__dv_file": f,
                    "__dv_pos": pd.array(positions, dtype="int64"),
                })

    desc_df = spark.createDataFrame(
        descs,
        T.StructType([
            T.StructField("__dv_file", T.StringType(), False),
            T.StructField("__dv_bitmap", T.BinaryType(), False),
            T.StructField("__dv_card", T.LongType(), True),
        ]),
    )
    return desc_df.repartition(min(len(descs), 32)).mapInPandas(
        _expand, "__dv_file string, __dv_pos long"
    )


def read_delta(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    timestamp_ms: int | None = None,
    where: list[tuple] | None = None,
) -> DataFrame:
    """Snapshot (or VERSION AS OF / TIMESTAMP AS OF) read of a Delta table
    without the delta-spark jar.  One parquet scan over the live files;
    partitioned tables re-inject partition columns via a broadcast
    file->values map joined on ``_metadata.file_path`` (partition pruning
    then happens in Catalyst exactly as for any dimension filter).
    ``where=[(col, op, val)]`` additionally skips files whose add-action
    stats (minValues/maxValues) or partitionValues prove no match — the
    log-level data skipping Delta clients perform; the returned frame is
    NOT filtered (callers apply their own predicate, which Catalyst pushes
    into the pruned scan)."""
    if version is not None and timestamp_ms is not None:
        raise ValueError("pass version= or timestamp_ms=, not both")
    if timestamp_ms is not None:
        version = _version_at_timestamp(path, timestamp_ms)
    files, meta, _, _ = _replay(path, version)
    logical = _schema(meta)
    part_cols = list(meta.get("partitionColumns") or [])
    mode = (meta.get("configuration") or {}).get("delta.columnMapping.mode", "none")

    by_logical = {f.name: f for f in logical.fields}
    # partitionValues and stats are keyed by PHYSICAL name in BOTH mapping
    # modes (PROTOCOL.md "Column Mapping": writers use physical names in
    # all file-level metadata)
    phys_of = {f.name: (_physical_name(f) if mode != "none" else f.name)
               for f in logical.fields}

    if where:
        types_of = {f.name: f.dataType for f in logical.fields}
        files = {
            rel: add
            for rel, add in files.items()
            if _stats_keep(add, where, part_cols, phys_of, types_of)
        }

    data_fields = [f for f in logical.fields if f.name not in part_cols]
    if mode == "id":
        # 'id' mapping resolves parquet columns by FIELD ID, not name:
        # the read schema keeps the LOGICAL names and rides the ids in
        # `parquet.field.id` metadata, which Spark's native parquet
        # field-id resolution (spark.sql.parquet.fieldId.read.enabled)
        # matches against the file footers — no rename needed, and a
        # file missing ids fails loudly instead of resolving by the
        # physical name the spec says to ignore
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
    if not files:
        return spark.createDataFrame([], T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in logical.fields]
        ))

    dv_df = dv_frame(spark, path, files)
    dv_rows = dv_df is not None

    paths = [os.path.join(path, f) for f in sorted(files)]
    if part_cols or dv_rows:
        df = spark.read.schema(read_schema).parquet(*paths).withColumn(
            # the map keys are plain absolute paths
            "__file",
            plain_file_path(),
        )
        if dv_rows:
            df = df.withColumn("__pos", F.col("_metadata.row_index"))
        extra = ["__file", *(["__pos"] if dv_rows else [])]
        if mode == "name":
            df = df.select(
                *extra,
                *[F.col(phys_of[f.name]).alias(f.name) for f in data_fields],
            )
        if dv_rows:
            df = df.join(
                F.broadcast(dv_df),
                (F.col("__file") == F.col("__dv_file"))
                & (F.col("__pos") == F.col("__dv_pos")),
                "left_anti",
            )
    else:
        df = spark.read.schema(read_schema).parquet(*paths)
        if mode == "name":
            # physical -> logical rename (column mapping 'name': files keep
            # the physical name forever; plan-time, zero movement)
            df = df.select(
                *[F.col(phys_of[f.name]).alias(f.name) for f in data_fields]
            )

    if part_cols:
        rows = []
        for rel, add in files.items():
            pv = add.get("partitionValues") or {}
            rows.append(
                (os.path.abspath(os.path.join(path, rel)),
                 *[pv.get(phys_of[c]) for c in part_cols])
            )
        map_schema = T.StructType(
            [T.StructField("__file", T.StringType(), False)]
            + [T.StructField(f"__pv_{c}", T.StringType(), True) for c in part_cols]
        )
        pv_df = spark.createDataFrame(rows, map_schema)
        df = df.join(F.broadcast(pv_df), "__file").select(
            *[f.name for f in data_fields],
            *[
                F.col(f"__pv_{c}").cast(by_logical[c].dataType).alias(c)
                for c in part_cols
            ],
        )
    return df.select(*[f.name for f in logical.fields])
