"""Pure-Python Apache Hudi COPY-ON-WRITE reader — the third open
lakehouse format, completing the interop trio with ``delta_reader`` and
``iceberg_reader`` (hudi.apache.org docs: timeline + file-group layout,
all public).

Hudi's model: data lives in FILE GROUPS (a stable ``fileId``); every
commit that touches a group writes a new FILE SLICE (a full base-file
rewrite under copy-on-write).  The timeline under ``.hoodie/`` records
completed commits as ``<instant>.commit`` JSON whose
``partitionToWriteStats`` lists the files each commit wrote.  A snapshot
at instant T is: for every file group, the newest slice written at an
instant <= T.

* ``read_hudi(spark, path, as_of_instant=None)`` — latest snapshot or
  time travel by instant (instants are ``yyyyMMddHHmmssSSS`` strings and
  order lexically); Hudi meta columns (``_hoodie_*``) are dropped by
  default (``keep_meta=True`` keeps them);
* ``hudi_timeline(path)`` — completed commits, newest first;
* ``replacecommit`` instants (clustering / insert_overwrite) are APPLIED:
  their ``partitionToReplaceFileIds`` kill all OLDER slices of the
  replaced file groups while the replacecommit's own new files stay
  visible — the timeline semantics hudi.apache.org documents; time
  travel to an instant before the replacement still sees the replaced
  groups.

MERGE_ON_READ tables are read too (round 9): each file slice = base
parquet + ordered HoodieLogFormat ``.log`` blocks; the merge (newest
record per ``_hoodie_record_key`` wins, delete blocks drop keys,
rollback command blocks invalidate their target instant's blocks) runs
SLICE-LOCALLY inside one Arrow-batched task per file slice — the same
no-shuffle shape as Hudi's own merge-on-read scan, where a record key
lives in exactly one file group so merging never needs cross-slice
traffic.  The HoodieLogFormat block layout (magic ``#HUDI#``, block
size, version, type ordinal, header map, content, footer map, trailing
total-size) follows the public Apache Hudi sources
(hudi-common .../table/log/HoodieLogFormatWriter.java: appendBlocks;
block/HoodieLogBlock.java: getLogMetadataBytes, HoodieLogBlockType and
HeaderMetadataType enums; HoodieAvroDataBlock.java / HoodieDeleteBlock
.java for content layouts).  Avro record payloads ride the repo's own
stdlib codec (avro_codec.py).

Fail-closed (the same rule the Delta/Iceberg readers apply): pending
compactions, unknown block-format versions, HFILE/PARQUET/CDC data
blocks, and kryo-era delete blocks raise instead of mis-reading.

Scale: the timeline is O(commits) small JSON files; only the live
file-slice LIST reaches the planner — the bound every Hudi client's file
index pays — CoW data is one parquet scan, MoR data is one task per file
slice with no shuffle.
"""

from __future__ import annotations

import json
import os
import re
import struct

from pyspark.sql import DataFrame, SparkSession

from kafka_connect_expand_json_transform_spark.sources import _files, _tablestream
from kafka_connect_expand_json_transform_spark.sources._commit import publish

_COMMIT_RE = re.compile(r"^(\d+)\.(commit|deltacommit|replacecommit)$")
_PENDING_COMPACTION_RE = re.compile(
    r"^\d+\.compaction(\.requested|\.inflight)?$"
)


class HudiUnsupported(RuntimeError):
    """The table requires reader capabilities this implementation lacks."""


def _hoodie_dir(path: str) -> str:
    return os.path.join(path, ".hoodie")


def _properties(path: str) -> dict:
    p = os.path.join(_hoodie_dir(path), "hoodie.properties")
    if not os.path.exists(p):
        raise FileNotFoundError(f"no Hudi table at {path} (missing {p})")
    props = {}
    with open(p, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            k, _, v = line.partition("=")
            props[k.strip()] = v.strip()
    return props


def hudi_timeline(path: str) -> list[dict]:
    """Completed commit + replacecommit instants, newest first (the
    time-travel index).  Each entry carries ``kind`` ('commit' or
    'replacecommit')."""
    d = _hoodie_dir(path)
    out = []
    for name in os.listdir(d):
        m = _COMMIT_RE.match(name)
        # a zero-length instant is a writer's in-flight claim
        # (``_commit.publish``), never a completed commit
        if m and os.path.getsize(os.path.join(d, name)):
            out.append({"instant": m.group(1), "kind": m.group(2),
                        "path": os.path.join(d, name)})
    return sorted(out, key=lambda c: c["instant"], reverse=True)


def _load_instant(path: str) -> dict:
    """Parse a completed instant's JSON (``hudi_timeline`` lists only
    those)."""
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def _publish_instant(root: str, instant: str, action: str,
                     stats: list[dict], placed) -> None:
    """Publish the completed ``<instant>.<action>`` listing ``stats``;
    when a racing writer won the instant, this attempt's ``placed`` files
    are unlinked and ``HudiCommitConflict`` raised."""
    publish(
        os.path.join(_hoodie_dir(root), f"{instant}.{action}"),
        json.dumps({"partitionToWriteStats": {"p": stats}}).encode(),
        HudiCommitConflict(f"instant {instant} already committed"),
        [os.path.join(root, rel) for rel in placed],
    )


def _replaced_ids(meta: dict) -> set[str]:
    out: set[str] = set()
    for ids in (meta.get("partitionToReplaceFileIds") or {}).values():
        out.update(ids)
    return out


def _live_slices(path: str, as_of_instant: str | None) -> list[str]:
    commits = hudi_timeline(path)  # newest first
    if as_of_instant is not None:
        eligible = [c for c in commits if c["instant"] <= str(as_of_instant)]
        if not eligible:
            raise ValueError(
                f"instant {as_of_instant} predates the first commit"
            )
        commits = eligible
    latest: dict[str, tuple[str, str]] = {}  # fileId -> (instant, rel path)
    replaced: set[str] = set()
    for c in commits:  # newest first: first writer of a fileId wins
        meta = _load_instant(c["path"])
        for stats in (meta.get("partitionToWriteStats") or {}).values():
            for st in stats:
                fid = st["fileId"]
                if fid not in latest and fid not in replaced:
                    latest[fid] = (c["instant"], st["path"])
        # AFTER this instant's own writes: a replacecommit kills all OLDER
        # slices of the replaced groups (clustering/insert_overwrite), so
        # the suppression applies only to commits we have not walked yet
        replaced.update(_replaced_ids(meta))
    return sorted(os.path.join(path, rel) for _, rel in latest.values())


def read_hudi_incremental(
    spark: SparkSession,
    path: str,
    begin_instant: str,
    end_instant: str | None = None,
    keep_meta: bool = False,
) -> DataFrame:
    """Hudi's INCREMENTAL query mode without the bundle (the public
    ``hoodie.datasource.query.type=incremental`` semantics): rows WRITTEN
    by commits in ``(begin_instant, end_instant]``.  CoW slices contain
    carried rows beside the new ones, so the slice read is filtered on
    ``_hoodie_commit_time`` — exactly what the native incremental relation
    does.  Reads only the file groups the range's commits touched.
    MERGE_ON_READ tables (r9): the slice merge runs at the range end over
    the touched file groups only, then filters merged rows to
    ``_hoodie_commit_time`` in range — the newest in-range version of
    each changed record, Hudi's incremental contract (in-range deletes
    simply drop out of the merge, as in the native relation)."""
    from pyspark.sql import functions as F

    props = _properties(path)
    ttype = props.get("hoodie.table.type", "COPY_ON_WRITE")
    if ttype == "MERGE_ON_READ":
        commits = hudi_timeline(path)
        end = end_instant or (commits[0]["instant"] if commits else "")
        touched: set[str] = set()
        for c in commits:
            if str(begin_instant) < c["instant"] <= str(end):
                meta = _load_instant(c["path"])
                for stats in (
                    meta.get("partitionToWriteStats") or {}
                ).values():
                    touched.update(st["fileId"] for st in stats)
        if not touched:
            raise ValueError(
                f"no commits in ({begin_instant}, {end}] touched any "
                "file group"
            )
        merged = _read_hudi_mor(spark, path, str(end), keep_meta=True,
                                only_fids=touched)
        out = merged.where(
            (F.col("_hoodie_commit_time") > str(begin_instant))
            & (F.col("_hoodie_commit_time") <= str(end))
        )
        if not keep_meta:
            out = out.drop(*[c for c in out.columns
                             if c.startswith("_hoodie_")])
        return out
    commits = hudi_timeline(path)  # newest first
    end = end_instant or (commits[0]["instant"] if commits else "")
    in_range = [c for c in commits
                if str(begin_instant) < c["instant"] <= str(end)]
    touched: set[str] = set()
    for c in in_range:
        meta = _load_instant(c["path"])
        for stats in (meta.get("partitionToWriteStats") or {}).values():
            touched.update(st["fileId"] for st in stats)
    if not touched:
        raise ValueError(
            f"no commits in ({begin_instant}, {end}] touched any file group"
        )
    # newest slice per touched file group, as of the range end (same
    # replacement suppression as the snapshot walk)
    latest: dict[str, str] = {}
    replaced: set[str] = set()
    for c in [c for c in commits if c["instant"] <= str(end)]:
        meta = _load_instant(c["path"])
        for stats in (meta.get("partitionToWriteStats") or {}).values():
            for st in stats:
                fid = st["fileId"]
                if fid in touched and fid not in latest and fid not in replaced:
                    latest[fid] = st["path"]
        replaced.update(_replaced_ids(meta))
    df = spark.read.parquet(
        *sorted(os.path.join(path, rel) for rel in latest.values())
    ).where(
        (F.col("_hoodie_commit_time") > str(begin_instant))
        & (F.col("_hoodie_commit_time") <= str(end))
    )
    if not keep_meta:
        df = df.drop(*[c for c in df.columns if c.startswith("_hoodie_")])
    return df


def read_hudi(
    spark: SparkSession,
    path: str,
    as_of_instant: str | None = None,
    keep_meta: bool = False,
) -> DataFrame:
    """Snapshot (or time-travel) read of a Hudi table without the
    hudi-spark bundle: timeline walk -> newest file slice per file group
    -> one parquet scan (COPY_ON_WRITE) or one merge task per slice
    (MERGE_ON_READ).  ``_hoodie_*`` meta columns are dropped unless
    ``keep_meta``."""
    props = _properties(path)
    ttype = props.get("hoodie.table.type", "COPY_ON_WRITE")
    if ttype == "MERGE_ON_READ":
        return _read_hudi_mor(spark, path, as_of_instant, keep_meta)
    if ttype != "COPY_ON_WRITE":
        raise HudiUnsupported(f"unknown hoodie.table.type {ttype!r}")
    files = _live_slices(path, as_of_instant)
    if not files:
        raise ValueError(f"no completed commits in {path}")
    df = spark.read.parquet(*files)
    if not keep_meta:
        df = df.drop(*[c for c in df.columns if c.startswith("_hoodie_")])
    return df


# ---------------------------------------------------------------------------
# MERGE_ON_READ: HoodieLogFormat codec + slice-local merge
# ---------------------------------------------------------------------------

_LOG_MAGIC = b"#HUDI#"
_LOG_FORMAT_VERSION = 1
# HoodieLogBlockType ordinals (hudi-common block/HoodieLogBlock.java)
_BLK_COMMAND, _BLK_DELETE, _BLK_CORRUPT, _BLK_AVRO = 0, 1, 2, 3
_BLK_HFILE, _BLK_PARQUET, _BLK_CDC = 4, 5, 6
# HeaderMetadataType ordinals (same file)
_HDR_INSTANT_TIME, _HDR_TARGET_INSTANT, _HDR_SCHEMA, _HDR_COMMAND_TYPE = (
    0, 1, 2, 3,
)
_AVRO_BLOCK_VERSION = 3   # HoodieAvroDataBlock current content version
_DELETE_BLOCK_VERSION = 3  # Avro-era HoodieDeleteBlock (kryo-era refused)

#: HoodieDeleteRecordList.avsc (hudi-common avro schema, public)
_DELETE_LIST_SCHEMA = {
    "type": "record", "name": "HoodieDeleteRecordList",
    "fields": [{"name": "deleteRecordList", "type": {
        "type": "array", "items": {
            "type": "record", "name": "HoodieDeleteRecord",
            "fields": [
                {"name": "recordKey", "type": ["null", "string"]},
                {"name": "partitionPath", "type": ["null", "string"]},
                {"name": "orderingVal", "type": ["null", "long"]},
            ]}}}],
}


def _meta_map_bytes(entries: dict[int, str]) -> bytes:
    """HoodieLogBlock.getLogMetadataBytes: int count, then per entry
    int ordinal + int length + utf8 bytes (Java DataOutputStream, BE)."""
    out = bytearray(struct.pack(">i", len(entries)))
    for k in sorted(entries):
        raw = entries[k].encode("utf-8")
        out += struct.pack(">ii", k, len(raw))
        out += raw
    return bytes(out)


def _read_meta_map(buf: memoryview, pos: int) -> tuple[dict[int, str], int]:
    (count,) = struct.unpack_from(">i", buf, pos)
    pos += 4
    out: dict[int, str] = {}
    for _ in range(count):
        k, n = struct.unpack_from(">ii", buf, pos)
        pos += 8
        out[k] = bytes(buf[pos:pos + n]).decode("utf-8")
        pos += n
    return out, pos


def write_hudi_log_file(path: str, blocks: list[dict]) -> None:
    """Append HoodieLogFormat blocks to ``path`` (fixture/export writer;
    layout per HoodieLogFormatWriter.appendBlocks).  Each block dict:

    * ``{"type": "avro", "instant": t, "schema": <avro json>,
       "records": [dict, ...]}``  — data block;
    * ``{"type": "delete", "instant": t, "keys": [str, ...]}`` — delete;
    * ``{"type": "rollback", "instant": t, "target_instant": t0}`` —
      command block invalidating t0's earlier blocks.
    """
    from kafka_connect_expand_json_transform_spark.sources.avro_codec import (
        collect_named,
        encode_value,
    )

    with open(path, "ab") as fh:
        for b in blocks:
            header = {_HDR_INSTANT_TIME: str(b["instant"])}
            if b["type"] == "avro":
                schema = b["schema"]
                named: dict = {}
                collect_named(schema, named)
                header[_HDR_SCHEMA] = json.dumps(schema)
                body = bytearray(struct.pack(
                    ">ii", _AVRO_BLOCK_VERSION, len(b["records"])
                ))
                for rec in b["records"]:
                    rb = bytearray()
                    encode_value(rb, schema, rec, named)
                    body += struct.pack(">i", len(rb))
                    body += rb
                btype, content = _BLK_AVRO, bytes(body)
            elif b["type"] == "delete":
                named = {}
                collect_named(_DELETE_LIST_SCHEMA, named)
                rb = bytearray()
                encode_value(rb, _DELETE_LIST_SCHEMA, {
                    "deleteRecordList": [
                        {"recordKey": k, "partitionPath": b.get(
                            "partition_path", ""), "orderingVal": None}
                        for k in b["keys"]
                    ]}, named)
                body = struct.pack(
                    ">ii", _DELETE_BLOCK_VERSION, len(rb)
                ) + bytes(rb)
                btype, content = _BLK_DELETE, body
            elif b["type"] == "rollback":
                header[_HDR_TARGET_INSTANT] = str(b["target_instant"])
                header[_HDR_COMMAND_TYPE] = "0"  # ROLLBACK_BLOCK ordinal
                btype, content = _BLK_COMMAND, b""
            else:
                raise ValueError(f"unknown log block type {b['type']!r}")
            hdr = _meta_map_bytes(header)
            ftr = _meta_map_bytes({})
            # bytes after the size field through the trailing total-size
            inner = (4 + 4 + len(hdr) + 8 + len(content) + len(ftr) + 8)
            out = bytearray(_LOG_MAGIC)
            out += struct.pack(">q", inner)
            out += struct.pack(">ii", _LOG_FORMAT_VERSION, btype)
            out += hdr
            out += struct.pack(">q", len(content))
            out += content
            out += ftr
            out += struct.pack(">q", len(_LOG_MAGIC) + 8 + inner)
            fh.write(out)


def _iter_log_blocks(path: str):
    """Yield ``(block_type, header, content bytes)`` from a HoodieLogFormat
    file; malformed framing fails closed (a real scanner marks CORRUPT
    blocks, but silently skipping deltas would return wrong rows)."""
    with open(path, "rb") as fh:
        data = memoryview(fh.read())
    pos = 0
    while pos < len(data):
        if bytes(data[pos:pos + 6]) != _LOG_MAGIC:
            raise HudiUnsupported(
                f"bad log block magic at offset {pos} in {path}"
            )
        (inner,) = struct.unpack_from(">q", data, pos + 6)
        block_end = pos + 6 + 8 + inner
        if block_end > len(data):
            raise HudiUnsupported(f"truncated log block in {path}")
        p = pos + 14
        ver, btype = struct.unpack_from(">ii", data, p)
        p += 8
        if ver != _LOG_FORMAT_VERSION:
            raise HudiUnsupported(f"log format version {ver} unsupported")
        header, p = _read_meta_map(data, p)
        (clen,) = struct.unpack_from(">q", data, p)
        p += 8
        content = bytes(data[p:p + clen])
        p += clen
        _footer, p = _read_meta_map(data, p)
        (total,) = struct.unpack_from(">q", data, p)
        if total != 6 + 8 + inner:
            raise HudiUnsupported(
                f"log block length mismatch at offset {pos} in {path}"
            )
        yield btype, header, content
        pos = block_end


def _decode_log_records(log_paths: list[str], valid_instants: set[str]):
    """Decode a slice's log files into ``(instant, seq, is_delete, record
    dict)`` tuples in block order.  Blocks whose INSTANT_TIME is not a
    completed instant are skipped (uncommitted writes — the scanner
    contract); rollback command blocks invalidate their target instant's
    blocks slice-wide (HoodieMergedLogRecordScanner semantics)."""
    from kafka_connect_expand_json_transform_spark.sources.avro_codec import (
        Decoder,
        collect_named,
        decode_value,
    )

    parsed = []  # (btype, header, content) across files, in order
    rolled_back: set[str] = set()
    for lp in log_paths:
        for btype, header, content in _iter_log_blocks(lp):
            if btype == _BLK_COMMAND:
                if header.get(_HDR_COMMAND_TYPE) == "0":
                    tgt = header.get(_HDR_TARGET_INSTANT)
                    if tgt:
                        rolled_back.add(tgt)
                continue
            parsed.append((btype, header, content))
    out = []
    seq = 0
    for btype, header, content in parsed:
        instant = header.get(_HDR_INSTANT_TIME, "")
        if instant in rolled_back or instant not in valid_instants:
            continue
        if btype == _BLK_AVRO:
            ver, n = struct.unpack_from(">ii", content, 0)
            if ver != _AVRO_BLOCK_VERSION:
                raise HudiUnsupported(
                    f"avro data block content version {ver} unsupported"
                )
            schema = json.loads(header[_HDR_SCHEMA])
            named: dict = {}
            collect_named(schema, named)
            p = 8
            for _ in range(n):
                (rlen,) = struct.unpack_from(">i", content, p)
                p += 4
                rec = decode_value(
                    Decoder(memoryview(content)[p:p + rlen]), schema, named
                )
                p += rlen
                out.append((instant, seq, False, rec))
                seq += 1
        elif btype == _BLK_DELETE:
            ver, rlen = struct.unpack_from(">ii", content, 0)
            if ver != _DELETE_BLOCK_VERSION:
                raise HudiUnsupported(
                    f"delete block content version {ver} unsupported "
                    "(kryo-era delete blocks cannot be decoded)"
                )
            named = {}
            collect_named(_DELETE_LIST_SCHEMA, named)
            lst = decode_value(
                Decoder(memoryview(content)[8:8 + rlen]),
                _DELETE_LIST_SCHEMA, named,
            )
            for dr in lst["deleteRecordList"]:
                out.append((instant, seq, True,
                            {"_hoodie_record_key": dr["recordKey"]}))
                seq += 1
        else:
            raise HudiUnsupported(
                f"log block type ordinal {btype} unsupported (hfile/"
                "parquet/cdc data blocks)"
            )
    return out


def _mor_slices(path: str, as_of_instant: str | None) -> list[dict]:
    """Newest file slice per file group: base parquet (if any) + that
    slice's log files in version order.  Metadata-only (timeline JSON +
    writeStats), never opens data files."""
    commits = hudi_timeline(path)  # newest first
    if as_of_instant is not None:
        commits = [c for c in commits if c["instant"] <= str(as_of_instant)]
        if not commits:
            raise ValueError(
                f"instant {as_of_instant} predates the first commit"
            )
    base: dict[str, tuple[str, str]] = {}   # fileId -> (instant, rel)
    logs: dict[str, set[str]] = {}          # fileId -> {rel}
    replaced: set[str] = set()
    for c in commits:
        meta = _load_instant(c["path"])
        for stats in (meta.get("partitionToWriteStats") or {}).values():
            for st in stats:
                fid = st["fileId"]
                if fid in replaced:
                    continue
                rel = st["path"]
                if rel.endswith(".parquet"):
                    if fid not in base:
                        base[fid] = (c["instant"], rel)
                else:
                    logs.setdefault(fid, set()).add(rel)
        replaced.update(_replaced_ids(meta))
    slices = []
    for fid in sorted(set(base) | set(logs)):
        b = base.get(fid)
        slice_logs = []
        for rel in logs.get(fid, ()):
            # log name: .{fileId}_{baseInstant}.log.{version}_{token}
            # (public file-layout docs); a log belongs to the CURRENT
            # slice iff its embedded base instant matches the live base
            name = os.path.basename(rel)
            m = re.match(
                re.escape(f".{fid}_") + r"(\d+)\.log\.(\d+)", name
            )
            if not m:
                raise HudiUnsupported(f"unparseable log file name {name!r}")
            b_instant, ver = m.group(1), int(m.group(2))
            if b is None or b_instant == b[0]:
                slice_logs.append((ver, rel))
        slices.append({
            "file_id": fid,
            "base": None if b is None else b[1],
            "logs": [rel for _v, rel in sorted(slice_logs)],
        })
    return slices


def _merge_slice_pdf(table_root, base_rel, log_rels, valid_instants):
    """Merge ONE file slice (base parquet + ordered log blocks) to a
    pandas frame: newest record per ``_hoodie_record_key`` wins, delete
    blocks drop keys.  Plain Python — runs inside a mapInPandas task or
    a Python DataSource stream worker alike.  Returns None when the
    slice merges to nothing."""
    import pandas as pd
    import pyarrow.parquet as pq

    frames = []
    if base_rel is not None:
        b = pq.read_table(
            os.path.join(table_root, base_rel)
        ).to_pandas()
        b["__instant"] = b["_hoodie_commit_time"].astype(str)
        b["__seq"] = -1
        b["__del"] = False
        frames.append(b)
    recs = _decode_log_records(
        [os.path.join(table_root, rel) for rel in log_rels],
        valid_instants,
    )
    if recs:
        rows = []
        for instant, seq, is_del, rec in recs:
            r = dict(rec)
            r["__instant"] = instant
            r["__seq"] = seq
            r["__del"] = is_del
            rows.append(r)
        frames.append(pd.DataFrame(rows))
    if not frames:
        return None
    merged = pd.concat(frames, ignore_index=True)
    if merged["_hoodie_record_key"].isna().any():
        raise HudiUnsupported("log record without _hoodie_record_key")
    merged = merged.sort_values(
        ["__instant", "__seq"], kind="stable"
    ).drop_duplicates("_hoodie_record_key", keep="last")
    merged = merged[~merged["__del"]]
    return merged.drop(columns=["__instant", "__seq", "__del"])


def _read_hudi_mor(
    spark: SparkSession,
    path: str,
    as_of_instant: str | None,
    keep_meta: bool,
    only_fids: set[str] | None = None,
) -> DataFrame:
    """MERGE_ON_READ snapshot: one Arrow-batched merge task per file
    slice (base parquet + ordered log blocks), newest record per
    ``_hoodie_record_key`` wins, delete blocks drop keys.  No shuffle: a
    record key lives in exactly one file group, so the merge is
    slice-local — the same plan shape as Hudi's own MoR scan RDD."""
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    for name in os.listdir(_hoodie_dir(path)):
        if _PENDING_COMPACTION_RE.match(name):
            raise HudiUnsupported(
                f"pending compaction {name}: file slices are mid-rewrite; "
                "read after the compaction commits"
            )
    commits = hudi_timeline(path)
    if as_of_instant is not None:
        commits = [c for c in commits if c["instant"] <= str(as_of_instant)]
    if not commits:
        raise ValueError(f"no completed commits in {path}")
    valid_instants = {c["instant"] for c in commits}
    slices = _mor_slices(path, as_of_instant)
    schema_donor = [s["base"] for s in slices if s["base"]]
    if only_fids is not None:
        slices = [s for s in slices if s["file_id"] in only_fids]
    base_paths = [s["base"] for s in slices if s["base"]] or schema_donor
    if not base_paths:
        raise HudiUnsupported(
            "table has no base files — schema discovery needs at least one "
            "parquet slice"
        )
    # one footer read resolves the table schema (Spark's own parquet
    # type mapping, so the merge output matches a plain CoW read)
    schema = spark.read.parquet(os.path.join(path, base_paths[0])).schema
    if "_hoodie_record_key" not in schema.names:
        raise HudiUnsupported(
            "base files lack _hoodie_record_key (virtual-key tables are "
            "not supported: log records cannot be matched to base rows)"
        )
    out_fields = [f for f in schema.fields
                  if keep_meta or not f.name.startswith("_hoodie_")]
    out_schema = T.StructType(out_fields)
    table_root = os.path.abspath(path)

    plan = spark.createDataFrame(
        [(s["base"], s["logs"]) for s in slices],
        T.StructType([
            T.StructField("base", T.StringType(), True),
            T.StructField("logs", T.ArrayType(T.StringType()), False),
        ]),
    ).repartition(max(len(slices), 1))

    out_names = [f.name for f in out_fields]
    np_dtype = {
        "bigint": "int64", "int": "int32", "double": "float64",
        "float": "float32", "boolean": "bool",
    }
    col_dtypes = [(f.name, np_dtype.get(f.dataType.simpleString()))
                  for f in out_fields]

    def merge_slices(batches):
        import pandas as pd

        for pdf in batches:
            for base_rel, log_rels in zip(pdf["base"], pdf["logs"]):
                merged = _merge_slice_pdf(
                    table_root, base_rel, list(log_rels), valid_instants
                )
                if merged is None:
                    continue
                out = pd.DataFrame(index=merged.index)
                for name, dt in col_dtypes:
                    col = merged[name] if name in merged else pd.Series(
                        [None] * len(merged), index=merged.index
                    )
                    out[name] = col.astype(dt) if dt else col
                yield out[out_names]

    return plan.mapInPandas(merge_slices, out_schema)


def _slice_commit_rows(task):
    """A merge-on-read stream task's rows: the slice merged at the task's
    instant (the batch reader's slice-local merge), keeping the rows that
    instant wrote — deletes drop out, the incremental contract.  The
    task's paths are absolute."""
    import pyarrow as pa

    pdf = _merge_slice_pdf("", task.path, list(task.logs), set(task.instants))
    if pdf is None:
        return None
    pdf = pdf[pdf["_hoodie_commit_time"].astype(str) == task.commit_time]
    pdf = pdf[[n for n in pdf.columns if not n.startswith("_hoodie_")]]
    return pa.Table.from_pandas(pdf, preserve_index=False)


class _HudiStream(_tablestream.TableStream):
    """``hudistream``: STREAM a Hudi table's committed instants without
    the hudi-spark bundle.  Offsets are the LAST-STREAMED INSTANT
    (``{"instant": s}``; instants are lexically-ordered
    ``yyyyMMddHHmmssSSS`` strings — the same monotone key Hudi's own
    incremental relation pages on); a checkpointed instant that is no
    longer on the timeline (archived) fails closed.  Each micro-batch is
    the rows WRITTEN by the new commits: a CoW update rewrites a whole
    slice with carried rows beside the new ones, so every file task keeps
    only ``_hoodie_commit_time == instant`` — the incremental-query
    contract.  ``replacecommit`` instants (clustering/insert_overwrite)
    abort unless ``ignoreChanges=true`` (their rows then stream under the
    same commit-time filter, so a pure clustering contributes nothing —
    rewritten records keep their original commit time).  MERGE_ON_READ
    tables plan one task per file slice a commit touched, merged at that
    instant (``_slice_commit_rows``); a pending compaction refuses."""

    name = "hudistream"

    def __init__(self, options, schema=None):
        super().__init__(options, schema)
        self.ignore_changes = self.flag("ignoreChanges")
        self.table_type = _properties(self.root).get(
            "hoodie.table.type", "COPY_ON_WRITE"
        )

    @classmethod
    def read_schema(cls, options):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        root = options["path"]
        props = _properties(root)
        if props.get("hoodie.table.type", "COPY_ON_WRITE") == "MERGE_ON_READ":
            # schema discovery needs at least one base parquet slice
            # (same rule as the batch merge reader)
            bases = [sl["base"] for sl in _mor_slices(root, None) if sl["base"]]
            if not bases:
                raise HudiUnsupported(
                    "table has no base files — schema discovery "
                    "needs at least one parquet slice"
                )
            sch = pq.read_schema(os.path.join(root, bases[0]))
        else:
            files = _live_slices(root, None)
            if not files:
                raise ValueError(f"no completed commits in {root}")
            sch = pq.read_schema(files[0])
        sch = pa.schema([f for f in sch if not f.name.startswith("_hoodie_")])
        return from_arrow_schema(sch)

    def initial_offset(self) -> dict:
        return {"instant": ""}

    def latest_offset(self) -> dict:
        commits = hudi_timeline(self.root)  # newest first
        return {"instant": commits[0]["instant"] if commits else ""}

    def changes(self, start: dict, end: dict) -> list:
        lo, hi = start.get("instant", ""), end.get("instant", "")
        if not hi:
            return []
        commits = sorted(hudi_timeline(self.root), key=lambda c: c["instant"])
        if lo and lo not in {c["instant"] for c in commits}:
            raise ValueError(
                f"checkpointed instant {lo} is no longer "
                "on the timeline (archived?); exactly-once resume is "
                "impossible — restart from a fresh checkpoint"
            )
        pending = [n for n in os.listdir(_hoodie_dir(self.root))
                   if _PENDING_COMPACTION_RE.match(n)]
        root = os.path.abspath(self.root)
        tasks = []
        for c in commits:
            if not (lo < c["instant"] <= hi):
                continue
            meta = _load_instant(c["path"])
            if not meta:
                continue  # in-flight: nothing committed
            if c["kind"] == "replacecommit" and not self.ignore_changes:
                raise ValueError(
                    f"instant {c['instant']} is a replacecommit "
                    "(clustering/insert_overwrite); set "
                    "ignoreChanges=true to stream its commit-time "
                    "rows, or start after it"
                )
            written = [st for stats in (meta.get("partitionToWriteStats")
                                        or {}).values() for st in stats]
            if self.table_type != "MERGE_ON_READ":
                tasks += [
                    _tablestream.FileTask(os.path.join(root, rel),
                                          commit_time=c["instant"])
                    for rel in sorted({st["path"] for st in written})
                ]
                continue
            if pending:
                raise HudiUnsupported(
                    f"pending compaction {pending[0]}: slices are "
                    "mid-rewrite; stream after it commits"
                )
            touched = {st["fileId"] for st in written}
            valid = tuple(x["instant"] for x in commits
                          if x["instant"] <= c["instant"])
            tasks += [
                _tablestream.FileTask(
                    sl["base"] and os.path.join(root, sl["base"]),
                    commit_time=c["instant"],
                    logs=tuple(os.path.join(root, r) for r in sl["logs"]),
                    instants=valid,
                )
                for sl in _mor_slices(self.root, c["instant"])
                if sl["file_id"] in touched
            ]
        return tasks


def register_hudi_stream_source(spark: SparkSession) -> None:
    """Register ``hudistream`` (``_HudiStream``), completing the
    streaming triangle with ``deltastream`` and ``icebergstream``.
    Usage::

        register_hudi_stream_source(spark)
        spark.readStream.format("hudistream").option("path", root).load()
    """
    _tablestream.register(spark, _HudiStream)


class HudiCommitConflict(RuntimeError):
    """A concurrent writer claimed this instant first; retry."""


def _stage_file_groups(
    df: DataFrame, root: str, nonce: int, instant: str
) -> tuple[list[str], list[dict]]:
    """Stage ``df`` as NEW file groups of the ``p`` partition, one per
    non-empty task output, base files named for ``instant``; returns
    ``(placed_rel_paths, write_stats)``.  Shared by the appends and the
    insert side of both upserts."""
    parts = _files.stage(df, root, lambda i, _p: (
        f"p/w{nonce}-{i}_0-0-0_{instant}.parquet"
    ))
    return [p.path for p in parts], [
        {"fileId": f"w{nonce}-{p.index}", "path": p.path,
         "numWrites": p.rows}
        for p in parts
    ]


def hudi_append(
    df: DataFrame,
    root: str,
    record_key: str,
    instant: str | None = None,
) -> str:
    """Append ``df`` as the next COPY_ON_WRITE commit of the Hudi table
    at ``root`` (creating ``.hoodie/hoodie.properties`` on first write);
    returns the committed instant.  The produce direction for the third
    open format, mirroring ``delta_append``/``iceberg_append`` at the
    public timeline/file-group layer: each append writes NEW file groups
    (append-only — updates/merges are the native engine's job), rows
    carry ``_hoodie_commit_time`` and ``_hoodie_record_key`` (from
    ``record_key``), the completed-commit JSON lists the files in
    ``partitionToWriteStats``, and the ``<instant>.commit`` file is
    published through ``_commit.publish`` — a racing writer loses
    cleanly and its attempt-unique data files are unlinked.  Instants are
    ``yyyyMMddHHmmssSSS`` and must be lexically increasing; an older or
    equal instant refuses.  Scale: one parquet write per batch plus one
    O(written files) commit JSON — the timeline bound every Hudi writer
    pays."""
    import time as _time

    from pyspark.sql import functions as F

    props_path = os.path.join(_hoodie_dir(root), "hoodie.properties")
    if os.path.exists(props_path):
        props = _properties(root)
        if props.get("hoodie.table.type", "COPY_ON_WRITE") \
                != "COPY_ON_WRITE":
            raise HudiUnsupported("hudi_append is CoW-only")
    else:
        os.makedirs(_hoodie_dir(root), exist_ok=True)
        with open(props_path, "w") as fh:
            fh.write(
                f"hoodie.table.name={os.path.basename(os.path.abspath(root))}\n"
                "hoodie.table.type=COPY_ON_WRITE\n"
            )
    commits = hudi_timeline(root)  # newest first
    head = commits[0]["instant"] if commits else ""
    if instant is None:
        instant = _time.strftime("%Y%m%d%H%M%S") + f"{_time.time_ns() % 1000:03d}"
        while instant <= head:  # same-millisecond successor: bump
            instant = str(int(instant) + 1)
    elif str(instant) <= head:
        raise ValueError(
            f"instant {instant} is not after the head {head} (the "
            "timeline is lexically ordered)"
        )
    instant = str(instant)
    if record_key not in df.columns:
        raise ValueError(f"record_key column {record_key!r} not in schema")

    nonce = _time.time_ns()
    placed, stats = _stage_file_groups(df.select(
        F.lit(instant).alias("_hoodie_commit_time"),
        F.col(record_key).cast("string").alias("_hoodie_record_key"),
        *df.columns,
    ), root, nonce, instant)

    _publish_instant(root, instant, "commit", stats, placed)
    return instant


def hudi_upsert(
    df: DataFrame,
    root: str,
    record_key: str,
    instant: str | None = None,
) -> str:
    """UPSERT ``df`` into the COPY_ON_WRITE Hudi table at ``root`` —
    the ``hoodie.datasource.write.operation=upsert`` semantics at the
    public timeline/file-group layer (hudi.apache.org "Write
    Operations"): rows whose ``record_key`` already exists REWRITE the
    newest slice of their file group at the new instant (carried rows
    keep their original ``_hoodie_commit_time``; updated rows get the
    new one — exactly what makes incremental queries see only the
    changed rows), and rows with unseen keys land in NEW file groups as
    inserts.  Returns the committed instant; the ``<instant>.commit``
    file is published like ``hudi_append``.

    Scale: the shuffle is keyed on the 16-byte record key + file-group
    id, never whole documents twice; each touched file group is
    rewritten exactly once (``repartition`` on the group id keeps one
    output file per slice), and untouched groups are never read — the
    same bound Hudi's own CoW upsert pays.  Duplicate keys within one
    batch refuse (Hudi resolves them with a precombine field; callers
    precombine upstream)."""
    import time as _time

    from pyspark.sql import functions as F

    props_path = os.path.join(_hoodie_dir(root), "hoodie.properties")
    if not os.path.exists(props_path):
        return hudi_append(df, root, record_key, instant)
    props = _properties(root)
    if props.get("hoodie.table.type", "COPY_ON_WRITE") != "COPY_ON_WRITE":
        raise HudiUnsupported("hudi_upsert is CoW-only")
    if record_key not in df.columns:
        raise ValueError(f"record_key column {record_key!r} not in schema")
    commits = hudi_timeline(root)
    if not commits:  # empty table: every row is an insert
        return hudi_append(df, root, record_key, instant)
    head = commits[0]["instant"] if commits else ""
    if instant is None:
        instant = (_time.strftime("%Y%m%d%H%M%S")
                   + f"{_time.time_ns() % 1000:03d}")
        while instant <= head:
            instant = str(int(instant) + 1)
    elif str(instant) <= head:
        raise ValueError(
            f"instant {instant} is not after the head {head} (the "
            "timeline is lexically ordered)"
        )
    instant = str(instant)

    spark = df.sparkSession
    files = _live_slices(root, None)
    # abs path -> fileId (planner-side: O(file groups), same as the
    # timeline walk every Hudi client performs)
    fid_of = {}
    latest: dict[str, tuple[str, str]] = {}
    replaced: set[str] = set()
    for c in commits:
        meta = _load_instant(c["path"])
        for stats in (meta.get("partitionToWriteStats") or {}).values():
            for st in stats:
                fid = st["fileId"]
                if fid not in latest and fid not in replaced:
                    latest[fid] = (c["instant"], st["path"])
        replaced.update(_replaced_ids(meta))
    for fid, (_, rel) in latest.items():
        fid_of[os.path.abspath(os.path.join(root, rel))] = fid

    existing = spark.read.parquet(*files)
    data_cols = [c for c in existing.columns if not c.startswith("_hoodie_")]
    if [(f.name, f.dataType.simpleString())
            for f in df.schema.fields] != \
       [(f.name, f.dataType.simpleString())
            for f in existing.select(*data_cols).schema.fields]:
        raise ValueError(
            f"upsert schema {df.schema.simpleString()} != table schema"
        )

    # lazy checkpoint: the dup-key aggregate is the materializing action —
    # count + distinct-count ride ONE job instead of three (NULL keys count
    # as one group, matching the old distinct().count() acceptance)
    batch = df.localCheckpoint(eager=False)
    n_rows, n_distinct, n_nulls = batch.agg(
        F.count("*"),
        F.count_distinct(F.col(record_key)),
        F.count(F.when(F.col(record_key).isNull(), 1)),
    ).collect()[0]
    n_keys = n_distinct + (1 if n_nulls else 0)
    if n_keys != n_rows:
        raise ValueError(
            f"batch has duplicate record keys ({n_rows} rows, {n_keys} "
            "keys): precombine upstream"
        )
    keyed = batch.withColumn(
        "_hoodie_record_key", F.col(record_key).cast("string")
    )

    # map each existing row to its file group via the scanned file name
    fid_map_expr = F.create_map(*[
        x for p, fid in sorted(fid_of.items())
        for x in (F.lit(p), F.lit(fid))
    ])
    ex = existing.withColumn("_fid", fid_map_expr[_files.plain_file_path()])

    # file groups touched by this batch: semi-join on the record key
    touched_rows = (
        ex.select("_fid", "_hoodie_record_key")
        .join(keyed.select("_hoodie_record_key"), "_hoodie_record_key",
              "left_semi")
        .select("_fid").distinct().collect()
    )  # bounded: one row per touched file group
    touched = sorted(r._fid for r in touched_rows)

    nonce = _time.time_ns()
    placed: list[str] = []
    stats = []
    try:
        if touched:
            tset = set(touched)
            ex_t = ex.where(F.col("_fid").isin(*touched))
            upd_keys = ex_t.select("_hoodie_record_key", "_fid")
            # carried rows: original commit time preserved
            carried = ex_t.join(
                keyed.select("_hoodie_record_key"), "_hoodie_record_key",
                "left_anti",
            ).select("_fid", "_hoodie_commit_time", "_hoodie_record_key",
                     *data_cols)
            # updated rows: the batch's values, the NEW commit time, the
            # OWNING group's fid (broadcast-size join on key->fid)
            updated = keyed.join(upd_keys, "_hoodie_record_key").select(
                "_fid", F.lit(instant).alias("_hoodie_commit_time"),
                "_hoodie_record_key", *data_cols,
            )
            # one slice file per group: a second file for a group would
            # take the same name, which ``_files.stage`` refuses
            for p in _files.stage(
                carried.unionByName(updated).repartition(len(tset), "_fid"),
                root,
                lambda _i, part: (
                    f"p/{part.values['_fid']}_0-0-0_{instant}.parquet"
                ),
                ["_fid"],
            ):
                placed.append(p.path)
                stats.append({"fileId": p.values["_fid"], "path": p.path,
                              "numWrites": p.rows})
            assert sorted(s["fileId"] for s in stats) == touched, \
                "expected one rewritten slice file per touched file group"

        # inserts: keys in no existing group -> new file groups
        inserts = keyed.join(
            ex.select("_hoodie_record_key"), "_hoodie_record_key",
            "left_anti",
        ).select(
            F.lit(instant).alias("_hoodie_commit_time"),
            "_hoodie_record_key", *data_cols,
        )
        ins_placed, ins_stats = _stage_file_groups(
            inserts, root, nonce, instant
        )
        placed += ins_placed
        stats += ins_stats
    except BaseException:
        for rel in placed:
            try:
                os.unlink(os.path.join(root, rel))
            except OSError:
                pass
        raise

    _publish_instant(root, instant, "commit", stats, placed)
    return instant


_AVRO_OF_SPARK = {
    "byte": "long", "short": "long", "int": "long", "bigint": "long",
    "float": "double", "double": "double", "string": "string",
    "boolean": "boolean",
}


def hudi_mor_upsert(
    df: DataFrame,
    root: str,
    record_key: str,
    delete_keys=None,
    instant: str | None = None,
) -> str:
    """UPSERT into a MERGE_ON_READ Hudi table by appending LOG BLOCKS —
    the write-hot ingestion path (hudi.apache.org "Table Types": a MoR
    upsert writes deltas to the touched file groups' logs instead of
    rewriting base parquet).  Rows whose ``record_key`` exists in the
    merged state append an Avro data block to their group's log; unseen
    keys land in NEW base parquet file groups; ``delete_keys`` (an
    iterable or a one-column DataFrame) appends delete blocks (absent
    keys are no-ops).  Returns the committed ``<instant>.deltacommit``
    (published like ``hudi_append``'s commit).  Creating the table (or
    an empty one) writes base files only.  Readable by ``read_hudi`` /
    ``read_hudi_incremental`` / ``hudistream`` — the repo's own MoR
    merge is the independent check.

    Scale: key->file-group routing is one semi-join against a
    keys-plus-group-id projection of the merged state (the merge is
    slice-local mapInPandas, never shuffled); each touched group gets
    exactly ONE log file, written executor-side after a repartition on
    the group id — the driver never holds data rows, only the bounded
    fid->log-name plan.  Columns must be primitive (long/double/string/
    boolean families) — the Avro log schema is derived from the frame;
    anything else refuses."""
    import time as _time

    from pyspark.sql import functions as F

    spark = df.sparkSession
    props_path = os.path.join(_hoodie_dir(root), "hoodie.properties")
    if not os.path.exists(props_path):
        os.makedirs(_hoodie_dir(root), exist_ok=True)
        with open(props_path, "w") as fh:
            fh.write(
                f"hoodie.table.name="
                f"{os.path.basename(os.path.abspath(root))}\n"
                "hoodie.table.type=MERGE_ON_READ\n"
            )
    props = _properties(root)
    if props.get("hoodie.table.type") != "MERGE_ON_READ":
        raise HudiUnsupported(
            "hudi_mor_upsert needs a MERGE_ON_READ table (use "
            "hudi_upsert for COPY_ON_WRITE)"
        )
    for name in os.listdir(_hoodie_dir(root)):
        if _PENDING_COMPACTION_RE.match(name):
            raise HudiUnsupported(
                f"pending compaction {name}: slices are mid-rewrite"
            )
    if record_key not in df.columns:
        raise ValueError(f"record_key column {record_key!r} not in schema")
    data_cols = list(df.columns)
    avro_fields = []
    for f in df.schema.fields:
        at = _AVRO_OF_SPARK.get(f.dataType.simpleString())
        if at is None:
            raise HudiUnsupported(
                f"column {f.name!r} of type "
                f"{f.dataType.simpleString()} is not log-encodable "
                "(primitive long/double/string/boolean families only)"
            )
        avro_fields.append({"name": f.name, "type": ["null", at]})
    rec_schema = {
        "type": "record", "name": "rec", "fields": [
            {"name": "_hoodie_commit_time", "type": "string"},
            {"name": "_hoodie_record_key", "type": "string"},
            *avro_fields,
        ],
    }

    commits = hudi_timeline(root)
    head = commits[0]["instant"] if commits else ""
    if instant is None:
        instant = (_time.strftime("%Y%m%d%H%M%S")
                   + f"{_time.time_ns() % 1000:03d}")
        while instant <= head:
            instant = str(int(instant) + 1)
    elif str(instant) <= head:
        raise ValueError(
            f"instant {instant} is not after the head {head}"
        )
    instant = str(instant)

    # lazy checkpoint: the dup-key aggregate below is the materializing
    # action; count + distinct-count ride ONE job instead of three
    batch = df.localCheckpoint(eager=False)
    n_rows, n_keys, n_nulls = batch.agg(
        F.count("*"),
        F.count_distinct(F.col(record_key)),
        F.count(F.when(F.col(record_key).isNull(), 1)),
    ).collect()[0]
    # count_distinct skips NULLs; the old distinct().count() counted the
    # NULL group as one value — preserve that exact acceptance behavior
    if n_keys + (1 if n_nulls else 0) != n_rows:
        raise ValueError(
            "batch has duplicate record keys: precombine upstream"
        )
    keyed = batch.withColumn(
        "_hoodie_record_key", F.col(record_key).cast("string")
    )
    if delete_keys is None:
        del_df = None
    elif isinstance(delete_keys, DataFrame):
        c0 = delete_keys.columns[0]
        del_df = delete_keys.select(
            F.col(c0).cast("string").alias("_hoodie_record_key")
        ).distinct()
    else:
        del_df = spark.createDataFrame(
            [(str(k),) for k in delete_keys], "_hoodie_record_key string"
        ).distinct()

    nonce = _time.time_ns()
    stats = []
    written_logs: list[str] = []
    valid_instants = {c["instant"] for c in commits}
    slices = _mor_slices(root, None) if commits else []
    table_root = os.path.abspath(root)

    if slices:
        # bounded fid plan: base instant + next log version per group
        plan_rows = []
        log_name = {}
        for sl in slices:
            fid = sl["file_id"]
            if sl["base"] is None:
                m = re.match(r"^\.(.+)_(\d+)\.log\.",
                             os.path.basename(sl["logs"][0]))
                base_instant = m.group(2)
            else:
                m = re.match(r".*_(\d+)\.parquet$",
                             os.path.basename(sl["base"]))
                base_instant = m.group(1)
            next_ver = 1 + max(
                (int(re.search(r"\.log\.(\d+)", os.path.basename(rel))
                     .group(1)) for rel in sl["logs"]),
                default=0,
            )
            rel = f"p/.{fid}_{base_instant}.log.{next_ver}_w{nonce}"
            log_name[fid] = rel
            plan_rows.append((fid, sl["base"], sl["logs"]))

        from pyspark.sql import types as T

        plan = spark.createDataFrame(
            plan_rows,
            T.StructType([
                T.StructField("fid", T.StringType(), False),
                T.StructField("base", T.StringType(), True),
                T.StructField("logs", T.ArrayType(T.StringType()), False),
            ]),
        ).repartition(max(len(plan_rows), 1))

        def keys_of(batches):
            import pandas as pd

            for pdf in batches:
                for fid, base_rel, log_rels in zip(
                    pdf["fid"], pdf["base"], pdf["logs"]
                ):
                    merged = _merge_slice_pdf(
                        table_root, base_rel, list(log_rels),
                        valid_instants,
                    )
                    if merged is None or not len(merged):
                        continue
                    yield pd.DataFrame({
                        "_hoodie_record_key":
                            merged["_hoodie_record_key"].astype(str),
                        "_fid": fid,
                    })

        key_fid = plan.mapInPandas(
            keys_of, "_hoodie_record_key string, _fid string"
        ).localCheckpoint(eager=True)

        # ONE left join routes updates, deletes AND inserts: the delete
        # keys ride the same join as op-tagged null-payload rows instead
        # of paying their own key_fid shuffle join (absent delete keys
        # get _fid NULL and drop out below — the same no-op semantics
        # the old inner join gave them); matched batch rows are updates,
        # unmatched batch rows are inserts
        tagged = keyed.select(
            F.lit("u").alias("__op"), "_hoodie_record_key", *data_cols
        )
        if del_df is not None:
            tagged = tagged.unionByName(del_df.select(
                F.lit("d").alias("__op"), "_hoodie_record_key",
                *[F.lit(None).cast(batch.schema[c].dataType).alias(c)
                  for c in data_cols],
            ))
        routed_all = tagged.join(
            key_fid, "_hoodie_record_key", "left"
        ).localCheckpoint(eager=False)
        routed = routed_all.where(F.col("_fid").isNotNull()).select(
            "_fid", "__op", "_hoodie_record_key", *data_cols,
        )
        if log_name:
            lname = dict(log_name)

            def write_logs(rows):
                by_fid: dict[str, dict] = {}
                for r in rows:
                    d = by_fid.setdefault(
                        r["_fid"], {"recs": [], "dels": []}
                    )
                    if r["__op"] == "u":
                        rec = {"_hoodie_commit_time": instant,
                               "_hoodie_record_key":
                                   r["_hoodie_record_key"]}
                        for c in data_cols:
                            rec[c] = r[c]
                        d["recs"].append(rec)
                    else:
                        d["dels"].append(r["_hoodie_record_key"])
                for fid, d in by_fid.items():
                    blocks = []
                    if d["recs"]:
                        blocks.append({
                            "type": "avro", "instant": instant,
                            "schema": rec_schema,
                            "records": d["recs"],
                        })
                    if d["dels"]:
                        blocks.append({
                            "type": "delete", "instant": instant,
                            "keys": sorted(d["dels"]),
                        })
                    if blocks:
                        write_hudi_log_file(
                            os.path.join(table_root, lname[fid]), blocks
                        )

            # partition by the ALREADY-KNOWN file-group plan (one per live
            # slice) instead of first collecting the distinct touched set —
            # that was an extra join+distinct+collect job per upsert; the
            # filesystem scan below identifies what was actually written
            routed.repartition(len(log_name), "_fid") \
                .foreachPartition(write_logs)
            for fid in sorted(log_name):
                rel = log_name[fid]
                if os.path.exists(os.path.join(root, rel)):
                    written_logs.append(rel)
                    stats.append({"fileId": fid, "path": rel})
        inserts = routed_all.where(
            F.col("_fid").isNull() & (F.col("__op") == "u")
        ).select(keyed.columns)
    else:
        inserts = keyed

    # inserts: new base-parquet file groups (Hudi's MoR insert path)
    ins = inserts.select(
        F.lit(instant).alias("_hoodie_commit_time"),
        "_hoodie_record_key", *data_cols,
    )
    placed, ins_stats = _stage_file_groups(ins, root, nonce, instant)
    stats += ins_stats

    _publish_instant(
        root, instant, "deltacommit", stats, [*placed, *written_logs]
    )
    return instant


def hudi_compact(spark, root: str, instant: str | None = None) -> str:
    """COMPACTION for a MERGE_ON_READ table (hudi.apache.org "Async /
    Inline Compaction"): merge every file slice that has log files into
    a NEW base parquet at the compaction instant, committed as a
    ``<instant>.commit`` — after it, snapshot reads pay zero log-merge
    and the old slices remain for time travel.  Returns the committed
    instant; a table with no log files is a no-op returning the head.

    Scale: one executor-side merge-and-write task per compacted file
    group (the same slice-local merge the read path uses — no shuffle);
    the driver holds only the slice plan.  The commit rides the merged
    rows' ORIGINAL ``_hoodie_commit_time`` values, so incremental
    queries and ``hudistream`` (commit-time filtered) see no phantom
    rows from a pure compaction."""
    import time as _time

    props = _properties(root)
    if props.get("hoodie.table.type") != "MERGE_ON_READ":
        raise HudiUnsupported("hudi_compact needs a MERGE_ON_READ table")
    for name in os.listdir(_hoodie_dir(root)):
        if _PENDING_COMPACTION_RE.match(name):
            raise HudiUnsupported(
                f"pending compaction {name}: another compaction is "
                "mid-flight"
            )
    commits = hudi_timeline(root)
    if not commits:
        raise ValueError(f"no completed commits in {root}")
    head = commits[0]["instant"]
    slices = [s for s in _mor_slices(root, None) if s["logs"]]
    if not slices:
        return head
    if instant is None:
        instant = (_time.strftime("%Y%m%d%H%M%S")
                   + f"{_time.time_ns() % 1000:03d}")
        while instant <= head:
            instant = str(int(instant) + 1)
    elif str(instant) <= head:
        raise ValueError(f"instant {instant} is not after the head {head}")
    instant = str(instant)
    valid_instants = {c["instant"] for c in commits}
    table_root = os.path.abspath(root)
    nonce = _time.time_ns()
    out_rel = {s["file_id"]: f"p/{s['file_id']}_0-0-0_{instant}.parquet"
               for s in slices}

    from pyspark.sql import types as T

    plan = spark.createDataFrame(
        [(s["file_id"], s["base"], s["logs"]) for s in slices],
        T.StructType([
            T.StructField("fid", T.StringType(), False),
            T.StructField("base", T.StringType(), True),
            T.StructField("logs", T.ArrayType(T.StringType()), False),
        ]),
    ).repartition(max(len(slices), 1))
    rel_of = dict(out_rel)

    def compact_slice(rows):
        import pyarrow as pa
        import pyarrow.parquet as pq

        for r in rows:
            merged = _merge_slice_pdf(
                table_root, r["base"], list(r["logs"]), valid_instants
            )
            if merged is None:
                merged = __import__("pandas").DataFrame(
                    columns=["_hoodie_record_key"]
                )
            pq.write_table(
                pa.Table.from_pandas(merged, preserve_index=False),
                os.path.join(table_root, rel_of[r["fid"]]),
            )

    plan.foreachPartition(compact_slice)
    stats = [{"fileId": s["file_id"], "path": out_rel[s["file_id"]]}
             for s in slices]
    _publish_instant(root, instant, "commit", stats, out_rel.values())
    return instant


def hudi_clean(root: str, keep_last: int = 1,
               dry_run: bool = False) -> list[str]:
    """CLEAN service (hudi.apache.org "Cleaning": KEEP_LATEST_FILE_
    VERSIONS): for every file group, retain the newest ``keep_last``
    file slices and delete the base/log files of older ones; files of
    replaced groups (clustering) older than the newest ``keep_last``
    replacement generations are removed too.  Returns the deleted
    relative paths.  Time travel to cleaned instants stops working —
    Hudi's own documented trade; the timeline itself is never touched,
    so ``read_hudi`` at the head and incremental reads over surviving
    slices are unaffected.  Planner-side: one timeline walk, O(files)
    metadata — no data is read."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    for name in os.listdir(_hoodie_dir(root)):
        if _PENDING_COMPACTION_RE.match(name):
            raise HudiUnsupported(
                f"pending compaction {name}: cleaning now could drop "
                "files the compactor is reading"
            )
    commits = hudi_timeline(root)  # newest first
    # slice inventory per file group, newest first: a slice is keyed by
    # its base instant (base parquet + logs whose embedded base instant
    # matches); log-only groups key on the logs' embedded instant
    by_fid: dict[str, dict[str, dict]] = {}
    replaced_at: dict[str, list[str]] = {}
    for c in commits:
        meta = _load_instant(c["path"])
        for stats in (meta.get("partitionToWriteStats") or {}).values():
            for st in stats:
                fid, rel = st["fileId"], st["path"]
                name = os.path.basename(rel)
                if rel.endswith(".parquet"):
                    m = re.match(r".*_(\d+)\.parquet$", name)
                    key = m.group(1) if m else c["instant"]
                    d = by_fid.setdefault(fid, {}).setdefault(
                        key, {"base": None, "logs": []}
                    )
                    d["base"] = rel
                else:
                    m = re.match(
                        re.escape(f".{fid}_") + r"(\d+)\.log\.", name
                    )
                    if not m:
                        raise HudiUnsupported(
                            f"unparseable log file name {name!r}"
                        )
                    d = by_fid.setdefault(fid, {}).setdefault(
                        m.group(1), {"base": None, "logs": []}
                    )
                    d["logs"].append(rel)
        for ids in (meta.get("partitionToReplaceFileIds") or {}).values():
            for fid in ids:
                replaced_at.setdefault(fid, []).append(c["instant"])
    doomed: list[str] = []
    for fid, slices in by_fid.items():
        ordered = sorted(slices, reverse=True)  # newest base instant 1st
        # a replaced group's newest slice is already superseded by its
        # replacement, but it still counts inside the keep window so a
        # replacecommit rollback stays possible within retention
        for key in ordered[keep_last:]:
            sl = slices[key]
            if sl["base"]:
                doomed.append(sl["base"])
            doomed.extend(sl["logs"])
    removed = []
    for rel in sorted(set(doomed)):
        full = os.path.join(root, rel)
        if os.path.exists(full):
            removed.append(rel)
            if not dry_run:
                try:
                    os.unlink(full)
                except OSError:
                    pass
    return removed
