"""One writer and one footer reader for the data files of every table
format: txlog, Delta, Iceberg and Hudi.

* ``write(df, path, partition_by, options)`` is the only DataFrame writer
  for table data.  It writes a fresh Parquet directory and returns its
  non-empty part files as ``Part``s: hive partition values, row count,
  size and footer ranges, all from one footer open per file.
* ``stage(df, root, name, partition_by)`` writes through ``write`` into a
  private ``_stage_<nonce>`` directory under ``root`` and moves each part
  to the name the format chooses; formats that name their own files
  (Delta, Iceberg, Hudi) use it, txlog writes its directories in place.
* ``footer(path)`` reads a file's row count and per-column ``(min, max)``
  ranges.  A flat column gets a range only when every row group either
  has min/max for it or holds only nulls in it.  Parquet writers omit
  min/max for a chunk whose values are too large (parquet-mr: over
  4 KB), so a range built from the other row groups could exclude rows
  the file holds, and data skipping would drop them.
* ``hive_values(rel)`` parses the ``col=value`` directories of a path.
* ``plain_path(uri)`` / ``plain_file_path()``: the plain absolute path of
  a file URI Spark reports (``_metadata.file_path``), as table logs hold it.

The ranges hold pyarrow's values; each format types them for its own log
(txlog sidecar, Delta ``stats``).
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid
from typing import Callable, NamedTuple
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame

_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


class Footer(NamedTuple):
    rows: int
    ranges: dict  # flat column -> (min, max)


class Part(NamedTuple):
    """A non-empty part file; ``path`` is relative to the directory the
    caller named (``write``'s ``path``, ``stage``'s ``root``)."""

    path: str
    index: int  # position among the part files Spark wrote, empty ones too
    values: dict  # hive partition column -> raw string, None for null
    rows: int
    size: int
    ranges: dict


def hive_values(rel: str) -> dict:
    """Partition values from the ``col=value`` directories of ``rel``:
    unquoted strings, ``None`` for Spark's null-partition directory."""
    out = {}
    for seg in rel.split(os.sep)[:-1]:
        key, eq, raw = seg.partition("=")
        if eq:
            out[unquote(key)] = None if raw == _NULL_PARTITION else unquote(raw)
    return out


def plain_path(uri: str) -> str:
    """The plain absolute path of a file URI as Spark reports it
    (``file:/a%20b/x`` -> ``/a b/x``).  Spark percent-encodes the path but
    leaves ``+`` as it is, so ``+`` is not a space here."""
    return unquote(urlparse(uri).path)


def plain_file_path() -> Column:
    """``plain_path`` of each row's ``_metadata.file_path``."""
    from pyspark.sql import functions as F

    bare = F.regexp_replace(F.col("_metadata.file_path"), "^[a-z]+:/+", "/")
    # url_decode also turns '+' into a space: escape it first
    return F.url_decode(F.regexp_replace(bare, "\\+", "%2B"))


def footer(path: str) -> Footer:
    """Row count and per-column ranges from one parquet footer (module
    docstring: the every-row-group rule)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    ranges: dict = {}
    dropped: set[str] = set()
    for g in range(md.num_row_groups):
        group = md.row_group(g)
        for c in range(group.num_columns):
            chunk = group.column(c)
            name = chunk.path_in_schema
            if "." in name or name in dropped:
                continue
            try:
                st = chunk.statistics
                lo, hi = (st.min, st.max) if st is not None and st.has_min_max else (None, None)
            except Exception:  # pyarrow cannot convert some stats (decimal)
                st, lo, hi = None, None, None
            if lo is None or hi is None:
                all_null = st is not None and st.has_null_count and st.null_count == group.num_rows
                if not all_null:
                    dropped.add(name)
                    ranges.pop(name, None)
                continue
            if name in ranges:
                ranges[name] = (min(ranges[name][0], lo), max(ranges[name][1], hi))
            else:
                ranges[name] = (lo, hi)
    return Footer(md.num_rows, ranges)


def write(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    options: dict | None = None,
) -> list[Part]:
    """Write ``df`` as a fresh parquet directory (hive layout under
    ``partition_by``; ``options`` are parquet writer options) and return
    its non-empty part files in path order.  Spark writes a zero-row file
    for an empty first task; it is removed unless it is the directory's
    only file, where it carries the schema for schema-less reads."""
    writer = df.write.mode("overwrite").options(**(options or {}))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    parts, empty = [], []
    written = glob.glob(os.path.join(path, "**", "part-*.parquet"), recursive=True)
    for i, full in enumerate(sorted(written)):
        rows, ranges = footer(full)
        if not rows:
            empty.append(full)
            continue
        rel = os.path.relpath(full, path)
        parts.append(Part(rel, i, hive_values(rel), rows, os.path.getsize(full), ranges))
    if parts:
        for full in empty:
            head, name = os.path.split(full)
            for f in (full, os.path.join(head, f".{name}.crc")):
                if os.path.exists(f):
                    os.remove(f)
    return parts


def stage(
    df: DataFrame,
    root: str,
    name: Callable[[int, Part], str],
    partition_by: list[str] | None = None,
) -> list[Part]:
    """Write ``df`` under ``root/_stage_<nonce>`` and move each non-empty
    part to ``root/name(i, part)``, where ``i`` is ``part.index``.  A name
    that already exists raises instead of being replaced.  Returns the
    moved parts with ``path`` relative to ``root``; the stage directory is
    removed whatever happens."""
    tmp = os.path.join(root, f"_stage_{uuid.uuid4().hex}")
    moved = []
    try:
        for part in write(df, tmp, partition_by):
            rel = name(part.index, part)
            dest = os.path.join(root, rel)
            if os.path.exists(dest):
                raise FileExistsError(dest)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            os.rename(os.path.join(tmp, part.path), dest)
            moved.append(part._replace(path=rel))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return moved
