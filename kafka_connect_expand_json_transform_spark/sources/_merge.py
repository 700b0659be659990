"""MERGE INTO semantics, planned once for every table format.

``txlog.merge_into`` (copy-on-write), ``txlog.merge_into_mor``
(merge-on-read, deletion vectors) and ``delta_writer.delta_merge_into``
build a :class:`MergePlan` and keep only their format's part: finding and
scanning the target, and the commit.

Clause semantics.  Target rows equi-match ``source`` on the ``on`` key
columns; then each row is routed by one clause:

* matched + ``delete_when`` (Column / SQL over the joined ``t.*`` /
  ``s.*`` namespaces) -> deleted.  A NULL ``delete_when`` keeps the row
  (three-valued logic, as in SQL MERGE's ``WHEN MATCHED AND <cond>``);
* matched otherwise -> ``update`` applied: ``"all"`` replaces every
  non-key target column that the source also carries with the source
  value; a dict maps target column -> Column / SQL expression over
  ``t.`` / ``s.``; ``None`` keeps the target row untouched.  Assigned
  values are cast to the target column's type, so a merge never evolves
  the schema;
* source-only -> inserted when ``insert`` and, if given, ``insert_when``
  (Column / SQL over ``s.*`` — ``WHEN NOT MATCHED AND <cond>``; a CDC
  apply uses it to make deletes of absent keys a no-op).  Source columns
  missing from the target are ignored; target columns missing from the
  source come in as NULL;
* target-only -> kept.

Refusals, each a ``ValueError`` raised before anything is written: a
merge key missing from target or source; an ``update`` dict naming an unknown
column, a key column (a key rewrite is a delete + insert) or a partition
column (``"all"`` skips partition columns).  The one source pass then
refuses a source with duplicate merge keys: a matched target row would be
ambiguous (Delta's rule).

Clause stats are ``{"inserted", "updated", "deleted"}``; ``updated``
counts matched, not-deleted rows when there is anything to assign, and 0
for ``update=None``.  Change capture records logical changes: deleted
rows' preimages, the pre/post pairs of updated rows whose values changed
(a no-op assignment is not a change: a per-row multiset ``exceptAll``
keeps the capture equal to the snapshot diff), and the inserts.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _expr(e) -> Column:
    return F.expr(e) if isinstance(e, str) else e


class MergePlan:
    """One MERGE: validated clauses, the guarded source and the routing.

    Use: construct (validates clauses), :meth:`scan_source` (one job),
    :meth:`join` the format's target scan, then read :meth:`stats`, the
    routed rows and :meth:`changes` off the joined frame."""

    def __init__(
        self,
        source: DataFrame,
        on: list[str],
        target_schema: StructType,
        *,
        update: dict | str | None = "all",
        delete_when=None,
        insert: bool = True,
        insert_when=None,
        partition_cols=(),
    ):
        self.source, self.on, self.insert = source, list(on), insert
        self._src_cols = set(source.columns)
        self.dtypes = {f.name: f.dataType for f in target_schema.fields}
        for k in self.on:
            if k not in self.dtypes or k not in self._src_cols:
                raise ValueError(f"merge key {k!r} missing from target or source")
        if update == "all":
            self.assignments = {
                c: F.col(f"s.{c}")
                for c in self.dtypes
                if c not in self.on and c in self._src_cols
                and c not in partition_cols
            }
        elif update is None:
            self.assignments = {}
        else:
            for c in update:
                if c not in self.dtypes:
                    raise ValueError(
                        f"unknown column {c!r} in merge update assignments"
                    )
                if c in self.on:
                    raise ValueError(
                        f"merge update may not assign key column {c!r} (a key "
                        "rewrite is a delete+insert, not an update)"
                    )
                if c in partition_cols:
                    raise ValueError(
                        "updating partition columns is not supported (rows "
                        "would move between partitions)"
                    )
            self.assignments = {c: _expr(v) for c, v in update.items()}
        self._delc = F.coalesce(
            F.lit(False) if delete_when is None else _expr(delete_when),
            F.lit(False),
        )
        self._ins = F.lit(insert) if insert_when is None else (
            F.lit(insert) & F.coalesce(_expr(insert_when), F.lit(False))
        )

    def scan_source(self) -> list[tuple] | None:
        """The one source pass: the duplicate-key guard, the source row
        count (``n_source``) and the first key's range.  The first key is
        a group key, so its min/max over groups equals its min/max over
        rows.  Returns footer-stats prune hints ``[(k0, ">=", lo), (k0,
        "<=", hi)]`` for an integer first key, else None: parquet string
        min/max may be truncated, so other types never prune."""
        k0 = self.on[0]
        row = self.source.groupBy(*self.on).agg(F.count("*").alias("__c")).agg(
            F.max("__c").alias("mx"),
            F.sum("__c").alias("n"),
            F.min(F.col(k0)).alias("lo"),
            F.max(F.col(k0)).alias("hi"),
        ).first()
        if row["mx"] is not None and row["mx"] > 1:
            raise ValueError("source has duplicate merge keys; matched rows ambiguous")
        self.n_source = int(row["n"] or 0)
        lo, hi = row["lo"], row["hi"]
        if isinstance(lo, int) and isinstance(hi, int) and not isinstance(lo, bool):
            return [(k0, ">=", lo), (k0, "<=", hi)]
        return None

    def join(self, target: DataFrame, full: bool = True) -> None:
        """Equi-join ``target`` (logical column names) with the source as
        ``t`` / ``s``.  ``full`` (copy-on-write) is a full outer join that
        carries every clause; otherwise an inner join of the matched rows
        only (merge-on-read, whose inserts come from :meth:`inserts`'
        anti-join).  The joined frame is lazily checkpointed: the stats
        action materializes it once for every later consumer."""
        self._full, self._target = full, target
        cond = [F.col(f"t.{k}") == F.col(f"s.{k}") for k in self.on]
        if full:
            t = target.withColumn("_in_t", F.lit(True)).alias("t")
            s = self.source.withColumn("_in_s", F.lit(True)).alias("s")
            self._joined = t.join(s, cond, "full_outer")
            in_t = F.coalesce(F.col("t._in_t"), F.lit(False))
            in_s = F.coalesce(F.col("s._in_s"), F.lit(False))
            self._matched, self._s_only = in_t & in_s, in_s & ~in_t
            self._keep = in_t & ~(self._matched & self._delc)
        else:
            self._joined = target.alias("t").join(self.source.alias("s"), cond, "inner")
            self._matched, self._s_only = F.lit(True), F.lit(False)
            self._keep = ~self._delc
        self._joined = self._joined.localCheckpoint(eager=False)
        self._deleted = self._matched & self._delc
        self._updated = self._matched & ~self._delc & F.lit(bool(self.assignments))

    def stats(self) -> dict:
        """``{"inserted", "updated", "deleted"}`` in one aggregate.  The
        inner join sees no source-only rows: source keys are unique past
        the guard, so inserts are the source rows minus the distinct
        matched keys (a key with a NULL component matches nothing, exactly
        like the insert anti-join)."""
        aggs = [
            F.sum(self._deleted.cast("long")).alias("deleted"),
            F.sum(self._updated.cast("long")).alias("updated"),
        ]
        if self._full:
            aggs.append(
                F.sum((self._s_only & self._ins).cast("long")).alias("inserted")
            )
        else:
            aggs.append(
                F.count_distinct(*[F.col(f"s.{k}") for k in self.on]).alias("keys")
            )
        row = self._joined.agg(*aggs).first()
        if self._full:
            inserted = int(row["inserted"] or 0)
        else:
            inserted = self.n_source - int(row["keys"] or 0) if self.insert else 0
        return {
            "inserted": inserted,
            "updated": int(row["updated"] or 0),
            "deleted": int(row["deleted"] or 0),
        }

    def _out_cols(self) -> list[Column]:
        cols = []
        for c, dt in self.dtypes.items():
            assigned = self.assignments.get(c)
            if not self._full:
                val = F.col(f"t.{c}") if assigned is None else assigned.cast(dt)
                cols.append(val.alias(c))
                continue
            val = F.when(
                self._s_only,
                F.col(f"s.{c}") if c in self._src_cols else F.lit(None),
            )
            if assigned is not None:
                val = val.when(self._matched, assigned)
            cols.append(val.otherwise(F.col(f"t.{c}")).cast(dt).alias(c))
        return cols

    def _route(self, pred: Column) -> DataFrame:
        return self._joined.where(pred).select(*self._out_cols())

    def routed(self) -> DataFrame:
        """Every row of the merged target in the joined region: kept
        target rows (updated where assigned) and the inserts."""
        return self._route(self._keep | (self._s_only & self._ins))

    def kept(self) -> DataFrame:
        """Target rows that survive the merge, assignments applied."""
        return self._route(self._keep)

    def updated(self) -> DataFrame:
        """Postimages of the updated rows (empty for ``update=None``)."""
        return self._route(self._updated)

    def touched(self) -> DataFrame:
        """Joined rows whose target row the merge deletes or updates."""
        return self._joined.where(self._deleted | self._updated)

    def inserts(self) -> DataFrame | None:
        """The inserted rows in target shape, or None when ``insert`` is
        off and the plan is merge-on-read."""
        if self._full:
            return self._route(self._s_only & self._ins)
        if not self.insert:
            return None
        return self.source.join(
            self._target.select(*self.on), self.on, "left_anti"
        ).select(
            *[
                (F.col(c) if c in self._src_cols else F.lit(None))
                .cast(dt).alias(c)
                for c, dt in self.dtypes.items()
            ]
        )

    def changes(
        self, inserts: DataFrame | None, labels=("delete", "delete", "insert", "insert")
    ) -> DataFrame:
        """The change frame with a ``_change_type`` column: deleted
        preimages, changed update preimages, changed update postimages
        and ``inserts`` (the rows the caller wrote), labelled by
        ``labels`` in that order."""
        tcols = [F.col(f"t.{c}").alias(c) for c in self.dtypes]
        del_pre = self._joined.where(self._deleted).select(*tcols)
        if self.assignments:
            upd_pre = self._joined.where(self._updated).select(*tcols)
            upd_post = self.updated()
            eff_pre = upd_pre.exceptAll(upd_post)
            eff_post = upd_post.exceptAll(upd_pre)
        else:
            eff_pre = eff_post = del_pre.limit(0)
        return functools.reduce(DataFrame.unionByName, [
            frame.withColumn("_change_type", F.lit(label))
            for frame, label in zip((del_pre, eff_pre, eff_post, inserts), labels)
            if frame is not None
        ])
