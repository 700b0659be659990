"""The ``expand_json`` transform — Spark-first rebuild of the reference SMT.

Reference: ``ExpandJson`` (ExpandJson.java:86-129, 277-319; readme.md:1-43).
Two modes, dispatched exactly like the reference's schemaless/schema'd split
(ExpandJson.java:86-92):

  * **whole-value mode** (``fields=None``) — the entire source column is JSON
    text (any JSON type, incl. bare scalars); it is replaced by its typed
    expansion (ExpandJson.java:94-104).
  * **field mode** (``fields=[...]``) — each named root-level column holding
    JSON text is replaced by a typed nested struct; every other column passes
    through untouched (ExpandJson.java:106-129).

The reference's ``Key``/``Value`` subclass split (ExpandJson.java:277-319)
becomes the ``source_column`` argument; its two ``DataException`` guards
(ExpandJson.java:95-98, 107-110) become plan-time ``ValueError``s; its
per-record ``DataException`` on malformed JSON (ExpandJson.java:169-171)
becomes ``mode="FAILFAST"``, with ``"PERMISSIVE"`` (null on malformed) as the
scale-friendly default.

Every entry point (the three here, ``streaming.expand_json_stream`` and
``sources.kafka``'s two) checks its own arguments, names its targets (root
columns or dotted paths) and calls the one planner, ``_expand``.  Its
strategy rule:

  * a given ``schema`` means ``static``; ``schema`` with ``infer="variant"``
    raises, and so does ``infer="static"`` without ``schema``;
  * ``sample`` infers from ``sample_df`` if given, else from the frame
    itself (memoized); a stream cannot be sampled at plan time, so
    ``sample`` on a stream needs ``sample_df``;
  * ``variant`` parses each target to VariantType.

Execution model: each expanded field is one ``from_json`` expression — a
narrow, shuffle-free, whole-stage-codegen'd projection. At 100 TB this runs
embarrassingly parallel with zero exchange; schema resolution happens once at
plan time (vs. the reference's per-record parse->infer->serialize->re-parse
round-trip, ExpandJson.java:164-185, which Catalyst makes unnecessary).
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, StructType

from kafka_connect_expand_json_transform_spark.schema_inference import (
    assign_schema_names,
    collect_column_samples,
    decimal_leaf_paths,
    infer_schema_for_column,  # noqa: F401 — perfbench's tracer patches this binding
    infer_schema_from_samples,
)

_SCALAR_WRAP = "__v"

# Sample-inference memo: the inferred schema is a deterministic function of
# the input plan's data and the inference parameters (the sample is ordered
# by a content hash, not partition order).  A bench/oracle process expands
# the same immutable driver table in a dozen declared queries — each paid a
# TakeOrdered sampling job for the identical answer.  The key is scoped to
# the session AND the exact input files with their (mtime, size), so a
# rewritten file or another session can never see a stale schema; non-file
# sources (empty inputFiles) are never memoized.  No query RESULT is cached
# — only plan-time schema metadata, recomputed per process.  Bounded LRU
# (the reference caps its own schema memo at 16 entries, ExpandJson.java:81):
# a long-lived driver expanding rotating file sets must not grow this
# monotonically — every file rewrite mints a new key, and nothing else
# would ever evict the superseded one.
from collections import OrderedDict as _OrderedDict

_INFER_MEMO: _OrderedDict[tuple, tuple] = _OrderedDict()
_INFER_MEMO_MAX = 64


def _inference_memo_key(
    df: DataFrame,
    field: str,
    sample_limit: int,
    sample_ratio: float | None,
    first_element_only: bool,
    decimal_fidelity: bool,
) -> tuple | None:
    import os as _os
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
        if not files:
            return None
        stats = []
        for uri in sorted(files):
            # inputFiles() are percent-encoded URIs (a space is %20)
            st = _os.stat(unquote(urlparse(uri).path))
            stats.append((uri, st.st_mtime_ns, st.st_size))
        return (
            df.sparkSession.sparkContext.applicationId,
            df.semanticHash(),
            tuple(stats),
            field,
            sample_limit,
            sample_ratio,
            first_element_only,
            decimal_fidelity,
        )
    except Exception:  # noqa: BLE001 — any doubt: skip the memo, stay correct
        return None


def _parse_expr(col: Column, dtype: DataType, mode: str) -> Column:
    """Build the parse expression for one JSON-text column.

    ``from_json`` only accepts struct/array/map root types, so bare-scalar
    JSON (the reference expands ``"\\"key\\""`` and ``42`` —
    ExpandJsonTest.java:105-155) is parsed through a single-field struct
    wrapper and unwrapped; semantics identical, still codegen'd.
    """
    options = {"mode": mode}
    if isinstance(dtype, (StructType, ArrayType)):
        return F.from_json(col.cast("string"), dtype, options)
    wrapper = StructType().add(_SCALAR_WRAP, dtype, True)
    wrapped = F.concat(F.lit('{"%s":' % _SCALAR_WRAP), col.cast("string"), F.lit("}"))
    return F.from_json(wrapped, wrapper, options)[_SCALAR_WRAP]


def _expand(
    df: DataFrame,
    targets: Sequence[str],
    *,
    sample_df: DataFrame | None = None,
    schema: DataType | Mapping[str, DataType] | None = None,
    infer: str = "sample",
    sample_limit: int = 1000,
    sample_ratio: float | None = None,
    mode: str = "PERMISSIVE",
    schema_name_prefix: str | None = None,
    first_element_only: bool = True,
    decimal_fidelity: bool = False,
    rescued_data_column: str | None = None,
) -> DataFrame:
    """Expand each target — a root column or a dotted path into a struct
    column — under the strategy rule of the module docstring.  The
    parameters mean what ``expand_json`` documents."""
    if infer not in ("sample", "static", "variant"):
        raise ValueError(f"unknown inference strategy: {infer!r}")
    if mode not in ("PERMISSIVE", "FAILFAST"):
        raise ValueError(f"unknown parse mode: {mode!r}")
    if schema is not None:
        if infer == "variant":
            raise ValueError(
                "schema= conflicts with infer='variant' (a variant column has "
                "no fixed schema); pass one or the other"
            )
        infer = "static"
    elif infer == "static":
        raise ValueError("infer='static' requires schema=")
    for t in targets:
        if t.split(".", 1)[0] not in df.columns:
            raise ValueError(f"column {t!r} not in DataFrame: {df.columns}")

    schemas: dict[str, DataType] = {}
    decimal_paths: dict[str, list[str]] = {}
    if infer == "static":
        schemas = dict(schema) if isinstance(schema, Mapping) else {t: schema for t in targets}
        missing = [t for t in targets if t not in schemas]
        if missing:
            raise ValueError(f"no static schema supplied for fields: {missing}")
    elif infer == "sample":
        source = df if sample_df is None else sample_df
        if source.isStreaming:
            raise ValueError(
                "infer='sample' cannot sample a streaming DataFrame at plan "
                "time; pass sample_df= (a batch snapshot, as "
                "streaming.expand_json_stream takes), schema=, or "
                "infer='variant'"
            )
        for t in targets:
            # a separate sample_df is sampled on every plan, not memoized:
            # perfbench's traced stream set-up times that sampling job and
            # has no figure for a memo hit (ROADMAP item 2)
            memo_key = None if sample_df is not None else _inference_memo_key(
                df, t, sample_limit, sample_ratio, first_element_only,
                decimal_fidelity,
            )
            hit = _INFER_MEMO.get(memo_key) if memo_key is not None else None
            if hit is not None:
                _INFER_MEMO.move_to_end(memo_key)
                schemas[t], decimal_paths[t] = hit
                continue
            samples = collect_column_samples(
                source, t, sample_limit=sample_limit, sample_ratio=sample_ratio
            )
            schemas[t] = infer_schema_from_samples(
                samples, first_element_only, decimal_fidelity
            )
            decimal_paths[t] = decimal_leaf_paths(samples) if decimal_fidelity else []
            if memo_key is not None:
                _INFER_MEMO[memo_key] = (schemas[t], decimal_paths[t])
                while len(_INFER_MEMO) > _INFER_MEMO_MAX:
                    _INFER_MEMO.popitem(last=False)

    root_names: dict[str, str | None] = {}
    if schema_name_prefix and infer != "variant":
        # ONE shared name map across all targets of this call: the
        # reference's generatedSchemaNames/schemaNameIndex are instance
        # state (ExpandJson.java:69-71, 238), so a second field's structs
        # continue the numbering and dedup against the first field's.  Every
        # root is counted, also where a nested withField cannot carry it.
        shared_names: dict = {}
        for t in targets:
            schemas[t], root_names[t] = assign_schema_names(
                schemas[t], schema_name_prefix, with_root=True, names=shared_names
            )

    out = df
    for t in targets:
        text = F.col(t).cast("string")
        if infer == "variant":
            parsed = F.parse_json(text)
        else:
            parsed = _parse_expr(F.col(t), schemas[t], mode)
        if root_names.get(t) and "." not in t:
            # the root struct's generated name (numbered after its children,
            # reference bottom-up order) rides as column metadata — the only
            # place a root name can live on a top-level expanded column
            parsed = parsed.alias(t, metadata={"connect.name": root_names[t]})
        # BigDecimal value fidelity (ExpandJson.java:212-213): from_json
        # funnels number tokens through a double even for string targets, so
        # decimal-derived string leaves are re-extracted through VariantType,
        # which keeps the exact literal up to 38 digits (decimal128); beyond
        # that Variant itself falls back to double — documented bound.
        for path in decimal_paths.get(t, []):
            exact = F.try_variant_get(
                F.try_parse_json(text), "$" if path == "" else f"$.{path}", "string"
            )
            parsed = exact if path == "" else parsed.withField(path, exact)
        if rescued_data_column and isinstance(schemas.get(t), StructType):
            known = [fld.name for fld in schemas[t].fields]
            all_pairs = F.from_json(text, "map<string,string>", {"mode": "PERMISSIVE"})
            unknown = F.map_filter(
                all_pairs, lambda k, _v: ~k.isin(*known) if known else F.lit(True)
            )
            name = rescued_data_column if len(targets) == 1 else f"{t}{rescued_data_column}"
            out = out.withColumn(name, F.when(F.size(F.map_keys(unknown)) > 0, unknown))
        root, _, rest = t.partition(".")
        out = out.withColumn(root, F.col(root).withField(rest, parsed) if rest else parsed)
    return out


def _field_targets(
    df: DataFrame, fields: Sequence[str] | None, source_column: str | None
) -> list[str]:
    """``expand_json``'s targets: the root-level ``fields``, or the one
    whole-value ``source_column`` (default ``"value"``)."""
    if not fields:
        # reference guard: schemaless mode forbids a fields config — here the
        # inverse guard: field mode requires fields (ExpandJson.java:95-110)
        return [source_column or "value"]
    if source_column is not None:
        raise ValueError(
            "pass either fields= (field mode) or source_column= (whole-value "
            "mode), not both — the reference forbids fields in schemaless mode "
            "(ExpandJson.java:95-98)"
        )
    for f in fields:
        if "." in f:
            raise ValueError(
                f"nested field path {f!r} not supported (reference: "
                "ExpandJson.java:42-44, readme.md:25)"
            )
    return list(fields)


def expand_json(
    df: DataFrame,
    fields: Sequence[str] | None = None,
    source_column: str | None = None,
    schema: DataType | Mapping[str, DataType] | None = None,
    infer: str = "sample",
    sample_limit: int = 1000,
    sample_ratio: float | None = None,
    mode: str = "PERMISSIVE",
    schema_name_prefix: str | None = None,
    first_element_only: bool = True,
    decimal_fidelity: bool = False,
    rescued_data_column: str | None = None,
) -> DataFrame:
    """Expand JSON-text column(s) into typed nested structures.

    Parameters mirror the reference's config surface (ExpandJson.java:48-59)
    plus the inference-strategy split of SURVEY.md §1.5:

    fields
        Root-level column names to expand (the reference's ``fields`` config,
        ExpandJson.java:53-54). ``None``/empty selects whole-value mode on
        ``source_column``. Nested paths are rejected, as in the reference
        (ExpandJson.java:42-44, readme.md:25).
    source_column
        Whole-value mode target (the reference's ``Key``/``Value`` subclass
        choice, ExpandJson.java:277-319). Defaults to ``"value"``.
    schema
        ``static`` strategy: a DataType (whole-value) or {field: DataType}.
    infer
        ``"sample"`` (default; honest version of the reference's first-record
        schema freeze), ``"static"`` (use ``schema``), or ``"variant"``
        (per-record dynamic typing via ``parse_json`` -> VariantType — the
        only faithful analogue of per-record inference at scale).
    mode
        ``"PERMISSIVE"`` (malformed -> null) or ``"FAILFAST"`` (raise; the
        reference's ``DataException``, ExpandJson.java:169-171).
    schema_name_prefix
        The reference's ``schema.name.prefix`` (ExpandJson.java:55-59):
        generated struct names carried as ``StructField.metadata``.
    decimal_fidelity
        Apply the reference's BigDecimal -> string rule
        (ExpandJson.java:212-213) during ``sample`` inference: JSON floats
        are parsed as exact decimals, so high-precision decimal text keeps
        every digit in a string field instead of rounding through a double
        (the analogue of Jackson's USE_BIG_DECIMAL_FOR_FLOATS).
    rescued_data_column
        [EXT] ingestion-robustness option (the lakehouse ``_rescued_data``
        convention): top-level JSON keys present in a RECORD but absent
        from the RESOLVED schema — schema drift after a sampled/static
        freeze — are captured in a ``map<string,string>`` column (values
        as their JSON text) instead of being silently dropped by
        ``from_json``'s schema projection.  One rescue column per expanded
        object-rooted field: named exactly ``rescued_data_column`` for a
        single field, ``{field}{rescued_data_column}`` each when several
        fields expand.  NULL when nothing was rescued; non-object roots
        (arrays/scalars) have no top-level keys to drift and get none.
    """
    return _expand(
        df,
        _field_targets(df, fields, source_column),
        schema=schema,
        infer=infer,
        sample_limit=sample_limit,
        sample_ratio=sample_ratio,
        mode=mode,
        schema_name_prefix=schema_name_prefix,
        first_element_only=first_element_only,
        decimal_fidelity=decimal_fidelity,
        rescued_data_column=rescued_data_column,
    )


def expand_json_nested(
    df: DataFrame,
    paths: Sequence[str],
    schema: Mapping[str, DataType] | None = None,
    infer: str = "sample",
    sample_limit: int = 1000,
    mode: str = "PERMISSIVE",
    schema_name_prefix: str | None = None,
) -> DataFrame:
    """[EXT] Expand JSON text held in NESTED struct fields, addressed by
    dotted path (``"meta.payload"``).

    The reference explicitly does not support this — it is the first entry
    on its own improvement wishlist (readme.md:25, ExpandJson.java:42-44) —
    so ``expand_json`` faithfully rejects dotted paths and this extension
    provides them.  Implementation is ``Column.withField`` (Spark 3.1+),
    which rewrites just the addressed leaf inside the struct: still a
    narrow, codegen'd projection, no shuffle.

    ``schema`` maps each path to its DataType; strategies as in
    ``expand_json``.
    """
    for path in paths:
        if "." not in path:
            raise ValueError(
                f"{path!r} is a root-level field — use expand_json(fields=...) "
                "for those; expand_json_nested is for dotted paths"
            )
    return _expand(
        df,
        list(paths),
        schema=schema,
        infer=infer,
        sample_limit=sample_limit,
        mode=mode,
        schema_name_prefix=schema_name_prefix,
    )


def expand_json_observed(
    df: DataFrame,
    fields: Sequence[str] | None = None,
    source_column: str | None = None,
    observation_name: str = "expand_json_metrics",
    **kwargs,
):
    """``expand_json`` + single-pass parse observability.

    PERMISSIVE mode nulls malformed records silently (the scale-friendly
    choice — ExpandJson.java:169-171 raises per record instead), which
    leaves pipelines blind to corruption rates.  This wraps the input with
    ``DataFrame.observe`` so row and malformed counts are collected DURING
    whatever action consumes the result — no second scan, no separate
    quality job.  Returns ``(expanded_df, observation)``; read
    ``observation.get`` after an action.

    Malformedness is judged by ``try_parse_json`` on the original text
    (NULL = invalid JSON) — exact, and evaluated once per row inside the
    same whole-stage-codegen'd projection.  Batch only (``observe`` on
    streaming frames requires the query-listener path instead).
    """
    from pyspark.sql import Observation

    targets = _field_targets(df, fields, source_column)
    obs = Observation(observation_name)
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for f in targets:
        src = F.col(f).cast("string")
        metrics.append(
            F.sum(
                F.when(src.isNotNull() & F.try_parse_json(src).isNull(), 1).otherwise(0)
            ).alias(f"n_malformed_{f}")
        )
    return _expand(df.observe(obs, *metrics), targets, **kwargs), obs
