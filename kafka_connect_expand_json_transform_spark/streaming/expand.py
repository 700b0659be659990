"""Streaming ``expand_json`` — the reference SMT's actual deployment shape:
a JSON-expansion step inside a running stream pipeline (ExpandJson.java:32,
readme.md:38-42).

It runs the one planner of ``operators.expand_json``, whose strategy rule
holds for batch and stream alike: a stream cannot be sampled at plan time,
so ``sample`` infers from ``sample_df``, a *static* batch DataFrame (e.g. a
parquet snapshot of the same topic) — the honest, plan-time-resolved version
of the reference's first-record schema freeze (ExpandJson.java:131-153).
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql.types import DataType

# expand_json and infer_schema_for_column are bound here because perfbench's
# tracer patches them in this module by name
from kafka_connect_expand_json_transform_spark.operators.expand_json import (  # noqa: F401
    _expand,
    _field_targets,
    expand_json,
)
from kafka_connect_expand_json_transform_spark.schema_inference import (  # noqa: F401
    infer_schema_for_column,
)


def expand_json_stream(
    df: DataFrame,
    fields: Sequence[str] | None = None,
    source_column: str | None = None,
    schema: DataType | Mapping[str, DataType] | None = None,
    infer: str = "sample",
    sample_df: DataFrame | None = None,
    sample_limit: int = 1000,
    mode: str = "PERMISSIVE",
    schema_name_prefix: str | None = None,
) -> DataFrame:
    """``expand_json`` for streaming DataFrames; ``sample_df`` is the batch
    snapshot that ``infer="sample"`` reads (module docstring)."""
    return _expand(
        df,
        _field_targets(df, fields, source_column),
        sample_df=sample_df,
        schema=schema,
        infer=infer,
        sample_limit=sample_limit,
        mode=mode,
        schema_name_prefix=schema_name_prefix,
    )
