"""Vector column expressions over ``array<float/double>`` embeddings — [EXT]
(SURVEY.md §2.2 "similarity search over embeddings").

All pure Column expressions (``zip_with``/``aggregate`` fold in codegen).
Float arrays are cast to double before arithmetic so results are
deterministic and engine-comparable (float32 -> float64 is exact).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column | str) -> Column:
    v = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL (not an ANSI DIVIDE_BY_ZERO error, not NaN)
    when either vector has zero norm — cosine is undefined there, and every
    similarity tier treats NULL as "not a candidate" so degenerate vectors
    rank identically (absent) in fold/GEMM/LSH/IVF paths."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def normalize(a: Column) -> Column:
    """Unit-normalize; with pre-normalized vectors cosine becomes a plain
    dot product — at 100 TB, normalize once at ingest, not per comparison.
    Zero-norm input yields an all-NULL vector (try_divide), not an ANSI
    divide-by-zero error."""
    n = norm(a)
    return F.transform(a, lambda x: F.try_divide(x, n))
