"""Vector distance/similarity expressions over ``array<float>`` columns.

The reference's hot query is pgvector's Euclidean operator:
``ORDER BY embedding <-> ?::vector LIMIT 5``
(PDF-Summarizer/src/main/java/com/yoshio3/SSEOpenAIController.java:315-316).
pgvector also defines ``<=>`` (cosine distance) and ``<#>`` (negative inner
product); the reference uses only ``<->`` but the engine exposes the whole
family (SURVEY.md §2B B1).

These are **native Catalyst expressions** (``zip_with`` + ``aggregate``), not
UDFs: they stay JVM-side inside whole-stage codegen, so a 100 TB scan never
crosses the Python boundary.  Elements are cast to double before arithmetic
and accumulated left-to-right, which makes results bit-identical to a DuckDB
oracle computing the same left-to-right double sum.

We deliberately represent vectors as plain ``ArrayType(FloatType)`` (no UDT):
pgvector stores float32 (SURVEY.md §1.2), Arrow interop stays trivial, and
the DuckDB oracle can mirror every expression.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "squared_l2_distance",
    "l2_distance",
    "dot_product",
    "l2_norm",
    "nonzero_norm",
    "cosine_similarity",
    "cosine_distance",
    "neg_inner_product",
    "vector_to_literal",
    "dim_check",
]


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _sum_elements(arr: Column) -> Column:
    # Left-to-right double accumulation (matches an oracle's sequential sum).
    return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)


def squared_l2_distance(a: Column | str, b: Column | str) -> Column:
    """Sum of squared element differences, computed in float64.

    Monotone with L2 — use this for ordering to skip the sqrt per row.
    """
    diff_sq = F.zip_with(
        _col(a), _col(b), lambda x, y: (x.cast("double") - y.cast("double")) ** 2
    )
    return _sum_elements(diff_sq)


def l2_distance(a: Column | str, b: Column | str) -> Column:
    """Euclidean distance — pgvector ``<->`` (SSEOpenAIController.java:316)."""
    return F.sqrt(squared_l2_distance(a, b))


def dot_product(a: Column | str, b: Column | str) -> Column:
    return _sum_elements(
        F.zip_with(_col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double"))
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(
        _sum_elements(F.transform(_col(a), lambda x: x.cast("double") ** 2))
    )


def nonzero_norm(a: Column | str) -> Column:
    """``l2_norm(a) > 0``, from the same ``x ** 2`` terms but stopping at
    the first non-zero one: the cosine guard (no distance at norm 0)."""
    return F.exists(_col(a), lambda x: x.cast("double") ** 2 != 0)


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_distance(a: Column | str, b: Column | str) -> Column:
    """pgvector ``<=>`` semantics: 1 - cosine similarity."""
    return F.lit(1.0) - cosine_similarity(a, b)


def neg_inner_product(a: Column | str, b: Column | str) -> Column:
    """pgvector ``<#>`` semantics: negative inner product (so ASC = best)."""
    return -dot_product(a, b)


def vector_to_literal(a: Column | str) -> Column:
    """``[v1, v2, ...]`` text form — the reference passes vectors to SQL as
    ``embedding.toString()`` cast with ``?::vector``
    (SSEOpenAIController.java:311,316-319)."""
    c = _col(a)
    return F.concat(F.lit("["), F.array_join(c, ", "), F.lit("]"))


def dim_check(a: Column | str, dim: int) -> Column:
    """Boolean invariant mirroring pgvector's fixed VECTOR(n) dimension check
    (DDL README.md:155-158).  Enforce at write with a filter or
    ``CASE WHEN NOT dim_check THEN raise_error() END``."""
    return F.size(_col(a)) == F.lit(dim)
