"""Vector math over ``array<float>`` columns with built-in HOFs only
(zip_with + aggregate) — JVM-side, no UDFs, so similarity scans stay
inside codegen and scale linearly with the corpus.

Determinism note: ``aggregate`` folds left-to-right, so double sums
are bit-reproducible — and match any oracle that sums sequentially.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sq_dist(a: Column, b: Column) -> Column:
    """Squared L2 distance Σ (aᵢ − bᵢ)² in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm_sq(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm."""
    return dot(a, b) / F.nullif(
        F.sqrt(l2_norm_sq(a)) * F.sqrt(l2_norm_sq(b)), F.lit(0.0))


def cosine_from_norms(dot_ab: Column, norm_sq_a: Column,
                      norm_sq_b: Column) -> Column:
    """Cosine when each side's norm² was precomputed per ROW upstream
    of the pair join — bit-identical to ``cosine()`` (sqrt of the same
    double, same multiply order) but the pair-scoring expression makes
    ONE array pass (the dot) instead of three. At n² pair counts this
    is the difference between 1 and 3 full HOF evaluations per pair."""
    return dot_ab / F.nullif(
        F.sqrt(norm_sq_a) * F.sqrt(norm_sq_b), F.lit(0.0))


def scale(a: Column, s: Column) -> Column:
    return F.transform(a, lambda x: x.cast("double") * s)


def add(a: Column, b: Column) -> Column:
    return F.zip_with(a, b, lambda x, y: x.cast("double") + y.cast("double"))
