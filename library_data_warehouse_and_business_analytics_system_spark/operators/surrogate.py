"""Surrogate-key assignment reproducing ``seq_dim_* START WITH 100001``
(05_InitialLoading.sql:68-71) — collision-free across incremental
batches (SURVEY.md §7 "Built-in vs custom")."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .scan import running_total

SEQ_START = 100_001


def with_surrogate_key(df: DataFrame, key_col: str, order_by: list[str | Column],
                       start: int = SEQ_START) -> DataFrame:
    """Assign ``start, start+1, ...`` in ``order_by`` order.

    Deterministic (unlike monotonically_increasing_id) and contiguous
    (matching the reference's NOCACHE sequences). The single-partition
    window is fine for dimension-sized inputs; for fact-scale key
    assignment use ``zipWithIndex``-style per-partition offsets.
    """
    w = Window.orderBy(*order_by)
    return df.withColumn(key_col,
                         (F.row_number().over(w) + F.lit(start - 1)).cast("long"))


def continue_surrogate_key(existing: DataFrame, new_rows: DataFrame, key_col: str,
                           order_by: list[str | Column],
                           start: int = SEQ_START) -> DataFrame:
    """Assign keys to ``new_rows`` continuing after ``max(existing)`` —
    the incremental-load path (07_SubsequentLoading.sql:27-169 uses the
    same shared sequence across loads)."""
    row = existing.agg(F.max(key_col).alias("mx")).collect()[0]
    base = int(row["mx"]) + 1 if row["mx"] is not None else start
    return with_surrogate_key(new_rows, key_col, order_by, start=base)


def with_fact_surrogate_key(df: DataFrame, key_col: str,
                            start: int = SEQ_START) -> DataFrame:
    """Unique contiguous ids at FACT scale: partition-local row_number
    + driver-side cumulative partition offsets (the DataFrame form of
    zipWithIndex; the two-phase scan of ``operators/scan.py`` with no
    order key). No global single-partition window — the only
    coordination is one count per partition.

    Ids are unique and contiguous but their assignment order follows
    partition layout, not a business ordering — use the window variant
    (``with_surrogate_key``) when the reference's ORDER BY semantics
    matter (dimension-sized inputs only).

    Cost contract: the checkpoint materializes the input once (the
    zipWithIndex price — O(rows), measured linear at 10× data).
    Pipelines that only need UNIQUE ids, not dense contiguous ones,
    should use ``monotonically_increasing_id`` instead: zero extra
    passes, at the cost of gaps and layout-dependent values.
    """
    # order=None keeps the input layout: the ids follow partition
    # layout, and the frozen blocks guarantee the counts pass and the
    # numbering pass see the identical partitioning even downstream of
    # a nondeterministic shuffle (operators/scan.py).
    keyed, _ = running_total(df, key_col, None)
    return keyed.withColumn(key_col,
                            (F.lit(start - 1) + F.col(key_col)).cast("long"))
