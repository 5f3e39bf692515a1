"""Generic SCD Type-2 apply: the set-based Spark equivalent of the
reference's row-at-a-time procedures ``Prod_Update_DimBook``
(06_Type2_DimBook.sql:22-113) and ``Prod_Update_DimMembers_T2``
(06_Type2_DimMembers.sql:4-117).

Semantics reproduced exactly:
- tracked-attribute change → expire current row
  (``expiration_date = effective − 1 day``, never before its own
  effective_date — the GREATEST/LEAST guards at
  06_Type2_DimBook.sql:55 / 06_Type2_DimMembers.sql:73) and insert a
  new current version;
- unknown natural key → plain insert (first version);
- ``close_only`` rows (inactive members, 06_Type2_DimMembers.sql:101-107)
  → expire current with NO successor;
- unchanged rows are untouched.

On Delta this is a two-step MERGE; here it is one full-outer join +
union, which is also what Delta executes physically. Update columns are
name-prefixed before the join, so the operator is lineage-safe under
repeated application (batch after batch on the same in-memory dim —
property-tested in tests/test_scd2_properties.py).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

OPEN_END = dt.date(9999, 12, 31)

_P = "__u_"  # update-side column prefix (avoids self-join ambiguity)


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    natural_key: str,
    tracked: list[str],
    surrogate_key: str,
    effective_date: dt.date,
    carried: list[str] | None = None,
    close_only_flag: str | None = None,
) -> DataFrame:
    """Apply one SCD2 batch and return the new dimension DataFrame.

    ``updates`` carries the natural key, new values for ``tracked``
    (and optionally ``carried``) columns, and — if ``close_only_flag``
    is given — a boolean column marking rows to expire without
    successor. One update row per natural key.
    """
    carried = carried or []
    eff = F.lit(effective_date)
    yesterday = F.date_sub(eff, 1)

    current = dim.filter(F.col("curr_ind") == "Y")
    history = dim.filter(F.col("curr_ind") != "Y")

    u_cols = updates.columns
    u = updates.select(*[F.col(c).alias(_P + c) for c in u_cols]) \
        .withColumn(_P + "present", F.lit(True))
    joined = current.join(
        u, F.col(natural_key) == F.col(_P + natural_key), "full_outer")

    def ucol(name: str) -> Column:
        return F.col(_P + name)

    def ccol(name: str) -> Column:
        return F.col(name)

    has_current = ccol(surrogate_key).isNotNull()
    u_present = ucol("present").isNotNull()

    changed = F.lit(False)
    for t in tracked:
        changed = changed | ~(
            F.coalesce(ccol(t).cast("string"), F.lit("~"))
            .eqNullSafe(F.coalesce(ucol(t).cast("string"), F.lit("~")))
        )
    close_only = (
        F.coalesce(ucol(close_only_flag), F.lit(False))
        if close_only_flag else F.lit(False)
    )

    # 1) current rows: keep, or expire (changed or close_only).
    expire = u_present & has_current & (changed | close_only)
    kept_current = joined.filter(has_current).select(
        *[ccol(col).alias(col) for col in dim.columns if col not in
          ("expiration_date", "curr_ind")],
        F.when(expire,
               F.greatest(yesterday, ccol("effective_date")))
        .otherwise(ccol("expiration_date")).alias("expiration_date"),
        F.when(expire, F.lit("N")).otherwise(ccol("curr_ind")).alias("curr_ind"),
    )

    # 2) successor versions: changed rows (not close-only) and brand-new keys.
    insert_new = u_present & (
        (~has_current & ~close_only) | (has_current & changed & ~close_only)
    )
    # Carried (untracked) columns: the reference's procedures insert
    # the successor version with the CURRENT row's carried values
    # (06_Type2_DimBook.sql inserts title/author/genre/popularity from
    # the existing row), so an update batch that also carries new
    # values for untracked columns must NOT see them applied — the
    # update side is used only for brand-new natural keys.
    new_rows = joined.filter(insert_new).select(
        F.coalesce(ucol(natural_key), ccol(natural_key)).alias(natural_key),
        *[F.coalesce(ucol(t), ccol(t)).alias(t) for t in tracked],
        *[F.when(has_current, ccol(col))
          .otherwise(ucol(col) if col in u_cols else F.lit(None))
          .alias(col) for col in carried],
        F.when(has_current, eff).otherwise(
            F.coalesce(ucol("effective_date") if "effective_date" in u_cols
                       else F.lit(None), eff)
        ).alias("effective_date"),
        F.lit(OPEN_END).alias("expiration_date"),
        F.lit("Y").alias("curr_ind"),
    )

    # Surrogate keys continue after the current max. The max is a
    # 1-row aggregate broadcast-crossed into the new rows — no driver
    # collect, so the whole apply stays one lazy plan. The global
    # row_number window is acceptable because SCD2 batches are
    # dimension-sized (documented contract; facts use
    # the two-phase scan of operators/scan.py, via
    # operators/surrogate.with_fact_surrogate_key).
    from pyspark.sql import Window
    mx_df = dim.agg(
        F.coalesce(F.max(surrogate_key), F.lit(100_000)).alias("__mx"))
    w = Window.orderBy(natural_key)
    new_rows = (
        new_rows.crossJoin(F.broadcast(mx_df))
        .withColumn(surrogate_key,
                    (F.row_number().over(w) + F.col("__mx")).cast("long"))
        .drop("__mx")
    )

    ordered = [c_ for c_ in dim.columns]
    return (
        history.select(ordered)
        .unionByName(kept_current.select(ordered))
        .unionByName(new_rows.select(ordered))
    )
