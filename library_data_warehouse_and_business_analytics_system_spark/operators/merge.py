"""Batch MERGE (upsert) over plain DataFrames, Delta-native when available.

The reference's incremental loads are Oracle MERGE statements
(07_SubsequentLoading.sql:331-355,407-431; 08_InsertFines.sql:46-61).
On Delta Lake this is ``DeltaTable.merge`` — ``merge_upsert_delta``
provides that path behind a try-import (delta-spark is not installed
in this container, so the import gate selects the emulation here; the
unit test pins that selection). The emulation gives the same semantics
as a pure DataFrame transform: the caller overwrites the target with
the result. The plan is a single full-outer-shuffle join on the merge
keys — the same physical shape Delta's merge executes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

try:  # pragma: no cover - container has no delta-spark
    from delta.tables import DeltaTable
    HAS_DELTA = True
except ImportError:
    DeltaTable = None
    HAS_DELTA = False


def merge_upsert(target: DataFrame, source: DataFrame, keys: list[str],
                 update_cols: list[str] | None = None,
                 condition: Column | None = None) -> DataFrame:
    """MERGE: WHEN MATCHED THEN UPDATE (source wins on ``update_cols``,
    all non-key columns by default), WHEN NOT MATCHED THEN INSERT.

    ``update_cols`` scopes only the MATCHED branch; inserted rows
    always take every source column (Oracle MERGE's INSERT clause /
    Delta's ``whenNotMatchedInsertAll`` — a column excluded from the
    update set must not come out NULL on brand-new rows).

    ``condition`` optionally guards the update branch (matched rows
    failing it keep target values).
    """
    cols = target.columns
    update_cols = update_cols or [c for c in cols if c not in keys]
    # Explicit presence markers: inferring "matched" from key null-ness
    # breaks when a key column is legitimately NULL in either side.
    t = target.withColumn("__t", F.lit(True)).alias("t")
    s = source.withColumn("__s", F.lit(True)).alias("s")
    joined = t.join(s, keys, "full_outer")
    matched = F.col("t.__t").isNotNull() & F.col("s.__s").isNotNull()
    t_absent = F.col("t.__t").isNull()
    take_source = matched if condition is None else (matched & condition)
    out_cols = []
    for c in cols:
        if c in keys:
            out_cols.append(F.coalesce(F.col(f"t.{c}"), F.col(f"s.{c}")).alias(c))
        elif c not in source.columns:
            out_cols.append(F.col(f"t.{c}").alias(c))
        elif c in update_cols:
            out_cols.append(
                F.when(take_source | t_absent, F.col(f"s.{c}"))
                .otherwise(F.col(f"t.{c}")).alias(c)
            )
        else:  # not updated on match, still inserted on not-matched
            out_cols.append(
                F.when(t_absent, F.col(f"s.{c}"))
                .otherwise(F.col(f"t.{c}")).alias(c)
            )
    return joined.select(*out_cols)


def merge_upsert_delta(spark, target_path: str, source: DataFrame,
                       keys: list[str],
                       update_cols: list[str] | None = None,
                       condition: str | None = None) -> None:
    """Delta-native MERGE (07_SubsequentLoading.sql:331-355): WHEN
    MATCHED THEN UPDATE / WHEN NOT MATCHED THEN INSERT, executed
    in-place against the Delta table at ``target_path`` — no
    read-modify-overwrite cycle, ACID, and file-level skipping on the
    merge keys. Requires delta-spark; in environments without it
    (this container) callers use ``merge_upsert`` + overwrite, which
    is semantically identical (pytest test_scd2_merge differentials).

    ``condition`` is a SQL string over ``t``/``s`` aliases guarding
    the update branch, mirroring ``merge_upsert``'s Column guard.

    NULL-key semantics: the merge condition uses plain equality, so a
    NULL source key never matches and inserts a new row — identical to
    ``merge_upsert`` (pinned by test_merge_upsert_with_null_keys) and
    to Oracle MERGE. (A ``<=>`` null-safe join here would silently
    flip NULL-key rows from insert to update.)

    NOTE: this container has no delta-spark, so this branch has never
    executed here — its semantics are asserted only indirectly via the
    emulation differentials and the import-level smoke test
    (test_scd2_merge.py::test_delta_merge_path_gated_by_import)."""
    if not HAS_DELTA:
        raise RuntimeError(
            "delta-spark is not installed; use merge_upsert() and "
            "overwrite the target instead")
    tgt = DeltaTable.forPath(spark, target_path)
    update_cols = update_cols or [
        c for c in tgt.toDF().columns if c not in keys]
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    builder = (tgt.alias("t").merge(source.alias("s"), on)
               .whenMatchedUpdate(
                   condition=condition,
                   set={c: f"s.{c}" for c in update_cols})
               .whenNotMatchedInsertAll())
    builder.execute()


def insert_not_exists(target: DataFrame, source: DataFrame,
                      keys: list[str]) -> DataFrame:
    """``INSERT ... WHERE NOT EXISTS`` (05_InitialLoading.sql:400-406,
    07_SubsequentLoading.sql:42): append only source rows whose key is
    absent from target. Within-batch duplicates are dropped
    deterministically (first by key order) to honor the target's PK."""
    fresh = source.dropDuplicates(keys).join(target, keys, "left_anti")
    return target.unionByName(fresh.select(target.columns))
