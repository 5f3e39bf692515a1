"""Durable warehouse (EP2/EP3 at format level): the library star
schema persisted as txlog tables, with the daily incremental load
routed through PARTITION-SCOPED merges — the storage shape the
reference's key-scoped MERGE (07_SubsequentLoading.sql:331-355,
360-402, 407-431) implies at 100 TB, where a 0.1% daily delta must
not rewrite the whole fact.

Granularity choices:
- DIMENSIONS are plain txlog tables written whole-generation: they
  are small (members/books/suppliers), SCD2 touches arbitrary rows,
  and the surrogate sequence is global — one atomic overwrite per
  load that changes it is both correct and cheap. A dim the delta
  holds no rows for is not rewritten; the load's manifest keeps
  pinning its current commit.
- FACTS are partitioned txlog tables on a derived ``yearKey``
  (``dim_date.cal_year`` of the row's dateKey): the delta's rows land
  in a handful of recent years, so ``tx_merge_parts`` rewrites only
  those partitions and carries every other year forward by reference
  (tests pin untouched years' parquet files byte-identical).
  ``yearKey`` is storage-only — ``read_warehouse`` drops it, so the
  frames round-trip to the in-memory pipeline's schema exactly.
- fact_borrowing uses a custom ``merge_fn``: the reference's
  NOT-EXISTS append plus the overdueDays retro-correction, applied to
  the touched partitions' rows only — sound inductively because every
  publish (initial included) leaves its partitions capped, so rows in
  untouched partitions are already capped by the run that last wrote
  them.

Re-running a load with the same delta is idempotent END STATE-wise
(MERGE / NOT-EXISTS / SCD2 semantics — SCD2 re-application of
already-applied tracked values inserts no new versions); each table's
publish is atomic, so a driver crash mid-load leaves a prefix of
tables advanced and the re-run converges the rest.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...sources.txlog import (
    tx_merge_parts, tx_read, tx_read_parts, tx_write, tx_write_parts,
)
from ...sources.txmulti import (
    publish_manifest, read_consistent, snapshot_current,
)
from . import incremental as INC
from .etl import (load_fact_borrowing, load_fact_purchase, load_fact_sales,
                  screen_oltp)

#: storage-only partition column on fact tables
YEAR_KEY = "yearKey"

DIMS = ("dim_date", "dim_book", "dim_members", "dim_suppliers")
FACT_KEYS = {
    "fact_sales": ["sales_id"],
    "fact_borrowing": ["dateKey", "memberKey", "bookKey"],
    "fact_purchase": ["purchaseOrderId", "bookKey", "supplierKey",
                      "dateKey"],
}


def _with_year(fact: DataFrame, dim_date: DataFrame) -> DataFrame:
    """Attach the partition year via a broadcast join to the date dim
    (dateKey is a sequence surrogate, not an encoded date, so the year
    is a lookup — the same broadcast shape every fact load uses)."""
    years = F.broadcast(dim_date.select(
        "dateKey", F.col("cal_year").cast("int").alias(YEAR_KEY)))
    return fact.join(years, "dateKey")


def publish_warehouse(spark: SparkSession, dw: dict[str, DataFrame],
                      root: str) -> dict[str, str]:
    """EP2 publish: dims whole, facts year-partitioned. Returns
    {table: path}."""
    out: dict[str, str] = {}
    for name in DIMS:
        t = f"{root}/{name}"
        tx_write(dw[name], t, mode="overwrite")
        out[name] = t
    for name in FACT_KEYS:
        t = f"{root}/{name}"
        fact = _with_year(dw[name], dw["dim_date"])
        if name == "fact_borrowing":
            fact = INC.cap_overdue_days(fact)   # publish-capped invariant
        tx_write_parts(fact, t, YEAR_KEY, mode="overwrite")
        out[name] = t
    # cross-table snapshot: readers of read_warehouse(consistent=True)
    # can never see a torn state from a later crash mid-load
    publish_manifest(root, snapshot_current(root, [*DIMS, *FACT_KEYS]))
    return out


def read_warehouse(spark: SparkSession, root: str,
                   consistent: bool = False,
                   manifest_id: int | None = None) -> dict[str, DataFrame]:
    """Current snapshot of every table, fact frames stripped of the
    storage-only partition column.

    ``consistent=True`` pins every table to the commits the newest
    manifest (or ``manifest_id`` — warehouse-level time travel)
    recorded, so a load crashing mid-way between per-table commits
    can never surface as dims-advanced/facts-stale to this reader.
    The default reads each table's latest commit (what a same-process
    caller wants right after loading)."""
    if consistent or manifest_id is not None:
        got = read_consistent(spark, root, list(DIMS), list(FACT_KEYS),
                              manifest_id=manifest_id)
        return {n: (df.drop(YEAR_KEY) if n in FACT_KEYS else df)
                for n, df in got.items()}
    out: dict[str, DataFrame] = {}
    for name in DIMS:
        out[name] = tx_read(spark, f"{root}/{name}")
    for name in FACT_KEYS:
        out[name] = tx_read_parts(spark, f"{root}/{name}").drop(YEAR_KEY)
    return out


def subsequent_load_durable(spark: SparkSession, root: str,
                            oltp: dict[str, DataFrame],
                            oltp_delta: dict[str, DataFrame],
                            as_of: dt.date,
                            validate_mode: str = "quarantine") -> None:
    """EP3 against the durable warehouse: dim steps read-modify-publish
    whole generations (reusing the in-memory transforms verbatim, so
    the two pipelines cannot drift); fact deltas merge PARTITION-
    SCOPED — only the years the delta touches are read or rewritten."""
    oltp_delta = screen_oltp(oltp_delta, validate_mode, None)

    # --- dims (whole-generation overwrite, reference order :27-169) --
    dims = {n: tx_read(spark, f"{root}/{n}") for n in DIMS}
    if "book_titles" in oltp_delta:
        dims["dim_book"] = INC.insert_new_dim_books(
            dims["dim_book"], oltp_delta["book_titles"])
        tx_write(dims["dim_book"], f"{root}/dim_book", mode="overwrite")
    if "members" in oltp_delta:
        dims["dim_members"] = INC.insert_new_dim_members(
            dims["dim_members"], oltp_delta["members"], as_of)
        tx_write(dims["dim_members"], f"{root}/dim_members",
                 mode="overwrite")
    if "suppliers" in oltp_delta:
        dims["dim_suppliers"] = INC.insert_new_dim_suppliers(
            dims["dim_suppliers"], oltp_delta["suppliers"])
        tx_write(dims["dim_suppliers"], f"{root}/dim_suppliers",
                 mode="overwrite")

    dim_date = dims["dim_date"]

    # --- facts (partition-scoped merges, :324-435) -------------------
    if "sales_details" in oltp_delta:
        delta = _with_year(load_fact_sales(
            oltp_delta["sales_details"], oltp["book_orders"],
            oltp["book_titles"], oltp["discounts"], dim_date,
            dims["dim_members"], dims["dim_book"]), dim_date)
        tx_merge_parts(spark, f"{root}/fact_sales", delta,
                       keys=FACT_KEYS["fact_sales"], part_col=YEAR_KEY)
    if "borrowed_books" in oltp_delta:
        delta = _with_year(load_fact_borrowing(
            oltp_delta["borrowed_books"], oltp["book_copies"], dim_date,
            dims["dim_members"], dims["dim_book"], as_of), dim_date)
        keys = FACT_KEYS["fact_borrowing"]
        from ...operators.merge import insert_not_exists
        tx_merge_parts(
            spark, f"{root}/fact_borrowing", delta, keys=keys,
            part_col=YEAR_KEY,
            merge_fn=lambda cur, src: INC.cap_overdue_days(
                insert_not_exists(cur, src, keys)))
    if "purchase_orders" in oltp_delta:
        delta = _with_year(load_fact_purchase(
            oltp_delta["purchase_orders"], oltp["purchase_details"],
            dim_date, dims["dim_book"], dims["dim_suppliers"]), dim_date)
        tx_merge_parts(spark, f"{root}/fact_purchase", delta,
                       keys=FACT_KEYS["fact_purchase"], part_col=YEAR_KEY)

    # All tables committed: pin the new consistent snapshot. A crash
    # ANYWHERE above leaves consistent readers on the previous
    # manifest; the idempotent re-run converges the tables and the
    # manifest advances here.
    publish_manifest(root, snapshot_current(root, [*DIMS, *FACT_KEYS]))


def maintain_warehouse(spark: SparkSession, root: str, *,
                       vacuum_retention_sec: float = 3600.0,
                       keep_checkpoints: int = 1,
                       zorder: dict[str, list[str]] | None = None,
                       stats: dict[str, list[str]] | None = None,
                       bloom: dict[str, list[str]] | None = None) -> dict:
    """Metadata/disk maintenance after N daily loads (the warehouse
    analogue of the dedup index's ``maintain_index``). Per table, in
    order:

    1. COMPACT live merge-on-read deletes (``tx_compact_deletes``) —
       a table that took cheap equality deletes since the last pass
       refuses plain reads and checkpoints until its delete eras are
       rolled into one copy-on-write commit; maintenance is exactly
       where that rollup belongs (VERDICT r7 item 4).
    2. Optionally OPTIMIZE (``zorder`` maps fact name → clustering
       columns; each listed fact is rewritten Z-ordered via
       ``tx_optimize_parts``).
    3. REFRESH skipping sidecars (``stats``/``bloom`` map table name →
       columns): OPTIMIZE and compaction publish fresh dirs with no
       stats and no bloom sidecars, so pruning would silently degrade
       to always-read; ``tx_refresh_stats`` re-harvests footer min/max
       and rebuilds missing bloom sidecars for the live generation,
       and the checkpoint below carries the registrations past log
       truncation.
    4. Checkpoint the current state, truncate the replayed log,
       expire old checkpoints, and vacuum unreferenced generations —
       so a year of daily loads leaves O(1) log files and only the
       LIVE partition generations on disk, at the price of time
       travel into pre-maintenance snapshots (which raises, never
       misreads).

    Without ``zorder``/deletes, fact DATA is untouched: partition
    dirs referenced by the current state survive vacuum
    byte-identical (a maintenance pass is then a pure metadata
    operation because partition-scoped merges already keep one live
    generation per touched partition). Returns {table: reclaimed dir
    count}."""
    from ...sources.mor import tx_compact_deletes, tx_has_live_deletes
    from ...sources.skipping import tx_refresh_stats
    from ...sources.txlog import (
        tx_checkpoint, tx_expire_checkpoints, tx_optimize_parts,
        tx_truncate_log, tx_vacuum,
    )

    out: dict[str, int] = {}
    for name in (*DIMS, *FACT_KEYS):
        t = f"{root}/{name}"
        if tx_has_live_deletes(t):
            tx_compact_deletes(spark, t)
        if zorder and name in zorder:
            tx_optimize_parts(spark, t, YEAR_KEY, zorder[name])
        scols = stats.get(name) if stats else None
        bcols = bloom.get(name) if bloom else None
        if scols or bcols:
            tx_refresh_stats(spark, t, scols, bcols)
        tx_checkpoint(t)
        tx_truncate_log(t)
        tx_expire_checkpoints(t, keep=keep_checkpoints)
        out[name] = len(tx_vacuum(t, retention_sec=vacuum_retention_sec))
    return out
