"""Incremental maintenance of SUM/COUNT aggregate tables from the
partitioned-table change feed — the downstream half of CDC: a
materialized daily-revenue (or any additive) rollup stays current by
applying only the CHANGED rows' contributions, instead of
recomputing over the whole fact after every merge.

Soundness: SUM and COUNT are abelian-group aggregates — an update
surfacing in ``tx_diff_parts`` as delete(old)+insert(new) contributes
``new - old`` exactly, deletes subtract, inserts add; groups whose
row count reaches zero are dropped. Hence::

    refresh(agg, feed(v0 → v1)) ≡ full recompute at v1

bit-exactly for integer/decimal sums and exactly-up-to-FP-reassociation
for doubles (the same caveat any partial aggregation has). AVG comes
out of (sum, count); MIN/MAX are NOT maintainable this way (deleting
the current extremum needs a rescan) and are deliberately excluded.

Scale shape: the feed is changed-partition-bounded (tx_diff_parts
reads only replaced partitions), the delta rollup is a two-phase hash
aggregate on the group key, and the aggregate table itself is
group-cardinality-sized — the full-outer refresh join moves aggregate
rows, never fact rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import checkpoint
from ..sources.txlog import (tx_diff_parts, tx_latest_id, tx_read,
                             tx_read_parts, tx_write)


def _rollup(rows: DataFrame, group_cols: list[str],
            sum_cols: list[str], signed: bool) -> DataFrame:
    sign = (F.when(F.col("op") == "insert", F.lit(1)).otherwise(F.lit(-1))
            if signed else F.lit(1))
    aggs = [F.sum(F.col(c) * sign).alias(f"sum_{c}") for c in sum_cols]
    aggs.append(F.sum(sign).cast("long").alias("n_rows"))
    return rows.groupBy(*group_cols).agg(*aggs)


def build_sum_aggregate(spark: SparkSession, fact_table: str,
                        agg_table: str, group_cols: list[str],
                        sum_cols: list[str],
                        txn_id: str | None = None) -> int:
    """Full build of the aggregate table from the fact's current
    snapshot; returns the fact VERSION the aggregate now reflects —
    the caller persists it and hands it to the next ``refresh``."""
    version = tx_latest_id(fact_table)
    fact = tx_read_parts(spark, fact_table, as_of=version)
    agg = _rollup(fact, group_cols, sum_cols, signed=False)
    tx_write(agg, agg_table, mode="overwrite", txn_id=txn_id)
    return version


def refresh_sum_aggregate(spark: SparkSession, fact_table: str,
                          agg_table: str, group_cols: list[str],
                          sum_cols: list[str], since_version: int,
                          txn_id: str | None = None) -> int:
    """Apply the fact's change feed since ``since_version`` to the
    aggregate table (one atomic overwrite of the aggregate — it is
    group-sized, not fact-sized); returns the new reflected version."""
    version = tx_latest_id(fact_table)
    if version == since_version:
        return version
    feed = tx_diff_parts(spark, fact_table, since_version, version)
    delta = _rollup(feed, group_cols, sum_cols, signed=True).alias("d")
    cur = tx_read(spark, agg_table).alias("c")
    # USING-style join keeps one unambiguous column per group key,
    # coalesced across sides by Spark itself
    merged = cur.join(delta, group_cols, "full_outer")
    out_cols = list(group_cols)
    val_cols = []
    for c in sum_cols:
        val_cols.append(
            (F.coalesce(F.col(f"c.sum_{c}"), F.lit(0))
             + F.coalesce(F.col(f"d.sum_{c}"), F.lit(0)))
            .alias(f"sum_{c}"))
    val_cols.append(
        (F.coalesce(F.col("c.n_rows"), F.lit(0))
         + F.coalesce(F.col("d.n_rows"), F.lit(0)))
        .cast("long").alias("n_rows"))
    refreshed = (merged.select(*out_cols, *val_cols)
                 .filter(F.col("n_rows") > 0))
    tx_write(refreshed, agg_table, mode="overwrite", txn_id=txn_id)
    return version


# ---------------------------------------------------------------------------
# MIN/MAX maintenance. Not an abelian group: deleting the current
# extremum of a group needs a rescan (the docstring above excludes it
# from the SUM path for exactly that reason). The honest incremental
# contract is therefore two-tier:
#
# - FAST PATH (delta-sized): inserts only improve extremes
#   (least/greatest against the current row); deletes that stay
#   STRICTLY INSIDE a group's (min, max) cannot change either extreme
#   and only adjust n_rows.
# - RECOMPUTE PATH (affected groups only): a group whose deleted
#   values touch its current min or max (<=/>= — equality is
#   conservative, a duplicated extremum may survive but we cannot
#   know without multiplicity bookkeeping) is re-aggregated from the
#   base snapshot, restricted to those group keys. At scale that is
#   a pushed-down semi-join scan — proportional to the affected
#   groups' data when the group key correlates with partitioning,
#   never more than one base pass otherwise. The refresh returns the
#   recomputed-group count so callers can see the slow tier working.


def _minmax_rollup(rows: DataFrame, group_cols: list[str],
                   val_cols: list[str]) -> DataFrame:
    aggs = []
    for c in val_cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    aggs.append(F.count(F.lit(1)).alias("n_rows"))
    return rows.groupBy(*group_cols).agg(*aggs)


def build_minmax_aggregate(spark: SparkSession, fact_table: str,
                           agg_table: str, group_cols: list[str],
                           val_cols: list[str],
                           txn_id: str | None = None) -> int:
    version = tx_latest_id(fact_table)
    fact = tx_read_parts(spark, fact_table, as_of=version)
    tx_write(_minmax_rollup(fact, group_cols, val_cols), agg_table,
             mode="overwrite", txn_id=txn_id)
    return version


def refresh_minmax_aggregate(spark: SparkSession, fact_table: str,
                             agg_table: str, group_cols: list[str],
                             val_cols: list[str], since_version: int,
                             txn_id: str | None = None) -> tuple[int, int]:
    """Catch the MIN/MAX aggregate up from the change feed. Returns
    ``(new_version, n_recomputed_groups)``."""
    version = tx_latest_id(fact_table)
    if version == since_version:
        return version, 0
    feed = tx_diff_parts(spark, fact_table, since_version, version)
    ins = _minmax_rollup(feed.filter(F.col("op") == "insert").drop("op"),
                         group_cols, val_cols)
    dels = _minmax_rollup(feed.filter(F.col("op") == "delete").drop("op"),
                          group_cols, val_cols)
    ren = lambda df, p: df.select(  # noqa: E731
        *group_cols, *[F.col(c).alias(f"{p}{c}") for c in df.columns
                       if c not in group_cols])
    cur = tx_read(spark, agg_table)
    joined = (ren(cur, "c_")
              .join(ren(ins, "i_"), group_cols, "full_outer")
              .join(ren(dels, "d_"), group_cols, "full_outer"))

    touched = F.lit(False)
    for c in val_cols:
        touched = touched | (F.col(f"d_min_{c}") <= F.col(f"c_min_{c}")) \
                          | (F.col(f"d_max_{c}") >= F.col(f"c_max_{c}"))
    # NULL semantics do the right thing: no deletes → comparisons are
    # NULL → coalesce(False); a brand-new group (no current row) also
    # lands on the fast path as pure inserts.
    needs_recompute = F.coalesce(touched, F.lit(False))

    fast_cols = list(group_cols)
    for c in val_cols:
        fast_cols += [
            F.least(F.col(f"c_min_{c}"), F.col(f"i_min_{c}"))
             .alias(f"min_{c}"),
            F.greatest(F.col(f"c_max_{c}"), F.col(f"i_max_{c}"))
             .alias(f"max_{c}")]
    fast_cols.append(
        (F.coalesce(F.col("c_n_rows"), F.lit(0))
         + F.coalesce(F.col("i_n_rows"), F.lit(0))
         - F.coalesce(F.col("d_n_rows"), F.lit(0)))
        .cast("long").alias("n_rows"))
    fast = (joined.filter(~needs_recompute).select(*fast_cols)
            .filter(F.col("n_rows") > 0))

    affected, got = checkpoint(
        joined.filter(needs_recompute).select(*group_cols),
        n=F.count(F.lit(1)))
    n_recomputed = got["n"]
    if n_recomputed:
        base = tx_read_parts(spark, fact_table, as_of=version)
        recomputed = _minmax_rollup(
            base.join(affected, group_cols, "left_semi"),
            group_cols, val_cols)
        out = fast.unionByName(recomputed)
    else:
        out = fast
    tx_write(out, agg_table, mode="overwrite", txn_id=txn_id)
    return version, n_recomputed


# ---------------------------------------------------------------------------
# Exactly-once maintenance protocol for streaming callers. The fact
# version an aggregate reflects rides the aggregate table's OWN
# commit as its txn id (``mv:<since>-><to>``), so:
#
# - a replayed refresh of the same (since, to) span is deduped by
#   tx_write's idempotent-txn guard (nothing double-applies);
# - the reflected version is recoverable from the aggregate's log
#   alone (``reflected_version``) — no side-state file that could
#   desynchronize from the atomic commit.


def _mv_txn(since: int, to: int) -> str:
    return f"mv:{since}->{to}"


def reflected_version(agg_table: str) -> int | None:
    """The fact version the aggregate's latest mv-commit reflects, or
    None if the table has no mv-protocol commit (not yet built)."""
    from ..sources.txlog import _entries

    best = None
    for e in _entries(agg_table):
        txn = e.get("txn") or ""
        if txn.startswith("mv:") and "->" in txn:
            if best is None or e["id"] > best[0]:
                best = (e["id"], int(txn.split("->", 1)[1]))
    return best[1] if best else None


def refresh_sum_aggregate_mv(spark: SparkSession, fact_table: str,
                             agg_table: str, group_cols: list[str],
                             sum_cols: list[str]) -> int:
    """Self-locating, idempotent refresh (builds on first call): the
    reflected version comes from the aggregate's own log and the new
    state publishes under txn ``mv:<since>-><to>``, so a replayed
    span dedupes inside tx_write — the crash window "aggregate
    overwritten, caller state not yet advanced" cannot double-apply."""
    since = reflected_version(agg_table)
    version = tx_latest_id(fact_table)
    if since is None:
        return build_sum_aggregate(spark, fact_table, agg_table,
                                   group_cols, sum_cols,
                                   txn_id=_mv_txn(0, version))
    if version == since:
        return version
    return refresh_sum_aggregate(spark, fact_table, agg_table, group_cols,
                                 sum_cols, since,
                                 txn_id=_mv_txn(since, version))


def refresh_minmax_aggregate_mv(spark: SparkSession, fact_table: str,
                                agg_table: str, group_cols: list[str],
                                val_cols: list[str]) -> tuple[int, int]:
    since = reflected_version(agg_table)
    version = tx_latest_id(fact_table)
    if since is None:
        return (build_minmax_aggregate(spark, fact_table, agg_table,
                                       group_cols, val_cols,
                                       txn_id=_mv_txn(0, version)), 0)
    if version == since:
        return version, 0
    return refresh_minmax_aggregate(spark, fact_table, agg_table,
                                    group_cols, val_cols, since,
                                    txn_id=_mv_txn(since, version))
