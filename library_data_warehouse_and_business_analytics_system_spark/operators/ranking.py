"""Distribution-rank surface — NTILE / PERCENT_RANK / CUME_DIST —
computed WITHOUT a global single-partition window.

The naive ``F.ntile(10).over(Window.orderBy(...))`` funnels the whole
table through ONE reducer (Spark plans an Exchange SinglePartition).
This module ranks with the two-phase ordered scan of
``operators/scan.py`` instead:

1. ``repartitionByRange`` on the order key (parallel range shuffle;
   partition i holds strictly smaller keys than partition i+1);
2. per-partition row counts → driver-side prefix offsets (one tiny
   collect of #partitions rows);
3. a PER-PARTITION ``row_number`` plus the partition's offset = the
   exact global rank; NTILE / PERCENT_RANK / CUME_DIST are then
   CLOSED-FORM arithmetic over (rank, N) — bit-identical to the SQL
   window definitions when the order is strict.

STRICT total order is required (pass a unique tie-break key): with no
ties, RANK == ROW_NUMBER, PERCENT_RANK == (rank-1)/(N-1) and
CUME_DIST == rank/N exactly as the standard defines them, and NTILE's
first-(N mod n)-buckets-get-one-extra split has the closed form below
— so the result is bit-exact vs any windowed engine, at shuffle cost
instead of single-reducer cost.

Reference parity: NTILE / PERCENT_RANK / CUME_DIST / RATIO_TO_REPORT
are the Oracle analytic-function family the reference's report
queries draw from (SURVEY.md §2 W-family).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .scan import running_total


def with_global_rank(df: DataFrame, order_by: list[Column],
                     rank_col: str = "global_rank",
                     n_partitions: int | None = None) -> tuple[DataFrame, int]:
    """Adds a 1-based dense global rank under ``order_by`` (which must
    be a STRICT total order — include a unique tie-break column).
    Returns ``(frame, n_rows)``; the count is a free by-product of the
    offsets pass. No global window: ``scan.running_total``."""
    return running_total(df, rank_col, order_by, parts=n_partitions)


def _ntile_expr(rank: Column, n_rows: int, n_tiles: int) -> Column:
    """Closed-form NTILE over a strict rank: with N = q*n + r, the
    first r buckets hold q+1 rows, the rest q — the SQL-standard
    split, as arithmetic instead of a window."""
    q, r = divmod(n_rows, n_tiles)
    if q == 0:            # fewer rows than tiles: bucket i = row i
        return rank.cast("int")
    if r == 0:
        return (F.floor((rank - 1) / q) + 1).cast("int")
    boundary = r * (q + 1)
    big = F.floor((rank - 1) / (q + 1)) + 1
    small = r + F.floor((rank - 1 - boundary) / q) + 1
    return F.when(rank <= boundary, big).otherwise(small).cast("int")


def with_rank_stats(df: DataFrame, order_by: list[Column],
                    n_tiles: int = 10,
                    n_partitions: int | None = None) -> DataFrame:
    """Adds ``global_rank``, ``ntile``, ``percent_rank`` and
    ``cume_dist`` under a strict ``order_by`` — the full SQL
    distribution-rank family, two-phase (no single-reducer window).
    Doubles are the standard formulas over exact integers < 2^53, so
    they are bit-identical to any conforming engine's."""
    ranked, n = with_global_rank(df, order_by, n_partitions=n_partitions)
    rank = F.col("global_rank")
    pr = (F.lit(0.0) if n <= 1 else
          (rank - 1).cast("double") / F.lit(float(n - 1)))
    return (ranked
            .withColumn("ntile", _ntile_expr(rank, n, n_tiles))
            .withColumn("percent_rank", pr)
            .withColumn("cume_dist", rank.cast("double") / F.lit(float(n))))


def with_group_rank(df: DataFrame, group_cols: list[str],
                    order_by: list[Column],
                    rank_col: str = "group_rank",
                    n_partitions: int | None = None) -> DataFrame:
    """Per-GROUP strict rank without `Window.partitionBy(group)` over
    raw rows: the global-rank trap has a grouped twin — a handful of
    huge groups (order priorities, event types, data sources) each
    funnel through one reducer under a per-group window. Same cure:
    range-partition on (group, order) so each group's timeline spreads
    over many partitions, count per (partition, group), chain the
    per-group offsets on the driver (#partitions × #groups-straddling
    rows — tiny), and add a per-(partition, group) row_number to the
    broadcast offset (``scan.running_total``). ``order_by`` must be
    strict within a group (include a unique tie-break); NULL group
    keys rank as one group, as under ``PARTITION BY``."""
    ranked, _ = running_total(df, rank_col, order_by, group_cols,
                              parts=n_partitions)
    # public column order: the group keys lead
    return ranked.select(*group_cols, *[c for c in ranked.columns
                                        if c not in group_cols])


def group_quantile_disc(df: DataFrame, group_cols: list[str], val_col: str,
                        tie_col: str, q: float = 0.5,
                        out_col: str = "q_value",
                        n_partitions: int | None = None) -> DataFrame:
    """Exact discrete per-group quantile (lower median at q=0.5) by
    rank SELECTION, not sorting-to-one-reducer: two-phase group rank,
    then keep the row whose rank equals ceil(q·n) (the SQL
    ``percentile_disc`` pick). Returns one row per group:
    ``(*group_cols, out_col, n_rows)``. Selection never does float
    arithmetic on the values, so the result is engine-portable
    bit-for-bit."""
    ranked = with_group_rank(
        df, group_cols, [F.col(val_col), F.col(tie_col)],
        n_partitions=n_partitions)
    sizes = ranked.groupBy(*group_cols).agg(F.count("*").alias("n_rows"))
    target = F.ceil(F.lit(q) * F.col("n_rows")).cast("long")
    return (ranked.join(F.broadcast(sizes), group_cols)
            .filter(F.col("group_rank") == target)
            .select(*group_cols, F.col(val_col).alias(out_col), "n_rows"))
