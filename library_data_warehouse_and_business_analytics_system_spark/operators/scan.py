"""Two-phase ordered scan: the one owner of the range-partitioned
prefix-scan skeleton behind fact surrogate keys, sequence packing,
global and per-group ranks, temperature mixing and the ranged
time-series scans (EWMA / Holt / running sum).

A running aggregate over an ordered, optionally grouped, sequence is
naively a window ordered by the sequence — one reducer for the whole
table (or for each group). The two-phase shape spreads it over
``parts`` tasks instead:

1. layout: ``repartitionByRange`` on (group, order), so partition i
   holds strictly smaller keys than partition i+1 (with no order key
   the current layout is kept); optionally ``sortWithinPartitions``;
   each row is tagged with its partition id ``_pid`` and the layout is
   frozen with ``localCheckpoint``, so the summary pass and the finish
   pass see identical blocks even over a nondeterministic lineage;
2. summary: one small value per (``_pid``, group) block, collected —
   #partitions × #groups-straddling rows;
3. chain: on the driver, each group's block summaries fold in ``_pid``
   order through the caller's associative ``combine`` from its
   ``zero``, giving every block its carry-in;
4. finish: each block continues from its carry-in — a broadcast
   ``_off`` join plus a per-block window (:func:`running_total`), or a
   broadcast carry map read by a per-segment Arrow fold
   (:func:`segment_scan`).

The layout and summary jobs run under ``session.no_aqe``: the range
partition count is pinned to ``parts`` (the carries assume it) and
the summary is tiny by construction, so AQE has nothing to re-plan
and only adds stage-materialization jobs. Values are identical either
way. This follows *Building Advanced SQL Analytics From Low-Level
Plan Operators* (SIGMOD 2021): ordered analytics composed from a few
shared low-level operators instead of one hand-written plan each.
"""

from __future__ import annotations

import pickle
from dataclasses import dataclass
from typing import Any, Callable, Hashable, Iterable, Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ..session import no_aqe


def _frozen_blocks(df: DataFrame, parts: int, keys: Sequence[str | Column],
                   sort: bool = False) -> DataFrame:
    """Step 1: range layout on ``keys`` (none: keep the layout),
    ``_pid`` tag, eager ``localCheckpoint``."""
    if keys:
        df = df.repartitionByRange(parts, *keys)
        if sort:
            df = df.sortWithinPartitions(*keys)
    return df.withColumn("_pid", F.spark_partition_id()).localCheckpoint()


def _chain(blocks: Iterable[tuple[Hashable, int, Any]],
           combine: Callable[[Any, Any], Any],
           zero: Any) -> dict[tuple[Hashable, int], Any]:
    """Step 3: ``{(group, pid): carry-in}`` — each group's block
    summaries folded in pid order, starting from ``zero``."""
    by_group: dict[Hashable, list[tuple[int, Any]]] = {}
    for group, pid, summary in blocks:
        by_group.setdefault(group, []).append((int(pid), summary))
    carries = {}
    for group, summaries in by_group.items():
        carry = zero
        for pid, summary in sorted(summaries, key=lambda b: b[0]):
            carries[(group, pid)] = carry
            carry = combine(carry, summary)
    return carries


def running_total(df: DataFrame, out_col: str,
                  order: Sequence[str | Column] | None,
                  group: Sequence[str] = (), *,
                  measure: Column | None = None,
                  parts: int | None = None) -> tuple[DataFrame, int]:
    """Adds ``out_col`` = the inclusive running total of ``measure``
    (row count when None, so a 1-based row number) per ``group`` in
    ``order``, without a single-reducer window. Returns the frame and
    the grand total over all rows.

    ``order`` must be a strict order within a group for the result to
    be layout-independent. ``order=None`` keeps the input layout and
    numbers rows in partition order — unique, contiguous ids with no
    business order. NULL group keys are one group, as in SQL's
    ``PARTITION BY``."""
    spark = df.sparkSession
    parts = parts or spark.sparkContext.defaultParallelism
    keys = [] if order is None else [*group, *order]
    block_sum = (F.count(F.lit(1)) if measure is None
                 else F.coalesce(F.sum(measure), F.lit(0)))
    with no_aqe(spark):
        blocks = _frozen_blocks(df, parts, keys)
        rows = (blocks.groupBy("_pid", *group)
                .agg(block_sum.alias("_s")).collect())
    carries = _chain(((tuple(r[c] for c in group), r["_pid"], r["_s"])
                      for r in rows),
                     lambda acc, s: acc + s, 0)
    # carry-ins enter as a broadcast-joined tiny frame keyed on
    # (_pid, group) — a bounded hash probe per row even at 10k+
    # partitions. Group keys match null-safely: a NULL group that
    # spans partitions still gets its carry-in.
    gkeys = [f"_g{i}" for i in range(len(group))]
    off = spark.createDataFrame(
        [(pid, *g, c) for (g, pid), c in carries.items()],
        StructType([StructField("_opid", IntegerType()),
                    *[StructField(k, df.schema[c].dataType)
                      for k, c in zip(gkeys, group)],
                    StructField("_off", LongType())]))
    cond = [F.col("_pid") == F.col("_opid")] + [
        F.col(c).eqNullSafe(F.col(k)) for c, k in zip(group, gkeys)]
    w = (Window.partitionBy("_pid", *group)
         .orderBy(*(order or [F.monotonically_increasing_id()]))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    run = (F.row_number().over(w) if measure is None
           else F.sum(measure).over(w))
    out = (blocks.join(F.broadcast(off), cond, "left")
           .withColumn(out_col, (F.col("_off") + run).cast("long"))
           .drop("_pid", "_opid", "_off", *gkeys))
    return out, sum(r["_s"] for r in rows)


@dataclass(frozen=True)
class SegmentFold:
    """A sequential fold over each key's rows, split into the parts
    :func:`segment_scan` runs. A *segment* is one key's contiguous run
    of ``x`` values inside an Arrow batch; a block is all of a key's
    segments in one partition.

    - ``summarize(acc, seg)``: a block's summary, built segment by
      segment (``acc`` is None at the block's first segment); it runs
      on executors and must pickle;
    - ``combine(carry, summary)``: the carry after a block, given the
      carry before it — associative, run on the driver;
    - ``zero``: the carry-in of a key's first block;
    - ``start(carry)``: the fold state a block starts from;
    - ``emit(state, seg, outs, lo)``: folds ``seg`` from ``state``,
      writes each row's results into ``outs[name][lo:]`` and returns
      the state after it;
    - ``outputs``: the double columns ``emit`` writes.
    """
    summarize: Callable[[Any, np.ndarray], Any]
    combine: Callable[[Any, Any], Any]
    zero: Any
    emit: Callable[[Any, np.ndarray, dict, int], Any]
    outputs: tuple[str, ...]
    start: Callable[[Any], Any] = lambda carry: carry


_NO_KEY = object()       # no key seen yet in this partition


def _segments(pdf: pd.DataFrame):
    """Yield (key, lo, hi) for each contiguous key run in a sorted
    batch (keys are contiguous within a sorted partition)."""
    keys = pdf["k"].to_numpy()
    cut = np.flatnonzero(keys[1:] != keys[:-1]) + 1
    for lo, hi in zip(np.r_[0, cut], np.r_[cut, len(keys)]):
        yield keys[lo], int(lo), int(hi)


def segment_scan(base: DataFrame, fold: SegmentFold, parts: int,
                 grouped: bool = False) -> DataFrame:
    """``(k, t, x, *fold.outputs)``: ``fold`` run over each key ``k``
    of ``base`` (columns ``k``, ``t``, ``x`` double) in ``t`` order.

    Ranged (default): the two-phase scan — a key's series spreads over
    every partition its range covers, and each block starts from the
    carry its predecessors chain to; driver state is one summary per
    (partition, key). ``grouped=True``: hash-partition on ``k`` so
    every key lives wholly inside one partition and every block starts
    from ``zero`` — no summaries pass, collect or broadcast."""
    spark = base.sparkSession
    types = dict(base.dtypes)
    if grouped:
        layout = (base.repartition(parts, "k")
                  .sortWithinPartitions("k", "t")
                  .withColumn("_pid", F.spark_partition_id()))
        bc = None
    else:
        def summaries(batches: Iterator[pd.DataFrame],
                      ) -> Iterator[pd.DataFrame]:
            acc: dict = {}
            pid = None
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                pid = int(pdf["_pid"].iloc[0])
                xs = pdf["x"].to_numpy(dtype="float64")
                for k, lo, hi in _segments(pdf):
                    acc[k] = fold.summarize(acc.get(k), xs[lo:hi])
            yield pd.DataFrame(
                [(k, pid, pickle.dumps(s)) for k, s in acc.items()],
                columns=["k", "_pid", "s"])

        with no_aqe(spark):
            layout = _frozen_blocks(base, parts, ["k", "t"], sort=True)
            rows = layout.mapInPandas(
                summaries, f"k {types['k']}, _pid int, s binary").collect()
        bc = spark.sparkContext.broadcast(_chain(
            ((r["k"], r["_pid"], pickle.loads(r["s"])) for r in rows),
            fold.combine, fold.zero))

    def finish(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carries = bc.value if bc is not None else {}
        cur_key: Any = _NO_KEY
        state = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["_pid"].iloc[0])
            xs = pdf["x"].to_numpy(dtype="float64")
            outs = {c: np.empty(len(xs)) for c in fold.outputs}
            for k, lo, hi in _segments(pdf):
                if k != cur_key:
                    cur_key = k
                    state = fold.start(carries.get((k, pid), fold.zero))
                state = fold.emit(state, xs[lo:hi], outs, lo)
            yield pd.DataFrame({"k": pdf["k"].to_numpy(),
                                "t": pdf["t"].to_numpy(), "x": xs, **outs})

    return layout.mapInPandas(
        finish, f"k {types['k']}, t {types['t']}, x double"
                + "".join(f", {c} double" for c in fold.outputs))
