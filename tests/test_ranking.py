"""Two-phase distribution-rank operator (operators/ranking.py):
must equal Spark's own single-window NTILE / PERCENT_RANK /
CUME_DIST bit-for-bit under a strict order, while never planning a
global single-partition window."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from library_data_warehouse_and_business_analytics_system_spark.operators.ranking import (
    with_global_rank, with_rank_stats,
)


def _df(spark, n, parts=6):
    # non-trivial value distribution incl. duplicates in the value
    # column (the id tie-break makes the total order strict)
    return (spark.range(n).repartition(parts)
            .withColumn("v", (F.col("id") * 37 % 11).cast("long")))


def _window_truth(df, n_tiles):
    w = Window.orderBy(F.col("v").desc(), "id")
    return df.select(
        "id", "v",
        F.row_number().over(w).cast("long").alias("global_rank"),
        F.ntile(n_tiles).over(w).alias("ntile"),
        F.percent_rank().over(w).alias("percent_rank"),
        F.cume_dist().over(w).alias("cume_dist"))


@pytest.mark.parametrize("n,tiles", [(97, 10), (100, 10), (5, 7),
                                     (64, 8), (23, 4), (0, 10)])
def test_rank_stats_equal_single_window(spark, n, tiles):
    df = _df(spark, n)
    got = with_rank_stats(df, [F.col("v").desc(), F.col("id")],
                          n_tiles=tiles, n_partitions=5)
    want = _window_truth(df, tiles)
    cols = ["id", "v", "global_rank", "ntile", "percent_rank", "cume_dist"]
    g = sorted(tuple(r) for r in got.select(*cols).collect())
    w = sorted(tuple(r) for r in want.collect())
    assert g == w     # includes the raw doubles — bit-exact


def test_rank_independent_of_partitioning(spark):
    df = _df(spark, 211, parts=3)
    a = with_rank_stats(df, [F.col("v").desc(), F.col("id")],
                        n_tiles=10, n_partitions=2)
    b = with_rank_stats(df, [F.col("v").desc(), F.col("id")],
                        n_tiles=10, n_partitions=13)
    cols = ["id", "global_rank", "ntile", "percent_rank", "cume_dist"]
    assert sorted(map(tuple, a.select(*cols).collect())) == \
        sorted(map(tuple, b.select(*cols).collect()))


def test_global_rank_is_gapless_and_count_exact(spark):
    df = _df(spark, 150)
    ranked, n = with_global_rank(df, [F.col("v").desc(), F.col("id")],
                                 n_partitions=7)
    assert n == 150
    ranks = sorted(r["global_rank"] for r in ranked.collect())
    assert ranks == list(range(1, 151))


def test_no_single_partition_global_window(spark):
    """The point of the operator: the plan must contain no
    Exchange SinglePartition (ntile's naive plan does)."""
    df = _df(spark, 100)
    plan = with_rank_stats(
        df, [F.col("v").desc(), F.col("id")], n_tiles=10,
        n_partitions=4)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    naive = df.select(F.ntile(10).over(
        Window.orderBy(F.col("v").desc(), "id")).alias("t"))
    naive_plan = naive._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" in naive_plan   # what we are avoiding


# ---------------------------------------------------------------------------
# Grouped two-phase rank + discrete quantile selection.

from library_data_warehouse_and_business_analytics_system_spark.operators.ranking import (  # noqa: E402
    group_quantile_disc,
    with_group_rank,
)


def _grouped_frame(spark, n=500, groups=4):
    rows = [(f"g{i % groups}", float((i * 193) % 997), i)
            for i in range(n)]
    return spark.createDataFrame(rows, "g string, x double, k long")


def test_group_rank_equals_per_group_window(spark):
    df = _grouped_frame(spark)
    got = with_group_rank(df, ["g"], [F.col("x"), F.col("k")],
                          n_partitions=7)
    w = Window.partitionBy("g").orderBy("x", "k")
    ref = df.withColumn("group_rank",
                        F.row_number().over(w).cast("long"))
    a = {(r["g"], r["k"]): r["group_rank"] for r in got.collect()}
    b = {(r["g"], r["k"]): r["group_rank"] for r in ref.collect()}
    assert a == b


def test_group_rank_partition_count_invariance(spark):
    df = _grouped_frame(spark, n=200, groups=3)
    base = None
    for parts in (1, 5, 64):
        got = {(r["g"], r["k"]): r["group_rank"]
               for r in with_group_rank(
                   df, ["g"], [F.col("x"), F.col("k")],
                   n_partitions=parts).collect()}
        if base is None:
            base = got
        else:
            assert got == base


def test_group_rank_null_group_spans_partitions(spark):
    """A NULL group is one group (SQL PARTITION BY): when its rows span
    range partitions, the later blocks still get their carry-in."""
    rows = [(None if i < 200 else "a", float((i * 193) % 997), i)
            for i in range(400)]
    df = spark.createDataFrame(rows, "g string, x double, k long")
    got = with_group_rank(df, ["g"], [F.col("x"), F.col("k")],
                          n_partitions=4)
    w = Window.partitionBy("g").orderBy("x", "k")
    ref = df.withColumn("group_rank", F.row_number().over(w).cast("long"))
    a = {r["k"]: r["group_rank"] for r in got.collect()}
    b = {r["k"]: r["group_rank"] for r in ref.collect()}
    assert a == b


def test_group_quantile_disc_is_lower_median(spark):
    # odd and even group sizes: lower median = sorted[(n+1)//2 - 1]
    rows = ([("odd", float(v), i) for i, v in enumerate([5, 1, 9, 3, 7])]
            + [("even", float(v), i) for i, v in enumerate([4, 8, 2, 6])])
    df = spark.createDataFrame(rows, "g string, x double, k long")
    got = {r["g"]: (r["q_value"], r["n_rows"])
           for r in group_quantile_disc(
               df, ["g"], "x", "k", q=0.5, n_partitions=3).collect()}
    assert got == {"odd": (5.0, 5), "even": (4.0, 4)}


def test_group_quantile_disc_extremes(spark):
    df = _grouped_frame(spark, n=100, groups=2)
    lo = {r["g"]: r["q_value"] for r in group_quantile_disc(
        df, ["g"], "x", "k", q=1e-9).collect()}
    hi = {r["g"]: r["q_value"] for r in group_quantile_disc(
        df, ["g"], "x", "k", q=1.0).collect()}
    mins = {r["g"]: r["m"] for r in
            df.groupBy("g").agg(F.min("x").alias("m")).collect()}
    maxs = {r["g"]: r["m"] for r in
            df.groupBy("g").agg(F.max("x").alias("m")).collect()}
    assert lo == mins and hi == maxs
