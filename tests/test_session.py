"""``session.no_aqe``: nested and overlapping windows restore AQE.
``session.checkpoint``: one job pins a frame, keeps its partitioning
and answers its probes, so each round of the loops built on it costs
one job."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from library_data_warehouse_and_business_analytics_system_spark.operators import (
    dedup,
    graph,
    hierarchy,
)
from library_data_warehouse_and_business_analytics_system_spark.session import (
    checkpoint,
    no_aqe,
)

from .helpers import count_jobs

_AQE = "spark.sql.adaptive.enabled"


def test_nested_windows_restore_aqe(spark):
    assert spark.conf.get(_AQE) == "true"
    with no_aqe(spark):
        with no_aqe(spark):
            assert spark.conf.get(_AQE) == "false"
        assert spark.conf.get(_AQE) == "false"
    assert spark.conf.get(_AQE) == "true"


def test_interleaved_threads_restore_aqe(spark):
    """A enters, B enters, A leaves, B leaves: AQE stays off until the
    last window closes and is on afterwards."""
    a_in, b_in, a_out = threading.Event(), threading.Event(), \
        threading.Event()
    seen = {}

    def a():
        with no_aqe(spark):
            a_in.set()
            b_in.wait(30)
        a_out.set()

    def b():
        a_in.wait(30)
        with no_aqe(spark):
            b_in.set()
            a_out.wait(30)
            seen["after_a"] = spark.conf.get(_AQE)

    threads = [threading.Thread(target=f) for f in (a, b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert a_out.is_set() and seen == {"after_a": "false"}
    assert spark.conf.get(_AQE) == "true"


def _probes():
    return {"n": F.count(F.lit(1)), "ks": F.collect_set(F.col("k")),
            "big": F.bool_or(F.col("c") > 100)}


def _grouped(spark):
    """Seven rows (k, c), hash-partitioned on k by a shuffle."""
    return (spark.range(100).select((F.col("id") % 7).alias("k"))
            .groupBy("k").agg(F.count(F.lit(1)).alias("c")))


def test_checkpoint_is_one_job_that_answers_its_probes(spark):
    (pinned, got), jobs = count_jobs(
        spark, lambda: checkpoint(_grouped(spark), **_probes()))
    assert jobs == 1
    assert got["n"] == 7 and sorted(got["ks"]) == list(range(7))
    assert got["big"] is False
    assert pinned.count() == 7
    assert spark.conf.get(_AQE) == "true"


def test_checkpoint_probes_over_an_empty_frame(spark):
    empty = spark.createDataFrame([], "k long, c long")
    pinned, got = checkpoint(empty, **_probes())
    assert got == {"n": 0, "ks": [], "big": None}
    assert pinned.count() == 0


def test_join_on_the_checkpointed_key_reuses_its_partitioning(spark):
    pinned, got = checkpoint(_grouped(spark))
    assert got == {}
    other = spark.range(50).select((F.col("id") % 7).alias("k"), "id")
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = (pinned.join(other, "k")._jdf.queryExecution()
                .executedPlan().toString())
    finally:
        spark.conf.set(key, saved)
    # only the other side is shuffled
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert spark.conf.get(_AQE) == "true"


def _pagerank(spark, longer):
    edges = spark.createDataFrame([(i, (i + 1) % 6) for i in range(6)],
                                  "src int, dst int")
    return graph.pagerank(edges, iters=3 if longer else 2)


def _components(spark, longer):
    # a path of n edges relabels for n rounds and stops at round n + 1
    n = 5 if longer else 4
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n)],
                                  "a long, b long")
    universe = spark.range(6).withColumnRenamed("id", "doc")
    return dedup.connected_components(pairs, universe, "doc")


def _connect_by(spark, longer):
    # a chain of depth n stops at level n + 1, the first empty one
    n = 5 if longer else 4
    rows = [(0, None)] + [(i, i - 1) for i in range(1, n + 1)]
    nodes = spark.createDataFrame(rows, "k long, parent long")
    return hierarchy.connect_by_prior(nodes, "k", "parent")


@pytest.mark.parametrize("loop", [_pagerank, _components, _connect_by],
                         ids=["pagerank", "connected_components",
                              "connect_by_prior"])
def test_one_more_round_costs_one_job(spark, loop):
    """pagerank: iters 3 against 2; connected components: a 5-edge
    path against a 4-edge path over one universe; CONNECT BY: a
    depth-5 chain against a depth-4 chain."""
    shorter = count_jobs(spark, lambda: loop(spark, False))[1]
    longer = count_jobs(spark, lambda: loop(spark, True))[1]
    assert longer - shorter == 1
