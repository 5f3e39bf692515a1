"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the same config block is what we
would ship to a real cluster (AQE on, adaptive skew-join, sensible
shuffle parallelism). Nothing here is local-mode-specific except the
master URL, which callers override in production.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession

#: Configs that matter at 100 TB just as much as at sf0.01.
ENGINE_CONFS: dict[str, str] = {
    # Adaptive query execution: runtime re-plan, skew-join splitting,
    # partition coalescing — essential on real data distributions.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / toPandas boundary crossing.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics regardless of host tz.
    "spark.sql.session.timeZone": "UTC",
    # Exact decimal arithmetic for money (Oracle NUMBER parity,
    # SURVEY.md §4.4).
    "spark.sql.decimalOperations.allowPrecisionLoss": "false",
    # Partition sizing: at 100 TB this is the lever that keeps a scan
    # task's input ~128MB; harmless locally.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # InferFiltersFromGenerate rewrites explode(expr) into
    # Filter(size(expr) > 0) + explode(expr) and FilterPushdown then
    # inlines the FULL generator-input expression into that filter —
    # for our derived-array explodes (shingle/window-hash/band
    # tensors, all interpreted HOF trees) every scan row paid the
    # whole tokenize+hash subtree TWICE (r13; guide §7.2 "duplicated
    # subtrees"; measured at sf0.1: the shingle explode 3.0 s →
    # 0.44 s, minhash pair gate 4.8 s → 2.3 s, outputs identical).
    # Excluding the rule is semantics-free for this engine: a
    # non-outer explode drops empty/NULL arrays itself in the SAME
    # stage, so the inferred filter saves no shuffle bytes here —
    # none of our generates sit above a join/exchange the filter
    # could have pruned. The cost duplication grows with document
    # size, so at 100 TB this is a 2× on every text-pipeline scan
    # stage, not a local-mode artifact.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}


import contextlib
import threading

_AQE = "spark.sql.adaptive.enabled"
#: Guards the open ``no_aqe`` windows: how many are open and the AQE
#: flag the first one found.
_aqe_lock = threading.Lock()
_aqe_depth = 0
_aqe_saved: str | None = None


@contextlib.contextmanager
def no_aqe(spark: SparkSession):
    """Temporarily disable AQE so an eager ``localCheckpoint`` records
    its physical ``hashpartitioning``/sort order into the LogicalRDD
    leaf (r14, guide §2.4): under AQE the final partitioning is only
    known post-execution and Spark stamps UnknownPartitioning, so
    every downstream join/aggregate re-exchanged (and re-sorted) the
    checkpointed frame. With the partitioning preserved, an iterative
    fixpoint's per-round join reuses the one exchange the checkpoint
    already paid. Scope the toggle to the checkpoint's own
    materialization — everything else still runs under AQE. This is
    partition PLACEMENT only; row values are unchanged at any scale.

    Safe to nest and to enter from several threads: the flag is
    session-global, so the first open window saves it and the last
    one to close restores it. Queries other threads plan while any
    window is open also run without AQE — again placement only."""
    global _aqe_depth, _aqe_saved
    with _aqe_lock:
        if _aqe_depth == 0:
            _aqe_saved = spark.conf.get(_AQE)
            spark.conf.set(_AQE, "false")
        _aqe_depth += 1
    try:
        yield
    finally:
        with _aqe_lock:
            _aqe_depth -= 1
            if _aqe_depth == 0:
                spark.conf.set(_AQE, _aqe_saved)


def checkpoint(df: DataFrame, **probes: Column) -> tuple[DataFrame, dict]:
    """Pin ``df`` with one eager ``localCheckpoint`` under
    :func:`no_aqe`, so its hash partitioning survives into the next
    keyed join, and return it with the value of each ``probes``
    aggregate, observed by that same job. Over no rows a probe gives
    its aggregate's empty value: 0 for ``count``, ``[]`` for
    ``collect_set``, None for ``bool_or``."""
    if probes:
        obs = Observation()
        df = df.observe(obs, *[c.alias(n) for n, c in probes.items()])
    with no_aqe(df.sparkSession):
        pinned = df.localCheckpoint()
    return pinned, obs.get if probes else {}


def get_spark(app_name: str = "library-dwh-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for local runs;
    pass ``None`` in a cluster deployment where spark-submit sets it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus))
    )
    builder = builder.config("spark.driver.memory",
                             os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    builder = builder.config("spark.ui.enabled", "false")
    return builder.getOrCreate()
