"""The two-phase ordered scan (operators/scan.py) through its five
SQL-family callers: each gives the same answer at every range
partition count and takes empty input; and no module grows its own
copy of the range layout."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from library_data_warehouse_and_business_analytics_system_spark.operators import scan
from library_data_warehouse_and_business_analytics_system_spark.operators.mixture import (
    temperature_mixture,
)
from library_data_warehouse_and_business_analytics_system_spark.operators.packing import (
    pack_sequences,
)
from library_data_warehouse_and_business_analytics_system_spark.operators.ranking import (
    with_global_rank,
    with_group_rank,
)
from library_data_warehouse_and_business_analytics_system_spark.operators.surrogate import (
    with_fact_surrogate_key,
)


def _docs(spark, n):
    # one dominant source and a tail, so a source spans many blocks
    rows = [(i, "tail" if i % 5 == 0 else "big", "w " * (1 + i * 7 % 13))
            for i in range(n)]
    return spark.createDataFrame(rows,
                                 "doc_id long, source string, text string")


def _surrogate(df, parts):
    # ids follow layout, so compare the id set: unique and contiguous
    out = with_fact_surrogate_key(df.repartition(parts), "sk")
    return sorted(r["sk"] for r in out.collect())


def _packing(df, parts):
    return sorted(map(tuple, pack_sequences(df, seq_len=8,
                                            n_partitions=parts).collect()))


def _global_rank(df, parts):
    out, n = with_global_rank(df, [F.col("text"), F.col("doc_id")],
                              n_partitions=parts)
    return n, sorted((r["doc_id"], r["global_rank"]) for r in out.collect())


def _group_rank(df, parts):
    out = with_group_rank(df, ["source"], [F.col("text"), F.col("doc_id")],
                          n_partitions=parts)
    return sorted((r["doc_id"], r["group_rank"]) for r in out.collect())


def _mixture(df, parts):
    out = temperature_mixture(df, total_budget=200, n_partitions=parts)
    return sorted(map(tuple, out.collect()))


CALLERS = {"surrogate": (_surrogate, []), "packing": (_packing, []),
           "global_rank": (_global_rank, (0, [])),
           "group_rank": (_group_rank, []), "mixture": (_mixture, [])}


@pytest.mark.parametrize("caller", CALLERS)
def test_partition_count_invariance(spark, caller):
    run, _ = CALLERS[caller]
    df = _docs(spark, 120)
    results = [run(df, parts) for parts in (1, 3, 7)]
    assert results[0] == results[1] == results[2]
    if caller == "surrogate":
        assert results[0] == list(range(100_001, 100_121))


@pytest.mark.parametrize("caller", CALLERS)
def test_empty_input(spark, caller):
    run, empty = CALLERS[caller]
    assert run(_docs(spark, 0), 4) == empty


def test_range_layout_lives_only_in_scan():
    """Every two-phase scan goes through operators/scan.py; the only
    other range repartitions are file layouts (z-order clustering)."""
    pkg = Path(scan.__file__).resolve().parent.parent
    allowed = {"operators/scan.py", "sources/txlog.py", "sources/zorder.py"}
    copies = [p.relative_to(pkg).as_posix() for p in pkg.rglob("*.py")
              if "repartitionByRange(" in p.read_text()
              and p.relative_to(pkg).as_posix() not in allowed]
    assert copies == []
