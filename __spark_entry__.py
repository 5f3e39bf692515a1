"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

All real logic lives in the
``library_data_warehouse_and_business_analytics_system_spark``
package; this module just adapts its query registry to the contract.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from library_data_warehouse_and_business_analytics_system_spark.plans import (  # noqa: E402
    QUERIES,
)

SMOKE_SF_DIR = "/root/testdata/sf0.001"
FLAGSHIP = "pricing_summary"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES[FLAGSHIP].fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.fn for name, spec in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query; omitted entries get
    the driver's weaker rows-only check."""
    return {name: spec.oracle for name, spec in QUERIES.items()
            if spec.oracle is not None}
