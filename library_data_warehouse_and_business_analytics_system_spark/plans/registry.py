"""Registry of named queries: the engine's public query surface.

Each :class:`QuerySpec` pairs a Spark plan builder with the ANSI-SQL
oracle DuckDB runs on the same parquet tables. The driver's
correctness gate (``__spark_entry__.py``) and our own pytest
differential harness both iterate this registry, so every operator
from SURVEY.md §2 that lands here is verified two ways.

Determinism contract for oracle-matched queries:
- alias every computed column identically in Spark and SQL;
- money/measure sums go through DECIMAL (exact, order-independent)
  and are cast to DOUBLE only at the end;
- any unavoidable float aggregation is rounded before output.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

#: name -> spec; populated by @register in the plan modules.
QUERIES: dict[str, "QuerySpec"] = {}


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB, or None → rows-only check
    operators: tuple[str, ...] = ()  # SURVEY.md §2 operator ids covered
    bench: bool = False  # include in bench.py headline set


def register(name: str, oracle: str | None, *,
             operators: tuple[str, ...] = (), bench: bool = False,
             ) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = QuerySpec(name=name, fn=fn, oracle=oracle,
                                  operators=operators, bench=bench)
        return fn

    return deco


def gate_root(prefix: str) -> str:
    """A fresh scratch directory for a write gate's tables, removed at
    interpreter exit: every call of a gate writes into its own root, and
    repeated bench/pytest processes would otherwise leave their roots in
    the system temp dir."""
    root = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root
