"""Deterministic sf1 scale-probe dataset (VERDICT r11 item 5).

The driver ships sf{0.001,0.01,0.1} only; the 2x performance contract
is judged at sf0.1. This script materializes a 10x point so the
scaling SLOPE of the headline sections can be measured empirically
instead of argued at plan level: each FACT table (orders, lineitem,
events, documents, embeddings) is replicated 10x with disjoint key
offsets (copy i shifts every key column by i * 10_000_000 — far above
any sf0.1 key), dimensions stay as-is. Properties this preserves /
changes, deliberately:

- per-key row counts, value distributions, join fan-outs and date
  ranges are identical to sf0.1 (the offsets never collide);
- fact-to-dim ratio grows 10x (dims fixed) — the axis that stresses
  shuffles, aggregations and broadcast-vs-shuffle decisions;
- documents' texts repeat 10x verbatim -> dedup/minhash workloads see
  dense exact-duplicate clusters (the adversarial shape those
  operators are designed for);
- gate predicates like ``vec_id < 1000`` still select only the
  original rows, so query SELECTIVITY drops 10x — exactly what a
  bigger corpus does to a fixed query.

Output is a TIMING input only (bench.py via SPARK_GRAFT_SF_DIR; add
SPARK_GRAFT_BENCH_BUDGET_SEC=0 to time the headline items only); the
correctness oracle never runs on it. Default destination /tmp/sf1
(~10x sf0.1 on disk — regenerate on demand, never committed).

Usage: python scripts/make_sf1.py [/tmp/sf1]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

SRC = "/root/testdata/sf0.1"
COPIES = 10
OFF = 10_000_000

# fact table -> key columns that must stay disjoint across copies
FACT_KEYS = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMS = ["region", "nation", "customer", "supplier", "part"]


def main() -> None:
    dst = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    t0 = time.perf_counter()
    for t in DIMS:
        con.execute(
            f"COPY (SELECT * FROM '{SRC}/{t}.parquet') "
            f"TO '{dst}/{t}.parquet' (FORMAT PARQUET)")
        print(f"{t}: copied")
    for t, keys in FACT_KEYS.items():
        cols = [c[0] for c in con.execute(
            f"DESCRIBE SELECT * FROM '{SRC}/{t}.parquet'").fetchall()]
        sel = ", ".join(
            f"{c} + i.i * {OFF} AS {c}" if c in keys else c for c in cols)
        con.execute(
            f"COPY (SELECT {sel} FROM '{SRC}/{t}.parquet', "
            f"range({COPIES}) i(i) ORDER BY i.i) "
            f"TO '{dst}/{t}.parquet' (FORMAT PARQUET)")
        n = con.execute(
            f"SELECT COUNT(*) FROM '{dst}/{t}.parquet'").fetchone()[0]
        print(f"{t}: {n} rows")
    print(f"done in {time.perf_counter() - t0:.1f}s -> {dst}")


if __name__ == "__main__":
    main()
