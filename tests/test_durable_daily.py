"""A daily load shaped like the benchmark's (new borrows and one sales
order, no dimension rows) against a small durable warehouse: it must
commit only the facts it changes, advance the manifest, and leave the
consistent read equal to the in-memory load."""

from __future__ import annotations

from library_data_warehouse_and_business_analytics_system_spark import schema as S
from library_data_warehouse_and_business_analytics_system_spark.generators.library_data import (
    AS_OF, LibraryData, generate,
)
from library_data_warehouse_and_business_analytics_system_spark.plans.library import (
    incremental as INC, initial_load,
)
from library_data_warehouse_and_business_analytics_system_spark.plans.library.durable import (
    DIMS, FACT_KEYS, publish_warehouse, read_warehouse,
    subsequent_load_durable,
)
from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
    tx_latest_id,
)
from library_data_warehouse_and_business_analytics_system_spark.sources.txmulti import (
    latest_manifest,
)


def _col(table: str, name: str) -> int:
    return [f.name for f in S.OLTP_SCHEMAS[table].fields].index(name)


def _split(tables: dict[str, list[tuple]]):
    """(base tables, delta tables): the delta holds the last borrow
    day's borrows and the last sales order's lines."""
    borrows, lines = tables["borrowed_books"], tables["sales_details"]
    day = max(r[_col("borrowed_books", "borrowDate")] for r in borrows)
    order = max(r[_col("sales_details", "orderId")] for r in lines)
    is_new = {
        "borrowed_books":
            lambda r: r[_col("borrowed_books", "borrowDate")] == day,
        "sales_details":
            lambda r: r[_col("sales_details", "orderId")] == order,
    }
    base = {t: [r for r in rows if not (t in is_new and is_new[t](r))]
            for t, rows in tables.items()}
    delta = {t: [r for r in tables[t] if is_new[t](r)] for t in is_new}
    return base, delta


def test_daily_load_commits_only_changed_tables(spark, tmp_path):
    data = generate(seed=7, scale=0.005)
    base, delta_rows = _split(data.tables)
    assert all(delta_rows.values())
    oltp = data.to_spark(spark)
    dw = {k: v.cache() for k, v in
          initial_load(spark, LibraryData(base).to_spark(spark),
                       AS_OF).items()}
    root = str(tmp_path / "wh")
    publish_warehouse(spark, dw, root)
    before = {n: tx_latest_id(f"{root}/{n}") for n in (*DIMS, *FACT_KEYS)}
    manifest = latest_manifest(root)["id"]

    delta = {t: spark.createDataFrame(rows, S.OLTP_SCHEMAS[t])
             for t, rows in delta_rows.items()}
    subsequent_load_durable(spark, root, oltp, delta, AS_OF)

    after = {n: tx_latest_id(f"{root}/{n}") for n in before}
    assert {n for n in before if after[n] != before[n]} == \
        {"fact_sales", "fact_borrowing"}
    assert latest_manifest(root)["id"] == manifest + 1

    want = INC.subsequent_load(spark, dw, oltp, delta, AS_OF)
    got = read_warehouse(spark, root, consistent=True)
    for name in (*DIMS, *FACT_KEYS):
        cols = sorted(want[name].columns)
        a, b = got[name].select(cols), want[name].select(cols)
        assert a.exceptAll(b).unionByName(b.exceptAll(a)).isEmpty(), name
