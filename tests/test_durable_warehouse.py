"""Durable warehouse twin (EP2/EP3 over partitioned txlog tables):
the persisted pipeline must produce the exact same warehouse as the
in-memory subsequent_load, while rewriting ONLY the fact partitions
the delta's years touch."""

from __future__ import annotations

import datetime as dt
import hashlib
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from library_data_warehouse_and_business_analytics_system_spark import schema as S
from library_data_warehouse_and_business_analytics_system_spark.generators.library_data import (
    AS_OF, generate,
)
from library_data_warehouse_and_business_analytics_system_spark.plans.library import (
    incremental as INC, initial_load,
)
from library_data_warehouse_and_business_analytics_system_spark.plans.library.durable import (
    DIMS, publish_warehouse, read_warehouse, subsequent_load_durable,
)
from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
    tx_latest_id,
)


# Opt-in slow lane (r14): durable-warehouse round-trips build the full warehouse repeatedly.
pytestmark = pytest.mark.slow


@pytest.fixture(scope="module")
def oltp(spark):
    return {k: v.cache()
            for k, v in generate(seed=42, scale=0.02).to_spark(spark).items()}


@pytest.fixture(scope="module")
def dw(spark, oltp):
    return {k: v.cache() for k, v in initial_load(spark, oltp, AS_OF).items()}


def _same(a, b):
    assert a.count() == b.count()
    assert a.select(sorted(a.columns)) \
        .exceptAll(b.select(sorted(a.columns))).count() == 0
    assert b.select(sorted(a.columns)) \
        .exceptAll(a.select(sorted(a.columns))).count() == 0


def _fact_digests(root, name):
    base = Path(root) / name
    return {str(f.relative_to(base)): hashlib.md5(f.read_bytes()).hexdigest()
            for f in base.rglob("*.parquet")}


def _delta(spark, oltp):
    an_order = oltp["book_orders"].limit(1).collect()[0]
    a_book = oltp["book_titles"].limit(1).collect()[0]
    sales = spark.createDataFrame(
        [("SD99991", an_order["orderId"], a_book["bookId"], 2, 0.0, 50.0)],
        S.OLTP_SCHEMAS["sales_details"])
    member = spark.createDataFrame(
        [("M9002", "ANOTHER NEW", "011-2", "a@b.c", "male", 40,
          "2 Road, Beta Town, Perak, Malaysia", "active",
          dt.date(2024, 6, 1), dt.date(2025, 5, 31))],
        S.OLTP_SCHEMAS["members"])
    return {"sales_details": sales, "members": member}


def test_durable_roundtrip_and_partition_scoped_load(spark, oltp, dw,
                                                     tmp_path):
    root = str(tmp_path / "wh")
    publish_warehouse(spark, dw, root)

    # round-trip: persisted snapshot == in-memory warehouse (borrowing
    # is published capped — the invariant the partition-scoped
    # NOT-EXISTS merge relies on)
    back = read_warehouse(spark, root)
    for name in ("dim_date", "dim_book", "dim_members", "dim_suppliers",
                 "fact_sales", "fact_purchase"):
        _same(back[name], dw[name])
    _same(back["fact_borrowing"], INC.cap_overdue_days(dw["fact_borrowing"]))

    delta = _delta(spark, oltp)
    before = _fact_digests(root, "fact_sales")
    before_borrow = _fact_digests(root, "fact_borrowing")
    dims_before = {n: tx_latest_id(f"{root}/{n}") for n in DIMS}

    subsequent_load_durable(spark, root, oltp, delta, AS_OF)

    # the delta's members rows advance dim_members alone; the other
    # dims keep their commit (the manifest pins it again)
    advanced = {n for n in DIMS
                if tx_latest_id(f"{root}/{n}") != dims_before[n]}
    assert advanced == {"dim_members"}

    # equivalence with the in-memory pipeline on the same inputs
    want = INC.subsequent_load(spark, dw, oltp, delta, AS_OF)
    got = read_warehouse(spark, root)
    for name in ("dim_book", "dim_members", "dim_suppliers",
                 "fact_sales", "fact_purchase", "fact_borrowing"):
        _same(got[name], want[name])

    # partition scope: the sales delta touches exactly one year — every
    # pre-load fact_sales file survives byte-identical, and the new
    # staged dir holds a single year partition
    after = _fact_digests(root, "fact_sales")
    for path, digest in before.items():
        assert after.get(path) == digest, f"{path} was rewritten"
    new_files = set(after) - set(before)
    assert new_files
    new_years = {p.split("/")[2] for p in new_files}  # data/<uuid>/_part=Y
    assert len(new_years) == 1
    # fact_borrowing had no delta: nothing about it changed at all
    assert _fact_digests(root, "fact_borrowing") == before_borrow

    # idempotence: replaying the same delta converges (same end state)
    subsequent_load_durable(spark, root, oltp, delta, AS_OF)
    again = read_warehouse(spark, root)
    for name in ("fact_sales", "dim_members"):
        _same(again[name], want[name])


def test_durable_borrowing_merge_caps_touched_partitions(spark, oltp, dw,
                                                         tmp_path):
    """The borrowing fact's custom merge_fn (NOT-EXISTS append + cap)
    runs partition-scoped: a borrowing delta appends exactly its new
    keys, recoded by the overdue cap, without rewriting other years."""
    from library_data_warehouse_and_business_analytics_system_spark.plans.library.etl import (
        load_fact_borrowing,
    )

    root = str(tmp_path / "wh")
    publish_warehouse(spark, dw, root)

    bb = oltp["borrowed_books"].limit(1).collect()[0]
    delta_bb = spark.createDataFrame(
        [("BR99991", bb["memberId"], bb["copyId"], bb["borrowDate"],
          bb["dueDate"], None, "borrowed", None)],
        S.OLTP_SCHEMAS["borrowed_books"])
    before = _fact_digests(root, "fact_borrowing")
    n0 = read_warehouse(spark, root)["fact_borrowing"].count()

    subsequent_load_durable(spark, root, oltp,
                            {"borrowed_books": delta_bb}, AS_OF)
    got = read_warehouse(spark, root)["fact_borrowing"]
    assert got.count() >= n0                      # append-only
    assert got.filter(F.col("overdueDays") > 15).count() == 0
    after = _fact_digests(root, "fact_borrowing")
    for path, digest in before.items():
        assert after.get(path) == digest, f"{path} was rewritten"

    # in-memory equivalence for the same borrowing delta
    want = INC.subsequent_load(spark, dw, oltp,
                               {"borrowed_books": delta_bb}, AS_OF)
    _same(got, want["fact_borrowing"])


def _chunk_borrowing(oltp, n=3):
    from library_data_warehouse_and_business_analytics_system_spark.functions import (
        text as TX,
    )
    day = TX.md5_bucket(F.col("borrowId"), n, salt="wday:")
    return [oltp["borrowed_books"].where(day == i) for i in range(n)]


def test_streaming_borrowing_ingest_equals_batch(spark, oltp, dw,
                                                 tmp_path):
    """Streaming the borrowing feed through micro-batches ≡ the
    partition-scoped batch merge over the same chunks ≡ the in-memory
    subsequent_load on their union — and a redelivered batch_id
    re-commits nothing."""
    import os
    import time as _t

    from library_data_warehouse_and_business_analytics_system_spark.plans.library.durable import (
        FACT_KEYS,
    )
    from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
        tx_latest_id,
    )
    from library_data_warehouse_and_business_analytics_system_spark.streaming.warehouse_ingest import (
        ingest_borrowing_batch, start_borrowing_ingest,
    )

    # warehouse seeded WITHOUT borrowing history for 1/3 of rows: the
    # held-out chunks arrive via the stream
    chunks = _chunk_borrowing(oltp)
    base_oltp = dict(oltp)
    base_oltp["borrowed_books"] = chunks[0]
    base_dw = initial_load(spark, base_oltp, AS_OF)

    root_s = str(tmp_path / "wh_s")
    publish_warehouse(spark, base_dw, root_s)

    # stream chunks 1..2 as parquet day-files
    src = str(tmp_path / "src")
    base_t = _t.time()
    seen = set()
    for k, chunk in enumerate(chunks[1:], start=1):
        chunk.coalesce(1).write.mode("append").parquet(src)
        fresh = {f for f in os.listdir(src) if f.endswith(".parquet")} - seen
        seen |= fresh
        for f in fresh:
            os.utime(os.path.join(src, f),
                     (base_t + k * 10, base_t + k * 10))
    stream = (spark.readStream.schema(oltp["borrowed_books"].schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = start_borrowing_ingest(stream, root_s, oltp,
                               str(tmp_path / "ck"), AS_OF)
    q.awaitTermination()
    got = read_warehouse(spark, root_s)["fact_borrowing"]

    # batch reference: same chunks merged sequentially
    root_b = str(tmp_path / "wh_b")
    publish_warehouse(spark, base_dw, root_b)
    for i, chunk in enumerate(chunks[1:]):
        ingest_borrowing_batch(chunk, i, root_b, oltp, AS_OF)
    _same(got, read_warehouse(spark, root_b)["fact_borrowing"])

    # in-memory reference: subsequent_load applied chunk-by-chunk in
    # arrival order (returnRate is a BATCH-RELATIVE measure — per-book
    # totals over the arriving batch — so the reference must see the
    # same batch boundaries the stream did; a union-load reference
    # would aggregate across chunks and legitimately differ)
    want = base_dw
    for chunk in chunks[1:]:
        want = INC.subsequent_load(spark, want, oltp,
                                   {"borrowed_books": chunk}, AS_OF)
    _same(got, want["fact_borrowing"])

    # redelivery: replaying a committed batch_id is a no-op
    n_commits = tx_latest_id(f"{root_b}/fact_borrowing")
    n_rows = read_warehouse(spark, root_b)["fact_borrowing"].count()
    ingest_borrowing_batch(chunks[1], 0, root_b, oltp, AS_OF)
    assert tx_latest_id(f"{root_b}/fact_borrowing") == n_commits
    assert read_warehouse(spark, root_b)["fact_borrowing"].count() == n_rows


def test_maintain_warehouse_bounds_metadata_keeps_data(spark, oltp, dw,
                                                       tmp_path):
    """After several loads, maintenance bounds the per-table log to
    O(1) files and reclaims dead generations, while the current
    snapshot stays bit-identical and live partition files survive
    byte-for-byte."""
    from library_data_warehouse_and_business_analytics_system_spark.plans.library.durable import (
        maintain_warehouse,
    )

    root = str(tmp_path / "wh")
    publish_warehouse(spark, dw, root)
    subsequent_load_durable(spark, root, oltp, _delta(spark, oltp), AS_OF)

    before = read_warehouse(spark, root)
    snap = {n: before[n].count() for n in before}
    live_sales = _fact_digests(root, "fact_sales")

    reclaimed = maintain_warehouse(spark, root, vacuum_retention_sec=0)
    # the merged fact's pre-merge generation for the touched year is
    # the one reclaimable dir; dims were overwritten (old gens too)
    assert reclaimed["fact_sales"] >= 1
    assert reclaimed["dim_members"] >= 1

    after = read_warehouse(spark, root)
    for n in snap:
        assert after[n].count() == snap[n], n
    _same(after["fact_sales"], before["fact_sales"])
    # live files byte-identical minus the reclaimed dead generation
    live_after = _fact_digests(root, "fact_sales")
    assert set(live_after) <= set(live_sales)
    for p, d in live_after.items():
        assert live_sales[p] == d
    # log bounded: at most the checkpoint remains per table
    assert len(list((Path(root) / "fact_sales" / "_txlog")
                    .glob("*.json"))) == 0
    # loads continue cleanly after maintenance
    subsequent_load_durable(spark, root, oltp, _delta(spark, oltp), AS_OF)
    _same(read_warehouse(spark, root)["fact_sales"],
          before["fact_sales"])


def test_maintain_with_zorder_optimizes_then_stays_identical(spark, oltp,
                                                             dw, tmp_path):
    """Maintenance with a zorder map OPTIMIZEs the named fact
    (rewritten generations, snapshot bit-identical) and the cycle's
    other guarantees still hold; loads continue afterwards."""
    from library_data_warehouse_and_business_analytics_system_spark.plans.library.durable import (
        maintain_warehouse,
    )

    root = str(tmp_path / "whz")
    publish_warehouse(spark, dw, root)
    subsequent_load_durable(spark, root, oltp, _delta(spark, oltp), AS_OF)
    # capture rows EAGERLY: vacuum(retention=0) below reclaims the
    # pre-optimize generations a lazy plan would still reference
    want = sorted(tuple(r)
                  for r in read_warehouse(spark, root)["fact_sales"]
                  .collect())

    maintain_warehouse(spark, root, vacuum_retention_sec=0,
                       zorder={"fact_sales": ["memberKey", "line_total"]})
    after = read_warehouse(spark, root)["fact_sales"]
    assert sorted(tuple(r) for r in after.collect()) == want
    # loads continue cleanly on the optimized table; the delta merge
    # is idempotent (NOT-EXISTS semantics), so rows are unchanged
    subsequent_load_durable(spark, root, oltp, _delta(spark, oltp), AS_OF)
    got = sorted(tuple(r)
                 for r in read_warehouse(spark, root)["fact_sales"]
                 .collect())
    assert got == want


def test_lqy_reports_identical_off_durable_warehouse(spark, oltp, dw,
                                                     tmp_path):
    """The three flagship LQY reports produce bit-identical results
    whether served from the in-memory warehouse or the persisted
    partitioned one — a user can switch storage without touching a
    report."""
    from library_data_warehouse_and_business_analytics_system_spark.plans.library import (
        query1, query2, query3,
    )

    root = str(tmp_path / "wh")
    publish_warehouse(spark, dw, root)
    served = read_warehouse(spark, root)
    # reports read the same warehouse dict shape; borrowing is capped
    # at publish, so cap the in-memory side identically
    mem = dict(dw)
    mem["fact_borrowing"] = INC.cap_overdue_days(dw["fact_borrowing"])
    for q in (query1, query2, query3):
        a = q(mem, 2019, 2024)
        b = q(served, 2019, 2024)
        _same(a, b)
