"""Partitioned txlog tables: partition-scoped MERGE must rewrite only
the partitions the source keys touch (VERDICT r6 item 3) — untouched
partitions' parquet files stay byte-identical, the crash contract
holds, and results match the whole-table merge."""

from __future__ import annotations

import hashlib
from pathlib import Path

import pytest

from library_data_warehouse_and_business_analytics_system_spark.sources import txlog
from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
    TxConflict, tx_checkpoint, tx_merge, tx_merge_parts, tx_read,
    tx_read_parts, tx_truncate_log, tx_vacuum, tx_write, tx_write_parts,
)


def _orders(spark, rows):
    return spark.createDataFrame(
        rows, "o_orderkey long, o_year int, o_total double")


def _file_digests(table: str) -> dict[str, str]:
    """{relative parquet path: md5} for every data file of the table."""
    root = Path(table)
    out = {}
    for f in root.rglob("*.parquet"):
        out[str(f.relative_to(root))] = hashlib.md5(f.read_bytes()).hexdigest()
    return out


def test_merge_parts_rewrites_only_touched_partitions(spark, tmp_path):
    t = str(tmp_path / "orders")
    base = _orders(spark, [(1, 2019, 10.0), (2, 2019, 20.0),
                           (3, 2020, 30.0), (4, 2021, 40.0)])
    tx_write_parts(base, t, "o_year", mode="overwrite")
    before = _file_digests(t)

    # delta touches ONLY 2020 (update) and 2022 (new partition insert)
    delta = _orders(spark, [(3, 2020, 99.0), (9, 2022, 90.0)])
    tx_merge_parts(spark, t, delta, keys=["o_orderkey"],
                   part_col="o_year")

    after = _file_digests(t)
    # every pre-merge file still exists with identical bytes — the
    # 2019/2021 partitions were NOT rewritten (the 2020 partition's
    # old file also survives: time travel references it)
    for path, digest in before.items():
        assert after.get(path) == digest, f"{path} was rewritten"
    # exactly one new staged dir appeared (the merged 2020+2022 data)
    new_files = set(after) - set(before)
    new_stage_dirs = {p.split("/")[1] for p in new_files
                      if p.startswith("data/")}
    assert len(new_stage_dirs) == 1

    got = {(r.o_orderkey, r.o_year, r.o_total)
           for r in tx_read_parts(spark, t).collect()}
    assert got == {(1, 2019, 10.0), (2, 2019, 20.0), (3, 2020, 99.0),
                   (4, 2021, 40.0), (9, 2022, 90.0)}
    # pre-merge snapshot is one time-travel hop away
    old = {(r.o_orderkey, r.o_total)
           for r in tx_read_parts(spark, t, as_of=1).collect()}
    assert old == {(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)}


def test_merge_parts_matches_whole_table_merge(spark, tmp_path):
    """Partition-scoped merge ≡ unpartitioned tx_merge on the same
    inputs (the semantics contract; only the I/O scope differs)."""
    base = _orders(spark, [(i, 2019 + i % 3, float(i)) for i in range(30)])
    delta = _orders(spark, [(5, 2021, -5.0), (17, 2021, -17.0),
                            (100, 2025, 1.0)])
    # NB: rows keep their partition (o_year untouched by the update
    # for existing keys 5/17? no — update rewrites ALL non-key cols).
    # Use a delta whose o_year matches the target rows' partitions:
    delta = _orders(spark, [(5, 2019 + 5 % 3, -5.0),
                            (17, 2019 + 17 % 3, -17.0), (100, 2025, 1.0)])

    tp = str(tmp_path / "parts")
    tx_write_parts(_orders(spark, [(i, 2019 + i % 3, float(i))
                                   for i in range(30)]),
                   tp, "o_year", mode="overwrite")
    tx_merge_parts(spark, tp, delta, keys=["o_orderkey"],
                   part_col="o_year")

    tw = str(tmp_path / "whole")
    tx_write(base, tw, mode="overwrite")
    tx_merge(spark, tw, delta, keys=["o_orderkey"])

    got = sorted((r.o_orderkey, r.o_year, r.o_total)
                 for r in tx_read_parts(spark, tp).collect())
    want = sorted((r.o_orderkey, r.o_year, r.o_total)
                  for r in tx_read(spark, tw).collect())
    assert got == want


def test_merge_parts_crash_leaves_pre_merge_snapshot(spark, tmp_path,
                                                     monkeypatch):
    t = str(tmp_path / "orders")
    tx_write_parts(_orders(spark, [(1, 2019, 10.0), (2, 2020, 20.0)]),
                   t, "o_year", mode="overwrite")

    def boom(src, dst):
        raise OSError("simulated crash at the publish point")
    monkeypatch.setattr(txlog.os, "link", boom)
    with pytest.raises(OSError):
        tx_merge_parts(spark, t, _orders(spark, [(2, 2020, 99.0)]),
                       keys=["o_orderkey"], part_col="o_year")
    monkeypatch.undo()
    # readers still on the pre-merge snapshot; staged dir is an
    # invisible orphan that vacuum reclaims
    got = {(r.o_orderkey, r.o_total)
           for r in tx_read_parts(spark, t).collect()}
    assert got == {(1, 10.0), (2, 20.0)}
    assert len(tx_vacuum(t, retention_sec=0)) == 1
    # retry succeeds
    tx_merge_parts(spark, t, _orders(spark, [(2, 2020, 99.0)]),
                   keys=["o_orderkey"], part_col="o_year")
    got = {(r.o_orderkey, r.o_total)
           for r in tx_read_parts(spark, t).collect()}
    assert got == {(1, 10.0), (2, 99.0)}


def test_merge_parts_conflict_detection(spark, tmp_path):
    """A writer committing between the merge's snapshot read and its
    publish raises TxConflict (same optimistic concurrency as
    tx_merge)."""
    t = str(tmp_path / "orders")
    tx_write_parts(_orders(spark, [(1, 2019, 10.0)]), t, "o_year",
                   mode="overwrite")

    real = txlog._visible_parts
    fired = {"done": False}

    def racing(table, as_of=None):
        state = real(table, as_of)
        if not fired["done"]:
            fired["done"] = True
            tx_write_parts(_orders(spark, [(7, 2019, 70.0)]), t,
                           "o_year", mode="append")
        return state

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(txlog, "_visible_parts", racing)
        with pytest.raises(TxConflict):
            tx_merge_parts(spark, t, _orders(spark, [(1, 2019, 11.0)]),
                           keys=["o_orderkey"], part_col="o_year")
    # racer's append survived; a re-run merges cleanly on top
    tx_merge_parts(spark, t, _orders(spark, [(1, 2019, 11.0)]),
                   keys=["o_orderkey"], part_col="o_year")
    got = {(r.o_orderkey, r.o_total)
           for r in tx_read_parts(spark, t).collect()}
    assert got == {(1, 11.0), (7, 70.0)}


def test_merge_parts_rejects_partition_moving_updates(spark, tmp_path):
    t = str(tmp_path / "orders")
    tx_write_parts(_orders(spark, [(1, 2019, 10.0)]), t, "o_year",
                   mode="overwrite")
    with pytest.raises(ValueError, match="partition column"):
        tx_merge_parts(spark, t, _orders(spark, [(1, 2020, 99.0)]),
                       keys=["o_orderkey"], part_col="o_year",
                       update_cols=["o_year", "o_total"])
    # safe spellings: part_col in keys, or excluded from update_cols
    tx_merge_parts(spark, t, _orders(spark, [(1, 2019, 99.0)]),
                   keys=["o_orderkey"], part_col="o_year",
                   update_cols=["o_total"])
    assert {(r.o_orderkey, r.o_total)
            for r in tx_read_parts(spark, t).collect()} == {(1, 99.0)}


def test_merge_parts_rejects_dtype_drift(spark, tmp_path):
    """A source whose column dtype differs from the stored one must
    fail FAST: the merge's type unification would widen only the
    touched partitions' schema, leaving mixed-generation parquet that
    plain reads reject flakily (the r11 ANN-reroute bug class).
    Casting the source to the stored dtype first is the contract."""
    t = str(tmp_path / "orders")
    base = spark.createDataFrame(
        [(1, 2019, 10.0), (2, 2020, 20.0)],
        "o_orderkey long, o_year int, o_total float")
    tx_write_parts(base, t, "o_year", mode="overwrite")

    # a DOUBLE source into a FLOAT table: the when/otherwise branches
    # unify to double — exactly the silent widening that corrupted
    # the ANN index (a narrowing source like string coerces TOWARD
    # the stored numeric instead, so widening is the drift class)
    drifted = spark.createDataFrame(
        [(1, 2019, 99.0)],
        "o_orderkey long, o_year int, o_total double")
    with pytest.raises(ValueError, match="o_total: float -> double"):
        tx_merge_parts(spark, t, drifted, keys=["o_orderkey"],
                       part_col="o_year")
    # nothing committed; the cast-first path works
    assert tx_read_parts(spark, t).count() == 2
    from pyspark.sql import functions as F
    tx_merge_parts(spark, t,
                   drifted.withColumn("o_total",
                                      F.col("o_total").cast("float")),
                   keys=["o_orderkey"], part_col="o_year")
    got = {(r.o_orderkey, r.o_total)
           for r in tx_read_parts(spark, t).collect()}
    assert got == {(1, 99.0), (2, 20.0)}


def test_merge_parts_rejects_dtype_drift_on_new_partitions(spark, tmp_path):
    """ADVICE r12 (medium): the drift guard must also cover a source
    touching only NEW partition values — that branch used to commit
    ``merged = source`` unchecked, creating exactly the
    mixed-generation parquet (float files + double files in one
    table) that later plain reads reject flakily depending on which
    file seeds schema inference."""
    t = str(tmp_path / "orders")
    base = spark.createDataFrame(
        [(1, 2019, 10.0)], "o_orderkey long, o_year int, o_total float")
    tx_write_parts(base, t, "o_year", mode="overwrite")

    # a DOUBLE source into a FLOAT table, but into a brand-new
    # partition (2022): no existing dir is read, yet the stored
    # schema must still win
    drifted = spark.createDataFrame(
        [(9, 2022, 99.0)], "o_orderkey long, o_year int, o_total double")
    with pytest.raises(ValueError, match="o_total: float -> double"):
        tx_merge_parts(spark, t, drifted, keys=["o_orderkey"],
                       part_col="o_year")
    # nothing committed; cast-first inserts cleanly and the whole
    # table still plain-reads (single-generation schema)
    assert tx_read_parts(spark, t).count() == 1
    from pyspark.sql import functions as F
    tx_merge_parts(spark, t,
                   drifted.withColumn("o_total",
                                      F.col("o_total").cast("float")),
                   keys=["o_orderkey"], part_col="o_year")
    got = {(r.o_orderkey, r.o_total)
           for r in tx_read_parts(spark, t).collect()}
    assert got == {(1, 10.0), (9, 99.0)}


def test_merge_parts_rejects_dtype_drift_with_merge_fn_new_parts(
        spark, tmp_path):
    """The merge_fn-with-empty-current branch (all-new partitions, a
    custom combine) is the second guard bypass ADVICE r12 named: the
    combine runs over source.limit(0), so its output carries the
    drifted source dtypes and must be checked against the STORED
    footer schema, not the source's own."""
    t = str(tmp_path / "orders")
    base = spark.createDataFrame(
        [(1, 2019, 10.0)], "o_orderkey long, o_year int, o_total float")
    tx_write_parts(base, t, "o_year", mode="overwrite")
    drifted = spark.createDataFrame(
        [(9, 2022, 99.0)], "o_orderkey long, o_year int, o_total double")
    with pytest.raises(ValueError, match="o_total: float -> double"):
        tx_merge_parts(spark, t, drifted, keys=["o_orderkey"],
                       part_col="o_year",
                       merge_fn=lambda cur, src: cur.unionByName(src))
    assert tx_read_parts(spark, t).count() == 1


def test_merge_parts_expect_latest_anchors_caller_snapshot(spark, tmp_path):
    """ADVICE r11 (reroute TOCTOU): a caller that derived its merge
    inputs from an earlier read passes that read's version as
    ``expect_latest``; a commit landing in between must raise
    TxConflict instead of merging against unseen state."""
    t = str(tmp_path / "orders")
    tx_write_parts(_orders(spark, [(1, 2019, 10.0)]), t, "o_year",
                   mode="overwrite")
    snap = txlog.tx_latest_id(t)
    # a racing writer advances the log past the caller's snapshot
    tx_merge_parts(spark, t, _orders(spark, [(2, 2019, 20.0)]),
                   keys=["o_orderkey"], part_col="o_year")
    with pytest.raises(TxConflict):
        tx_merge_parts(spark, t, _orders(spark, [(1, 2019, 99.0)]),
                       keys=["o_orderkey"], part_col="o_year",
                       expect_latest=snap)
    # the racer's row survives, the conflicted update never landed
    got = {(r.o_orderkey, r.o_total)
           for r in tx_read_parts(spark, t).collect()}
    assert got == {(1, 10.0), (2, 20.0)}
    # anchored at the CURRENT snapshot the same merge goes through
    tx_merge_parts(spark, t, _orders(spark, [(1, 2019, 99.0)]),
                   keys=["o_orderkey"], part_col="o_year",
                   expect_latest=txlog.tx_latest_id(t))
    got = {(r.o_orderkey, r.o_total)
           for r in tx_read_parts(spark, t).collect()}
    assert got == {(1, 99.0), (2, 20.0)}


def test_merge_parts_reads_only_touched_partitions(spark, tmp_path):
    """The merge's snapshot read must partition-prune at the METADATA
    level: only touched partitions' dirs enter the read plan."""
    t = str(tmp_path / "orders")
    tx_write_parts(_orders(spark, [(1, 2019, 1.0), (2, 2020, 2.0),
                                   (3, 2021, 3.0)]),
                   t, "o_year", mode="overwrite")
    seen = {}
    real_parquet = type(spark.read).parquet

    def spy(reader, *paths):
        seen.setdefault("paths", []).append(paths)
        return real_parquet(reader, *paths)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(type(spark.read), "parquet", spy)
        tx_merge_parts(spark, t, _orders(spark, [(2, 2020, 9.0)]),
                       keys=["o_orderkey"], part_col="o_year")
    merge_reads = [p for ps in seen["paths"] for p in ps
                   if "/data/" in p]
    assert merge_reads and all("_part=2020" in p for p in merge_reads)


def test_partitioned_checkpoint_truncate_vacuum(spark, tmp_path):
    """Maintenance ops understand partitioned entries: checkpoint
    summarizes the partition map, truncation keeps reads working,
    vacuum keeps every referenced partition dir."""
    t = str(tmp_path / "orders")
    tx_write_parts(_orders(spark, [(1, 2019, 1.0)]), t, "o_year",
                   mode="overwrite")
    tx_write_parts(_orders(spark, [(2, 2020, 2.0)]), t, "o_year",
                   mode="append")
    tx_merge_parts(spark, t, _orders(spark, [(1, 2019, 9.0)]),
                   keys=["o_orderkey"], part_col="o_year")
    assert tx_checkpoint(t) == 3
    tx_truncate_log(t)
    # vacuum may reclaim ONLY the replaced 2019 generation (its log
    # entry is truncated and the checkpoint references the commit-3
    # replacement); every checkpoint-referenced dir must survive
    assert len(tx_vacuum(t, retention_sec=0)) <= 1
    got = {(r.o_orderkey, r.o_total)
           for r in tx_read_parts(spark, t).collect()}
    assert got == {(1, 9.0), (2, 2.0)}
    # writes continue after the checkpoint with monotone ids
    assert tx_write_parts(_orders(spark, [(5, 2022, 5.0)]), t, "o_year",
                          mode="append") == 4
    assert tx_read_parts(spark, t).count() == 3
    # pruned read touches one partition only
    assert {r.o_orderkey for r in
            tx_read_parts(spark, t, part_values=["2020"]).collect()} == {2}


def test_mixed_plain_and_partitioned_entries_rejected(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write_parts(_orders(spark, [(1, 2019, 1.0)]), t, "o_year")
    tx_write(_orders(spark, [(2, 2020, 2.0)]), t)
    with pytest.raises(ValueError, match="unpartitioned commit"):
        tx_read_parts(spark, t)
    with pytest.raises(ValueError, match="partitioned commit"):
        tx_read(spark, t)


def test_null_partition_value_rejected(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.createDataFrame([(1, None, 1.0)],
                               "o_orderkey long, o_year int, o_total double")
    with pytest.raises(ValueError, match="non-null"):
        tx_write_parts(df, t, "o_year")
    # the staged dir is an invisible orphan — nothing committed
    assert not txlog.tx_exists(t)
    # a merge source's NULL partition value is not among the touched
    # partitions, but its staged write still rejects it
    v = tx_write_parts(_orders(spark, [(2, 2020, 2.0)]), t, "o_year")
    src = _orders(spark, [(1, None, 1.0), (2, 2020, 3.0)])
    with pytest.raises(ValueError, match="non-null"):
        tx_merge_parts(spark, t, src, keys=["o_orderkey"], part_col="o_year")
    assert txlog.tx_latest_id(t) == v


def test_diff_parts_change_feed_reads_only_changed_partitions(spark,
                                                              tmp_path):
    """tx_diff_parts derives the insert/delete feed between snapshots
    from dir identity: an update = delete(old)+insert(new), a new
    partition = inserts, and partitions untouched between the
    snapshots are never read."""
    from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
        tx_diff_parts,
    )

    t = str(tmp_path / "orders")
    v1 = tx_write_parts(
        _orders(spark, [(1, 2019, 10.0), (2, 2020, 20.0),
                        (3, 2021, 30.0)]), t, "o_year", mode="overwrite")
    v2 = tx_merge_parts(spark, t,
                        _orders(spark, [(2, 2020, 99.0), (9, 2022, 90.0)]),
                        keys=["o_orderkey"], part_col="o_year")

    seen = []
    real_parquet = type(spark.read).parquet

    def spy(reader, *paths):
        seen.extend(paths)
        return real_parquet(reader, *paths)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(type(spark.read), "parquet", spy)
        got = {(r.op, r.o_orderkey, r.o_year, r.o_total)
               for r in tx_diff_parts(spark, t, v1, v2).collect()}
    assert got == {("delete", 2, 2020, 20.0),
                   ("insert", 2, 2020, 99.0),
                   ("insert", 9, 2022, 90.0)}
    # only the 2020/2022 partitions' dirs entered any read
    data_reads = [p for p in seen if "/data/" in p]
    assert data_reads and all(
        "_part=2020" in p or "_part=2022" in p for p in data_reads)

    # identical snapshots -> empty feed, no data read at all
    seen.clear()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(type(spark.read), "parquet", spy)
        n = tx_diff_parts(spark, t, v2, v2).count()
    assert n == 0


def test_incremental_aggregate_refresh_equals_recompute(spark, tmp_path):
    """SUM/COUNT aggregate maintained from the change feed ≡ a full
    recompute after every merge — including group disappearance when
    an update moves a key's rows out of a group."""
    from library_data_warehouse_and_business_analytics_system_spark.operators.incremental_agg import (
        build_sum_aggregate, refresh_sum_aggregate,
    )
    from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
        tx_read,
    )

    def rows(spark, data):
        return spark.createDataFrame(
            data, "o_orderkey long, o_year int, o_cust long, o_total double")

    t = str(tmp_path / "fact")
    agg = str(tmp_path / "agg")
    tx_write_parts(rows(spark, [(1, 2019, 10, 5.0), (2, 2019, 10, 7.0),
                                (3, 2020, 11, 9.0)]),
                   t, "o_year", mode="overwrite")
    v0 = build_sum_aggregate(spark, t, agg, ["o_cust"], ["o_total"])

    # merge 1: update key 2's total AND move it to customer 12 (group
    # 10 loses a row), insert key 9 into a new partition/customer
    tx_merge_parts(spark, t, rows(spark, [(2, 2019, 12, 70.0),
                                          (9, 2022, 13, 1.0)]),
                   keys=["o_orderkey"], part_col="o_year")
    # merge 2: update key 1 away from customer 10 entirely — group 10
    # must DISAPPEAR from the aggregate
    tx_merge_parts(spark, t, rows(spark, [(1, 2019, 14, 5.5)]),
                   keys=["o_orderkey"], part_col="o_year")

    v1 = refresh_sum_aggregate(spark, t, agg, ["o_cust"], ["o_total"], v0)
    got = {(r.o_cust, r.sum_o_total, r.n_rows)
           for r in tx_read(spark, agg).collect()}

    fact = tx_read_parts(spark, t)
    want = {(r.o_cust, r.s, r.n) for r in
            fact.groupBy("o_cust")
            .agg(F_sum("o_total").alias("s"),
                 F_count().alias("n")).collect()}
    assert got == want
    assert not any(c == 10 for c, _, _ in got)      # group dropped
    # idempotent: refreshing again from the new version is a no-op
    assert refresh_sum_aggregate(spark, t, agg, ["o_cust"], ["o_total"],
                                 v1) == v1
    assert {(r.o_cust, r.sum_o_total, r.n_rows)
            for r in tx_read(spark, agg).collect()} == want


def F_sum(c):
    from pyspark.sql import functions as F
    return F.sum(c)


def F_count():
    from pyspark.sql import functions as F
    return F.count(F.lit(1)).cast("long")


def test_read_parts_schema_evolution(spark, tmp_path):
    """An append commit may add columns; merge_schema=True surfaces
    them (NULL on pre-evolution partitions) like the plain-table
    read."""
    t = str(tmp_path / "t")
    tx_write_parts(_orders(spark, [(1, 2019, 1.0)]), t, "o_year")
    evolved = spark.createDataFrame(
        [(2, 2020, 2.0, "x")],
        "o_orderkey long, o_year int, o_total double, note string")
    tx_write_parts(evolved, t, "o_year", mode="append")
    merged = tx_read_parts(spark, t, merge_schema=True)
    assert set(merged.columns) == {"o_orderkey", "o_year", "o_total",
                                   "note"}
    rows = {r.o_orderkey: r for r in merged.collect()}
    assert rows[1].note is None and rows[2].note == "x"
    assert tx_read_parts(spark, t).count() == 2


@pytest.mark.slow  # opt-in lane (r14): endurance/equivalence run
def test_incremental_minmax_refresh_two_tier(spark, tmp_path):
    """MIN/MAX maintenance: inserts and interior deletes ride the
    delta-sized fast path (0 recomputed groups); deleting a group's
    extremum triggers the recompute tier for THAT group only — and
    the result always equals a full recompute."""
    from library_data_warehouse_and_business_analytics_system_spark.operators.incremental_agg import (
        build_minmax_aggregate, refresh_minmax_aggregate,
    )
    from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
        tx_read,
    )
    from pyspark.sql import functions as F

    def rows(spark, data):
        return spark.createDataFrame(
            data, "o_orderkey long, o_year int, o_cust long, o_total double")

    def full(spark, t):
        return {(r.o_cust, r.m, r.x, r.n) for r in
                tx_read_parts(spark, t).groupBy("o_cust")
                .agg(F.min("o_total").alias("m"), F.max("o_total").alias("x"),
                     F.count(F.lit(1)).alias("n")).collect()}

    def agg_state(spark, agg):
        return {(r.o_cust, r.min_o_total, r.max_o_total, r.n_rows)
                for r in tx_read(spark, agg).collect()}

    t, agg = str(tmp_path / "fact"), str(tmp_path / "agg")
    tx_write_parts(rows(spark, [(1, 2019, 10, 5.0), (2, 2019, 10, 7.0),
                                (3, 2019, 10, 6.0), (4, 2020, 11, 9.0),
                                (5, 2020, 11, 2.0)]),
                   t, "o_year", mode="overwrite")
    v0 = build_minmax_aggregate(spark, t, agg, ["o_cust"], ["o_total"])

    # fast path: new group 12, a better max for 11, and an INTERIOR
    # update for 10 (6.0 -> 6.5 stays inside [5, 7])
    tx_merge_parts(spark, t, rows(spark, [(3, 2019, 10, 6.5),
                                          (6, 2020, 11, 99.0),
                                          (7, 2021, 12, 1.0)]),
                   keys=["o_orderkey"], part_col="o_year")
    v1, n_rec = refresh_minmax_aggregate(spark, t, agg, ["o_cust"],
                                         ["o_total"], v0)
    assert n_rec == 0                       # all delta-sized
    assert agg_state(spark, agg) == full(spark, t)

    # recompute tier: delete group 10's MAX (key 2, 7.0) by moving it
    # to group 13; group 11 untouched
    tx_merge_parts(spark, t, rows(spark, [(2, 2019, 13, 7.0)]),
                   keys=["o_orderkey"], part_col="o_year")
    v2, n_rec = refresh_minmax_aggregate(spark, t, agg, ["o_cust"],
                                         ["o_total"], v1)
    assert n_rec == 1                       # only group 10 rescanned
    assert agg_state(spark, agg) == full(spark, t)

    # group disappearance: delete ALL of group 12
    tx_merge_parts(spark, t, rows(spark, [(7, 2021, 14, 1.5)]),
                   keys=["o_orderkey"], part_col="o_year")
    v3, n_rec = refresh_minmax_aggregate(spark, t, agg, ["o_cust"],
                                         ["o_total"], v2)
    assert n_rec >= 1
    state = agg_state(spark, agg)
    assert state == full(spark, t)
    assert not any(c == 12 for c, *_ in state)
    # idempotent
    v4, n_rec = refresh_minmax_aggregate(spark, t, agg, ["o_cust"],
                                         ["o_total"], v3)
    assert (v4, n_rec) == (v3, 0)
    assert agg_state(spark, agg) == full(spark, t)


def test_partitioned_timestamp_time_travel(spark, tmp_path, monkeypatch):
    from library_data_warehouse_and_business_analytics_system_spark.sources import txlog as TX

    def rows(spark, data):
        return spark.createDataFrame(data, "k long, part int")

    t = str(tmp_path / "t")
    now = [10.0]
    monkeypatch.setattr(TX.time, "time", lambda: now[0])
    tx_write_parts(rows(spark, [(1, 2019)]), t, "part")          # @10
    now[0] = 20.0
    tx_write_parts(rows(spark, [(2, 2020)]), t, "part")          # @20
    monkeypatch.undo()
    assert {r.k for r in
            tx_read_parts(spark, t, as_of_ts=15.0).collect()} == {1}
    assert {r.k for r in
            tx_read_parts(spark, t, as_of_ts=25.0).collect()} == {1, 2}
    with pytest.raises(ValueError, match="not both"):
        tx_read_parts(spark, t, as_of=1, as_of_ts=15.0)


def test_maintenance_cycle_reclaims_superseded_generations(spark, tmp_path):
    """The composed nightly cycle the orders_maintenance_cycle gate
    runs (checkpoint → truncate → expire → vacuum at retention 0)
    must actually SHRINK state — log folds to O(1) files, the merged
    years' superseded partition dirs are reclaimed — while the live
    snapshot stays row-identical and the untouched year's parquet
    stays byte-identical."""
    from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
        tx_expire_checkpoints,
    )

    t = str(tmp_path / "orders_mc")
    base = _orders(spark, [(1, 2019, 10.0), (2, 2019, 20.0),
                           (3, 2020, 30.0), (4, 2021, 40.0)])
    tx_write_parts(base, t, "o_year", mode="overwrite")
    tx_merge_parts(spark, t,
                   _orders(spark, [(1, 2019, 15.0), (3, 2020, 35.0)]),
                   keys=["o_orderkey"], part_col="o_year",
                   update_cols=["o_total"])
    before = _file_digests(t)
    want = sorted(map(tuple, tx_read_parts(spark, t).collect()))

    tx_checkpoint(t)
    tx_truncate_log(t)
    tx_expire_checkpoints(t, keep=1)
    removed = tx_vacuum(t, retention_sec=0.0)

    # the pre-merge 2019/2020 generations are reclaimable; 2021's
    # live file is byte-identical
    assert removed, "vacuum reclaimed nothing after a superseding merge"
    after = _file_digests(t)
    assert len(after) < len(before)
    live_2021 = [p for p in after if "_part=2021" in p]
    assert live_2021 and all(after[p] == before[p] for p in live_2021)
    # log folded to O(1) files, snapshot identical
    log_files = list((Path(t) / "_txlog").glob("*.json")) or \
        list(Path(t).rglob("*.json"))
    assert len(log_files) <= 3
    got = sorted(map(tuple, tx_read_parts(spark, t).collect()))
    assert got == want == sorted(
        [(1, 2019, 15.0), (2, 2019, 20.0), (3, 2020, 35.0),
         (4, 2021, 40.0)])


def _part_paths(t: str) -> list[str]:
    return [str(Path(t) / d)
            for ds in txlog._visible_parts(t).values() for d in ds]


def test_parts_reads_use_schema_sidecar_and_launch_no_job(spark, tmp_path):
    """Tables written by tx_write_parts and tx_merge_parts read with
    their sidecar schema — tx_read_parts and a manifest-pinned
    read_consistent launch no Spark job — and match the
    footer-inferred read's schema and rows."""
    from library_data_warehouse_and_business_analytics_system_spark.sources.txmulti import (
        publish_manifest, read_consistent, snapshot_current,
    )

    from .helpers import count_jobs
    from .test_txlog import _rows, _wide

    root = tmp_path / "wh"
    t = str(root / "fact")
    tx_write_parts(_wide(spark, [1, 2], 2019).unionByName(
        _wide(spark, [3], 2020)), t, "yr", mode="overwrite")
    tx_merge_parts(spark, t, _wide(spark, [3, 4], 2020), keys=["id"],
                   part_col="yr")
    tx_write(_wide(spark, [7]), str(root / "dim"), mode="overwrite")
    publish_manifest(str(root), snapshot_current(str(root),
                                                 ["dim", "fact"]))

    df, jobs = count_jobs(spark, lambda: tx_read_parts(spark, t))
    assert jobs == 0
    inferred = spark.read.parquet(*_part_paths(t))
    assert df.schema == inferred.schema
    assert _rows(df) == _rows(inferred)
    assert [r.id for r in _rows(df)] == [1, 2, 3, 4]

    got, jobs = count_jobs(spark, lambda: read_consistent(
        spark, str(root), ["dim"], ["fact"]))
    assert jobs == 0
    assert got["fact"].schema == inferred.schema
    assert _rows(got["dim"]) == _rows(_wide(spark, [7]))


@pytest.mark.parametrize("case", ["no_sidecar", "merge_schema",
                                  "evolved_append"])
def test_parts_read_falls_back_to_inference(spark, tmp_path, case):
    """Partitioned twin of the plain fall-back cases: a stage without
    its sidecar, merge_schema, and an append that added a column all
    read exactly as the footer-inferred read."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "t")
    tx_write_parts(_orders(spark, [(1, 2019, 1.0), (2, 2020, 2.0)]), t,
                   "o_year")
    later = _orders(spark, [(3, 2020, 3.0)])
    if case == "evolved_append":
        later = later.withColumn("note", F.lit("x"))
    tx_write_parts(later, t, "o_year", mode="append")
    if case == "no_sidecar":
        first = txlog._visible_parts(t)["2019"][0]
        (Path(t) / first).parent.joinpath("_schema.json").unlink()
    merge = case == "merge_schema"
    df = tx_read_parts(spark, t, merge_schema=merge)
    reader = spark.read.option("mergeSchema", "true") if merge \
        else spark.read
    inferred = reader.parquet(*_part_paths(t))
    assert df.schema == inferred.schema
    key = lambda r: r.o_orderkey  # noqa: E731
    assert sorted(df.collect(), key=key) == \
        sorted(inferred.collect(), key=key)


def test_merge_parts_rejects_rows_moved_to_untouched_partition(spark,
                                                               tmp_path):
    """merge_fn must keep every row's part_col: a merge that stages a
    row into a partition the source does not touch raises before the
    publish (replace_parts would drop that partition's existing rows),
    and the table is left as it was."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "orders")
    tx_write_parts(_orders(spark, [(1, 2019, 1.0), (2, 2020, 2.0),
                                   (3, 2021, 3.0)]),
                   t, "o_year", mode="overwrite")
    before_id = txlog.tx_latest_id(t)
    before = sorted(tx_read_parts(spark, t).collect())

    def shift(cur, src):   # moves order 2 from 2020 into 2021
        return cur.unionByName(src).withColumn(
            "o_year", F.when(F.col("o_orderkey") == 2, F.lit(2021))
            .otherwise(F.col("o_year")))

    with pytest.raises(ValueError, match="2021"):
        tx_merge_parts(spark, t, _orders(spark, [(4, 2020, 4.0)]),
                       keys=["o_orderkey"], part_col="o_year",
                       merge_fn=shift)
    assert txlog.tx_latest_id(t) == before_id
    assert sorted(tx_read_parts(spark, t).collect()) == before


def test_merge_parts_evaluates_source_once(spark, tmp_path):
    """The merge materialises its source once: a Python UDF in the
    source runs once per source row, not once for the touched-
    partition scan and again for the staged write."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "orders")
    tx_write_parts(_orders(spark, [(1, 2019, 1.0), (2, 2020, 2.0)]), t,
                   "o_year", mode="overwrite")
    calls = spark.sparkContext.accumulator(0)

    def bump(year):
        calls.add(1)
        return year

    # on the partition column, so the touched-partition scan needs it
    src = _orders(spark, [(2, 2020, 9.0), (5, 2021, 5.0)]).withColumn(
        "o_year", F.udf(bump, "int")("o_year"))
    tx_merge_parts(spark, t, src, keys=["o_orderkey"], part_col="o_year")
    assert calls.value == 2
    assert {(r.o_orderkey, r.o_total)
            for r in tx_read_parts(spark, t).collect()} == \
        {(1, 1.0), (2, 9.0), (5, 5.0)}
