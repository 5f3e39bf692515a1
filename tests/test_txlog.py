"""Transactional parquet commit log: atomic visibility, snapshot
ordering, crash invisibility, vacuum safety, race retry."""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest

from library_data_warehouse_and_business_analytics_system_spark.sources import txlog
from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
    tx_exists, tx_merge, tx_read, tx_vacuum, tx_write,
)


def _df(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id long")


def test_append_overwrite_snapshots(spark, tmp_path):
    t = str(tmp_path / "t")
    assert tx_write(_df(spark, [1, 2]), t) == 1
    assert tx_write(_df(spark, [3]), t) == 2
    assert {r.id for r in tx_read(spark, t).collect()} == {1, 2, 3}
    assert tx_write(_df(spark, [9]), t, mode="overwrite") == 3
    assert {r.id for r in tx_read(spark, t).collect()} == {9}
    assert tx_write(_df(spark, [10]), t) == 4
    assert {r.id for r in tx_read(spark, t).collect()} == {9, 10}


def test_crashed_stage_is_invisible_and_vacuumed(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(_df(spark, [1]), t)
    # simulate a crash AFTER data write, BEFORE the log publish:
    # stage a directory by hand with no commit entry
    orphan = Path(t) / "data" / "deadbeef"
    _df(spark, [99]).write.parquet(str(orphan))
    assert {r.id for r in tx_read(spark, t).collect()} == {1}
    # default retention protects a young staged dir (it could belong
    # to an in-flight writer about to publish)...
    assert tx_vacuum(t) == []
    assert orphan.exists()
    # ...zero-grace vacuum (no writers active) reclaims it
    removed = tx_vacuum(t, retention_sec=0)
    assert removed == ["deadbeef"]
    assert not orphan.exists()
    # committed data survives vacuum
    assert {r.id for r in tx_read(spark, t).collect()} == {1}


def test_vacuum_reclaims_overwritten_generation(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(_df(spark, [1]), t)
    tx_write(_df(spark, [2]), t, mode="overwrite")
    # the first generation is unreachable but still on disk... no:
    # it IS still referenced by commit 1 (time travel would need it).
    # vacuum keeps every logged dir — only unlogged dirs go.
    assert tx_vacuum(t, retention_sec=0) == []
    assert {r.id for r in tx_read(spark, t).collect()} == {2}


def test_commit_race_retries(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(_df(spark, [1]), t)
    # occupy the next id as a competing writer would: stage its data
    # dir and publish its log entry by hand
    _df(spark, [77]).write.parquet(str(Path(t) / "data" / "rival"))
    log = Path(t) / "_txlog"
    with open(log / f"{2:08d}.json", "x") as fh:
        json.dump({"id": 2, "mode": "append", "dir": "data/rival"}, fh)
    cid = tx_write(_df(spark, [3]), t)
    assert cid == 3  # skipped the taken id
    rows = sorted(r.id for r in tx_read(spark, t).collect())
    assert rows == [1, 3, 77]


def test_read_empty_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        tx_read(spark, str(tmp_path / "nope"))


def test_time_travel_reads(spark, tmp_path):
    """as_of replays the log only up to that commit — overwrites later
    than the snapshot are invisible, and historical generations stay
    readable because vacuum never removes logged dirs."""
    t = str(tmp_path / "t")
    tx_write(_df(spark, [1, 2]), t)                     # commit 1
    tx_write(_df(spark, [3]), t)                        # commit 2
    tx_write(_df(spark, [9]), t, mode="overwrite")      # commit 3
    assert {r.id for r in tx_read(spark, t, as_of=1).collect()} == {1, 2}
    assert {r.id for r in tx_read(spark, t, as_of=2).collect()} == {1, 2, 3}
    assert {r.id for r in tx_read(spark, t, as_of=3).collect()} == {9}
    assert {r.id for r in tx_read(spark, t).collect()} == {9}
    tx_vacuum(t, retention_sec=0)
    assert {r.id for r in tx_read(spark, t, as_of=1).collect()} == {1, 2}
    with pytest.raises(FileNotFoundError):
        tx_read(spark, t, as_of=0)

def _kv(spark, pairs):
    return spark.createDataFrame(pairs, "id long, v string")


def test_tx_merge_upsert_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "t")
    assert not tx_exists(t)
    # bootstrap: merge into an empty table publishes the source
    assert tx_merge(spark, t, _kv(spark, [(1, "a"), (2, "b")]), ["id"]) == 1
    assert tx_exists(t)
    # upsert: id=2 updates, id=3 inserts — one atomic overwrite commit
    cid = tx_merge(spark, t, _kv(spark, [(2, "B"), (3, "c")]), ["id"])
    assert cid == 2
    got = {(r.id, r.v) for r in tx_read(spark, t).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}
    # time travel still sees the pre-merge generation
    pre = {(r.id, r.v) for r in tx_read(spark, t, as_of=1).collect()}
    assert pre == {(1, "a"), (2, "b")}


def test_tx_merge_crash_between_stage_and_publish(spark, tmp_path,
                                                  monkeypatch):
    """A crash after the merged data dir is staged but before the log
    entry publishes must leave readers on the PRE-merge snapshot —
    never a half-merged table — and the retry must succeed."""
    t = str(tmp_path / "t")
    tx_merge(spark, t, _kv(spark, [(1, "a"), (2, "b")]), ["id"])
    before = {(r.id, r.v) for r in tx_read(spark, t).collect()}

    def boom(src, dst):
        raise OSError("simulated crash at the publish point")

    monkeypatch.setattr(txlog.os, "link", boom)
    with pytest.raises(OSError, match="simulated crash"):
        tx_merge(spark, t, _kv(spark, [(2, "B"), (3, "c")]), ["id"])
    monkeypatch.undo()

    # readers: pre-merge snapshot, intact
    assert {(r.id, r.v) for r in tx_read(spark, t).collect()} == before
    # the staged merge output is an invisible orphan; vacuum reclaims it
    orphans = tx_vacuum(t, retention_sec=0)
    assert len(orphans) == 1
    assert {(r.id, r.v) for r in tx_read(spark, t).collect()} == before
    # retry completes the merge atomically
    tx_merge(spark, t, _kv(spark, [(2, "B"), (3, "c")]), ["id"])
    got = {(r.id, r.v) for r in tx_read(spark, t).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_tx_write_crash_leaves_no_partial_log_entry(spark, tmp_path,
                                                    monkeypatch):
    """The publish is an atomic link of a fully-written temp file: a
    crash can't leave a truncated .json that poisons every reader."""
    t = str(tmp_path / "t")
    tx_write(_kv(spark, [(1, "a")]), t)

    def boom(src, dst):
        raise OSError("simulated crash mid-publish")

    monkeypatch.setattr(txlog.os, "link", boom)
    with pytest.raises(OSError):
        tx_write(_kv(spark, [(2, "b")]), t)
    monkeypatch.undo()
    log = Path(t) / "_txlog"
    # exactly the one complete entry; no temp litter, all parseable
    files = sorted(log.iterdir())
    assert [f.name for f in files] == ["00000001.json"]
    json.loads(files[0].read_text())
    assert {r.id for r in tx_read(spark, t).collect()} == {1}


def test_checkpoint_accelerated_reads_and_time_travel(spark, tmp_path):
    """A checkpoint summarizes the visible state; reads replay only
    newer commits and every pre-checkpoint snapshot stays readable
    while its log entries remain."""
    from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
        tx_checkpoint,
    )

    t = str(tmp_path / "t")
    tx_write(_df(spark, [1, 2]), t)                 # 1
    tx_write(_df(spark, [3]), t)                    # 2
    assert tx_checkpoint(t) == 2
    assert tx_checkpoint(t) == 2                    # idempotent
    tx_write(_df(spark, [9]), t, mode="overwrite")  # 3
    tx_write(_df(spark, [10]), t)                   # 4
    assert {r.id for r in tx_read(spark, t).collect()} == {9, 10}
    assert {r.id for r in tx_read(spark, t, as_of=1).collect()} == {1, 2}
    assert {r.id for r in tx_read(spark, t, as_of=2).collect()} == {1, 2, 3}
    assert {r.id for r in tx_read(spark, t, as_of=3).collect()} == {9}


def test_truncate_log_bounds_metadata_and_guards_history(spark, tmp_path):
    """Truncation deletes entries the checkpoint covers: current and
    post-checkpoint reads work from the checkpoint alone, commit ids
    stay monotone, vacuum keeps checkpoint-referenced dirs, and a
    pre-checkpoint as_of raises instead of silently replaying a gap."""
    from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
        tx_checkpoint, tx_exists, tx_truncate_log,
    )

    t = str(tmp_path / "t")
    tx_write(_df(spark, [1]), t)                    # 1
    tx_write(_df(spark, [2]), t)                    # 2
    tx_checkpoint(t)
    removed = tx_truncate_log(t)
    assert removed == ["00000001.json", "00000002.json"]
    assert tx_exists(t)
    assert {r.id for r in tx_read(spark, t).collect()} == {1, 2}
    # vacuum must keep dirs only the checkpoint references
    assert tx_vacuum(t, retention_sec=0) == []
    assert {r.id for r in tx_read(spark, t).collect()} == {1, 2}
    # ids continue after the checkpointed history
    assert tx_write(_df(spark, [3]), t) == 3
    assert {r.id for r in tx_read(spark, t).collect()} == {1, 2, 3}
    assert {r.id for r in tx_read(spark, t, as_of=2).collect()} == {1, 2}
    with pytest.raises(ValueError, match="truncated"):
        tx_read(spark, t, as_of=1)


def test_tx_apply_scd2_atomic_publish(spark, tmp_path, monkeypatch):
    """SCD2 expire-and-insert through the commit log: the published
    generation equals a direct scd2_apply, a crash at the publish
    point leaves readers on the pre-update dimension, and time travel
    reaches the pre-update generation afterwards."""
    import datetime as dt

    from library_data_warehouse_and_business_analytics_system_spark.operators.scd2 import (
        OPEN_END, scd2_apply,
    )
    from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
        tx_apply_scd2,
    )

    dim_schema = ("bookKey long, bookId string, price double, "
                  "effective_date date, expiration_date date, curr_ind string")
    dim = spark.createDataFrame(
        [(100001, "B1", 50.0, dt.date(2020, 1, 1), OPEN_END, "Y")],
        dim_schema)
    updates = spark.createDataFrame([("B1", 55.0)],
                                    "bookId string, price double")
    kwargs = dict(natural_key="bookId", tracked=["price"],
                  surrogate_key="bookKey",
                  effective_date=dt.date(2023, 6, 15))

    t = str(tmp_path / "dim_book")
    tx_write(dim, t, mode="overwrite")

    # crash at publish: readers stay on the pre-update dimension
    def boom(src, dst):
        raise OSError("simulated crash at the publish point")
    monkeypatch.setattr(txlog.os, "link", boom)
    with pytest.raises(OSError):
        tx_apply_scd2(spark, t, updates, **kwargs)
    monkeypatch.undo()
    assert tx_read(spark, t).count() == 1

    # retry publishes; result == direct scd2_apply on the same input
    cid = tx_apply_scd2(spark, t, updates, **kwargs)
    got = tx_read(spark, t).toPandas().sort_values("bookKey") \
        .reset_index(drop=True)
    want = scd2_apply(dim, updates, **kwargs).toPandas() \
        .sort_values("bookKey").reset_index(drop=True)
    pd_cols = sorted(got.columns)
    assert got[pd_cols].equals(want[pd_cols])
    assert len(got) == 2 and set(got.curr_ind) == {"Y", "N"}
    # the pre-update dimension is one time-travel hop away
    assert tx_read(spark, t, as_of=cid - 1).count() == 1


def test_tx_read_schema_evolution(spark, tmp_path):
    """An append commit may add columns; merge_schema=True surfaces
    them (NULL on pre-evolution generations) while the default read
    stays single-footer cheap."""
    t = str(tmp_path / "t")
    tx_write(_df(spark, [1]), t)
    evolved = spark.createDataFrame([(2, "x", 9.5)],
                                    "id long, v string, score double")
    tx_write(evolved, t)
    merged = tx_read(spark, t, merge_schema=True)
    assert set(merged.columns) == {"id", "v", "score"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].score is None and rows[2].score == 9.5
    # default read still returns both commits' rows
    assert {r.id for r in tx_read(spark, t).collect()} == {1, 2}


def test_time_travel_into_truncated_gap_between_checkpoints_raises(
        spark, tmp_path):
    """ADVICE r6: with checkpoints at 2 and 4 and the log truncated
    ≤4, as_of=3 must raise — not silently resolve checkpoint 2 and
    return the commit-2 state (commit 3 would be lost)."""
    from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
        tx_checkpoint, tx_truncate_log,
    )

    t = str(tmp_path / "t")
    tx_write(_df(spark, [1]), t)                    # 1
    tx_write(_df(spark, [2]), t)                    # 2
    tx_checkpoint(t)
    tx_write(_df(spark, [3]), t)                    # 3
    tx_write(_df(spark, [4]), t)                    # 4
    tx_checkpoint(t)
    tx_truncate_log(t)                              # removes entries 1-4
    # snapshots AT checkpoint ids stay answerable
    assert {r.id for r in tx_read(spark, t, as_of=2).collect()} == {1, 2}
    assert {r.id for r in tx_read(spark, t).collect()} == {1, 2, 3, 4}
    # the gap between them is not
    with pytest.raises(ValueError, match="truncated"):
        tx_read(spark, t, as_of=3)


def test_replay_gap_in_log_entries_raises(spark, tmp_path):
    """A hole in the replayed entry sequence (manual tampering /
    partial truncation) raises instead of skipping commits — an
    overwrite inside the gap would otherwise resurrect old data."""
    t = str(tmp_path / "t")
    tx_write(_df(spark, [1]), t)                    # 1
    tx_write(_df(spark, [9]), t, mode="overwrite")  # 2
    tx_write(_df(spark, [10]), t)                   # 3
    (Path(t) / "_txlog" / "00000002.json").unlink()
    with pytest.raises(ValueError, match="truncated"):
        tx_read(spark, t)


def test_checkpoint_ignores_commit_published_mid_call(spark, tmp_path,
                                                      monkeypatch):
    """ADVICE r6: tx_checkpoint must summarize exactly the entries it
    first listed. A commit racing in mid-call must not land in the
    checkpoint's dirs while the id stays older — readers would replay
    that commit twice (duplicated rows)."""
    from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
        tx_checkpoint, tx_truncate_log,
    )

    t = str(tmp_path / "t")
    tx_write(_df(spark, [1]), t)                    # 1
    tx_write(_df(spark, [2]), t)                    # 2

    real_entries = txlog._entries
    fired = {"done": False}

    def racing_entries(table):
        out = real_entries(table)
        if not fired["done"]:
            fired["done"] = True     # publish commit 3 AFTER the
            tx_write(_df(spark, [3]), t)  # checkpoint's first listing
        return out

    monkeypatch.setattr(txlog, "_entries", racing_entries)
    cid = tx_checkpoint(t)
    monkeypatch.undo()
    assert cid == 2
    cp = json.loads(
        (Path(t) / "_txlog" / "checkpoints" / "00000002.json").read_text())
    assert len(cp["dirs"]) == 2      # commit 3's dir NOT in the summary
    # replaying checkpoint + newer entries yields each commit exactly once
    assert sorted(r.id for r in tx_read(spark, t).collect()) == [1, 2, 3]
    tx_truncate_log(t)
    assert sorted(r.id for r in tx_read(spark, t).collect()) == [1, 2, 3]


def test_tx_merge_conflict_detection(spark, tmp_path):
    """ADVICE r6: a commit published by another writer between
    tx_merge's snapshot read and its overwrite publish raises
    TxConflict instead of being silently discarded."""
    from library_data_warehouse_and_business_analytics_system_spark.operators.merge import (
        merge_upsert,
    )
    from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
        TxConflict, tx_latest_id,
    )

    t = str(tmp_path / "t")
    kv = lambda rows: spark.createDataFrame(rows, "id long, v string")  # noqa: E731
    tx_write(kv([(1, "a"), (2, "b")]), t, mode="overwrite")

    # manual read-modify-write with a racer in the middle
    base = tx_latest_id(t)
    merged = merge_upsert(tx_read(spark, t, as_of=base),
                          kv([(2, "B"), (3, "c")]), ["id"])
    tx_write(kv([(9, "racer")]), t)          # another writer commits
    with pytest.raises(TxConflict):
        tx_write(merged, t, mode="overwrite", expect_latest=base)
    # the racer's commit survives; re-running the merge sees it
    assert {r.id for r in tx_read(spark, t).collect()} == {1, 2, 9}
    tx_merge(spark, t, kv([(2, "B"), (3, "c")]), ["id"])
    assert {r.id for r in tx_read(spark, t).collect()} == {1, 2, 3, 9}


def test_curation_stop_after_validated_before_any_stage(spark, tmp_path):
    """ADVICE r6: an invalid stop_after must fail BEFORE the first
    stage executes/commits anything."""
    from library_data_warehouse_and_business_analytics_system_spark.pipelines import (
        curate_corpus_durable,
    )

    docs = spark.createDataFrame([("d1", "hello world")],
                                 "doc_id string, text string")
    root = str(tmp_path / "cur")
    with pytest.raises(ValueError, match="unknown stage"):
        curate_corpus_durable(spark, docs, root, stop_after="not_a_stage")
    assert not (Path(root) / "exact_kept").exists()


def test_expire_checkpoints_bounds_history(spark, tmp_path):
    """tx_expire_checkpoints keeps the newest checkpoint: current
    reads keep working, time travel into history only reachable via
    an expired checkpoint raises, and the expired generations' dirs
    become vacuum-eligible."""
    from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
        tx_checkpoint, tx_expire_checkpoints, tx_truncate_log,
    )

    t = str(tmp_path / "t")
    tx_write(_df(spark, [1]), t, mode="overwrite")   # 1
    tx_checkpoint(t)
    tx_write(_df(spark, [2]), t, mode="overwrite")   # 2
    tx_checkpoint(t)
    tx_truncate_log(t)
    removed = tx_expire_checkpoints(t, keep=1)
    assert removed == ["00000001.json"]
    assert {r.id for r in tx_read(spark, t).collect()} == {2}
    with pytest.raises(ValueError, match="truncated"):
        tx_read(spark, t, as_of=1)
    # commit-1's generation is now unreferenced -> reclaimable
    assert len(tx_vacuum(t, retention_sec=0)) == 1
    assert {r.id for r in tx_read(spark, t).collect()} == {2}


def test_concurrent_appenders_all_commit(spark, tmp_path):
    """Eight threads appending concurrently: the optimistic retry loop
    serializes them into eight distinct commits with no lost rows and
    a contiguous id sequence (the multi-writer contract the two-party
    race test approximates)."""
    import threading

    from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
        tx_latest_id,
    )

    t = str(tmp_path / "t")
    ids, errs = [], []

    def worker(k: int) -> None:
        try:
            ids.append(tx_write(_df(spark, [k]), t, max_retries=50))
        except Exception as exc:  # pragma: no cover - diagnostic
            errs.append(exc)

    threads = [threading.Thread(target=worker, args=(k,))
               for k in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []
    assert sorted(ids) == list(range(1, 9))      # distinct, contiguous
    assert tx_latest_id(t) == 8
    assert {r.id for r in tx_read(spark, t).collect()} == set(range(8))


def test_timestamp_time_travel(spark, tmp_path, monkeypatch):
    """Delta's timestampAsOf: commits stamped at controlled clocks;
    a query timestamp resolves to the latest commit at-or-before it,
    skewed clocks are monotonized, and a timestamp below surviving
    history raises instead of guessing."""
    from library_data_warehouse_and_business_analytics_system_spark.sources import txlog as TX

    t = str(tmp_path / "t")
    now = [100.0]                         # third writer's clock skews BACK
    monkeypatch.setattr(TX.time, "time", lambda: now[0])
    tx_write(spark.range(0, 1), t)                                # id1 @100
    now[0] = 200.0
    tx_write(spark.range(1, 2), t)                                # id2 @200
    now[0] = 150.0
    tx_write(spark.range(2, 3), t)                                # id3 @150
    monkeypatch.undo()

    assert TX.tx_version_at(t, 100.0) == 1
    assert TX.tx_version_at(t, 199.9) == 1
    assert TX.tx_version_at(t, 200.0) == 3   # skewed 150 monotonized to 200
    assert TX.tx_version_at(t, 1e12) == 3
    with pytest.raises(ValueError, match="predates the first commit"):
        TX.tx_version_at(t, 99.9)

    got = sorted(r["id"] for r in
                 TX.tx_read(spark, t, as_of_ts=199.0).collect())
    assert got == [0]
    got = sorted(r["id"] for r in
                 TX.tx_read(spark, t, as_of_ts=5000.0).collect())
    assert got == [0, 1, 2]
    with pytest.raises(ValueError, match="not both"):
        TX.tx_read(spark, t, as_of=1, as_of_ts=100.0)

    # truncation: surviving entries no longer reach back to ts=100
    TX.tx_checkpoint(t)
    TX.tx_truncate_log(t)
    now[0] = 300.0
    monkeypatch.setattr(TX.time, "time", lambda: now[0])
    tx_write(spark.range(3, 4), t)
    monkeypatch.undo()
    assert TX.tx_version_at(t, 301.0) == 4
    with pytest.raises(ValueError, match="history truncated"):
        TX.tx_version_at(t, 250.0)


def test_tx_history(spark, tmp_path):
    from library_data_warehouse_and_business_analytics_system_spark.sources import txlog as TX

    t = str(tmp_path / "t")
    tx_write(_df(spark, [1]), t)
    tx_write(_df(spark, [2]), t, mode="overwrite", txn_id="job-7")
    h = TX.tx_history(t)
    assert [r["id"] for r in h] == [2, 1]
    assert h[0]["operation"] == "overwrite" and h[0]["txn"] == "job-7"
    assert h[1]["operation"] == "append" and h[1]["ts"] is not None
    # truncation surfaces as an explicit checkpoint horizon
    TX.tx_checkpoint(t)
    TX.tx_truncate_log(t)
    tx_write(_df(spark, [3]), t)
    h = TX.tx_history(t)
    assert h[-1]["operation"] == "checkpoint-horizon"
    assert [r["id"] for r in h[:-1]] == [3]


def _wide(spark, ids, year=2020):
    """Rows covering the types a schema sidecar must round-trip:
    decimal(38,6), date, timestamp, array<float>, struct and a NOT
    NULL column."""
    import datetime as dt
    from decimal import Decimal

    from pyspark.sql.types import (
        ArrayType, DateType, DecimalType, FloatType, IntegerType, LongType,
        StringType, StructField, StructType, TimestampType,
    )

    schema = StructType([
        StructField("id", LongType(), False),
        StructField("yr", IntegerType(), False),
        StructField("amt", DecimalType(38, 6)),
        StructField("day", DateType()),
        StructField("at", TimestampType()),
        StructField("vec", ArrayType(FloatType(), False)),
        StructField("tag", StructType([StructField("k", StringType(), False),
                                       StructField("n", IntegerType())])),
    ])
    return spark.createDataFrame(
        [(i, year, Decimal(i) / 7, dt.date(2020, 1, 1 + i % 28),
          dt.datetime(2020, 1, 1, i % 24), [float(i), 0.5], (f"k{i}", i))
         for i in ids], schema)


def _dir_paths(t: str) -> list[str]:
    return [str(Path(t) / d) for d in txlog._visible_dirs(t)]


def _rows(df):
    return sorted(df.collect(), key=lambda r: r.id)


def test_read_uses_schema_sidecar_and_launches_no_job(spark, tmp_path):
    """A table written by tx_write reads with the schema its sidecar
    recorded: no inference job, and the same schema and rows as the
    footer-inferred read."""
    from .helpers import count_jobs

    t = str(tmp_path / "t")
    tx_write(_wide(spark, [1, 2]), t)
    tx_write(_wide(spark, [3]), t)
    assert (Path(t) / txlog._visible_dirs(t)[0] / "_schema.json").is_file()
    df, jobs = count_jobs(spark, lambda: tx_read(spark, t))
    assert jobs == 0
    inferred = spark.read.parquet(*_dir_paths(t))
    assert df.schema == inferred.schema
    assert not any(f.nullable is False for f in df.schema.fields)
    assert _rows(df) == _rows(inferred)


@pytest.mark.parametrize("case", ["no_sidecar", "merge_schema",
                                  "evolved_append"])
def test_read_falls_back_to_inference(spark, tmp_path, case):
    """Reads that cannot trust one sidecar infer the schema from the
    footers as before: a dir staged without a sidecar, a
    merge_schema read, and an append that added a column."""
    from .helpers import count_jobs

    t = str(tmp_path / "t")
    tx_write(_wide(spark, [1, 2]), t)
    if case == "evolved_append":
        from pyspark.sql import functions as F
        tx_write(_wide(spark, [3]).withColumn("note", F.lit("x")), t)
    else:
        tx_write(_wide(spark, [3]), t)
    if case == "no_sidecar":
        (Path(t) / txlog._visible_dirs(t)[1] / "_schema.json").unlink()
    merge = case == "merge_schema"
    df, jobs = count_jobs(spark, lambda: tx_read(spark, t,
                                                 merge_schema=merge))
    assert jobs > 0
    reader = spark.read.option("mergeSchema", "true") if merge \
        else spark.read
    inferred = reader.parquet(*_dir_paths(t))
    assert df.schema == inferred.schema
    assert _rows(df) == _rows(inferred)
