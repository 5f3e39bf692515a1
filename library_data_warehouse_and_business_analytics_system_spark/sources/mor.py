"""Merge-on-read equality deletes for the txlog format — DELETE at
100 TB without rewriting anything.

The txlog's other write paths are copy-on-write: ``tx_merge`` and
``tx_merge_parts`` rewrite the rows (whole table / touched
partitions) that a change touches. A DELETE of 0.001 % of a 100 TB
fact must not rewrite 100 TB — Iceberg's answer is *equality delete
files* (format spec v2): a tiny sidecar of deleted KEY values,
applied at READ time to data files older than the delete. This
module is that answer at the txlog's format level:

- ``tx_delete_keys`` stages ONLY the key values being deleted (a few
  KB) and publishes a ``delete`` commit — data files untouched.
- ``tx_read_mor`` replays data and delete commits together with
  Iceberg's SEQUENCE-NUMBER semantics: an equality delete applies to
  rows from data commits with a SMALLER commit id; rows re-inserted
  AFTER the delete survive it. The read plan groups data dirs by
  which deletes apply (one anti-join per delete "era", never one per
  dir), and each anti-join is a shuffle join on the key columns —
  the delete side is tiny and AQE will broadcast it from real stats.
- ``tx_compact_deletes`` is the maintenance path: apply the
  accumulated deletes once, publish one copy-on-write overwrite
  commit (conflict-checked), after which plain ``tx_read`` /
  ``tx_checkpoint`` work again. Iceberg calls this
  rewrite_data_files / rewrite_position_delete_files.

``tx_read``/``tx_checkpoint`` on a table with live delete commits
RAISE (txlog.py guards the replay) instead of silently resurrecting
deleted rows.

Reference parity: the reference's OLTP screens issue `DELETE FROM
borrowing WHERE ...` (02_OLTP_Screens.sql); at warehouse scale the
reference re-loads, which is exactly the rewrite this path avoids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .txlog import (
    _entries, _latest_checkpoint, _publish, _read_dirs, _replay_fold,
    _stage_write, tx_latest_id,
)


def tx_delete_keys(keys_df: DataFrame, table: str,
                   key_cols: list[str], max_retries: int = 10,
                   txn_id: str | None = None) -> int:
    """Publish an equality-delete commit: every row of ``keys_df``
    (distinct on ``key_cols``) marks matching rows in OLDER data
    commits as deleted. Stages only the key values — O(deleted keys)
    bytes, never O(table). ``txn_id`` gives the same redelivery
    idempotence as ``tx_write``."""
    if txn_id is not None:
        for e in _entries(table):
            if e.get("txn") == txn_id:
                return e["id"]
    stage = _stage_write(keys_df.select(*key_cols).distinct(), table)
    return _publish(table, {"mode": "delete", "dir": stage,
                            "keys": list(key_cols)},
                    max_retries, txn_id, expect_latest=None)


def _mor_state(table: str, as_of: int | None):
    """Replay to (data_dirs [(id, dir)], deletes [(id, dir, keys)]).
    A checkpoint (always delete-free: tx_checkpoint raises on live
    deletes) seeds the data side at the checkpoint id."""
    cp = _latest_checkpoint(table, as_of)
    base = cp["id"] if cp else 0
    entries = [e for e in _entries(table) if e["id"] > base]
    init = ([(base, d) for d in cp["dirs"]] if cp else [], [])

    def apply(state, e):
        data, dels = state
        if e["mode"] == "meta":
            return state          # stats/bloom registration: no data
        if "parts" in e:
            raise ValueError(
                f"{table}: partitioned commit {e['id']} in a "
                "merge-on-read replay")
        if e["mode"] == "delete":
            return data, dels + [(e["id"], e["dir"], tuple(e["keys"]))]
        if e["mode"] == "overwrite":
            # an overwrite starts a fresh era: older deletes applied
            # to nothing that remains visible
            dirs = e["dirs"] if "dirs" in e else [e["dir"]]
            return [(e["id"], d) for d in dirs], []
        return data + [(e["id"], e["dir"])], dels

    return _replay_fold(base, init, entries, table, as_of, apply)


def tx_read_mor(spark: SparkSession, table: str,
                as_of: int | None = None) -> DataFrame:
    """Snapshot read applying equality deletes at read time. Grouping:
    data dirs sharing the same applicable-delete suffix are read as
    ONE scan and anti-joined once per delete commit — plan size is
    O(live delete commits), not O(data dirs)."""
    data, dels = _mor_state(table, as_of)
    if not data:
        raise FileNotFoundError(
            f"tx_read_mor: no commits in {table}"
            + (f" as of {as_of}" if as_of is not None else ""))
    dels = sorted(dels)
    # era k = data dirs committed between delete k-1 and delete k;
    # deletes k..K apply to every era ≤ k.
    bounds = [d_id for d_id, _, _ in dels]
    eras: list[list[str]] = [[] for _ in range(len(bounds) + 1)]
    for cid, d in data:
        era = sum(1 for b in bounds if b < cid)
        eras[era].append(d)
    out = None
    for era_idx, dirs in enumerate(eras):
        if not dirs:
            continue
        df = _read_dirs(spark, table, dirs)
        for d_id, d_dir, keys in dels[era_idx:]:
            kdf = _read_dirs(spark, table, [d_dir])
            df = df.join(kdf, on=list(keys), how="left_anti")
        out = df if out is None else out.unionByName(df)
    return out


def tx_has_live_deletes(table: str) -> bool:
    """True when the current snapshot carries equality-delete commits
    no later overwrite superseded — the state in which ``tx_read`` /
    ``tx_checkpoint`` refuse and ``tx_compact_deletes`` is required.
    Metadata-only (log replay, no data touched); False for
    partitioned tables (the MoR path is plain-table only)."""
    from .txlog import _is_partitioned

    try:
        if _is_partitioned(table):
            return False
    except FileNotFoundError:
        return False
    _, dels = _mor_state(table, None)
    return bool(dels)


def tx_compact_deletes(spark: SparkSession, table: str,
                       max_retries: int = 10) -> int:
    """Apply every live delete once and publish the result as ONE
    copy-on-write overwrite commit (conflict-checked) — after this,
    ``tx_read`` / ``tx_checkpoint`` / maintenance work again and the
    delete sidecars become vacuum-eligible history. The rollup a
    nightly maintenance window runs after a day of cheap deletes."""
    latest = tx_latest_id(table)
    stage = _stage_write(tx_read_mor(spark, table), table)
    return _publish(table, {"mode": "overwrite", "dir": stage,
                            "compacted_deletes": True},
                    max_retries, txn_id=None, expect_latest=latest)


def tx_delete_where(spark: SparkSession, table: str, condition,
                    key_cols: list[str], max_retries: int = 10,
                    txn_id: str | None = None) -> int:
    """DELETE ... WHERE for merge-on-read tables: scan the CURRENT
    snapshot for keys matching ``condition`` (a Column), then publish
    them as one equality-delete commit. The scan reads only
    ``key_cols`` plus the condition's columns (column-pruned); no
    data file is rewritten."""
    keys = tx_read_mor(spark, table).where(condition).select(*key_cols)
    return tx_delete_keys(keys, table, key_cols,
                          max_retries=max_retries, txn_id=txn_id)
