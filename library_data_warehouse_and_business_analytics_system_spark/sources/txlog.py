"""Minimal transactional table format over parquet: an append-only
commit log giving atomic visibility and snapshot-isolated reads —
the core mechanism Delta/Iceberg provide, reduced to what plain
parquet + an atomic file create can do.

This exists because the container has no delta-spark: `operators/
merge.py`'s Delta branch stays untested there, and bare
`mode("overwrite")` parquet writes are not atomic (a reader can
observe a half-deleted directory). The protocol here closes that gap
for single-writer-per-commit workloads:

Layout::

    table/
      data/<uuid>/part-*.parquet               (immutable once logged)
      data/<uuid>/_schema.json                 (the staged rows' schema)
      _txlog/00000001.json … 0000000N.json     (one file per commit)

- WRITE: stage the data directory first, then publish it by creating
  ``_txlog/<next-id>.json`` with ``open(..., 'x')`` — an ATOMIC
  exclusive create. A crash before the log create leaves an orphaned
  (invisible) data dir; a concurrent committer losing the race gets
  ``FileExistsError`` and retries with the next id (optimistic
  concurrency, exactly Delta's protocol).
- READ: replay the log in id order; an ``overwrite`` entry resets the
  visible set, an ``append`` adds to it. Readers never list ``data/``
  — only logged dirs — so staged/orphaned writes cannot leak.
- SCHEMA: every staged dir carries a ``_schema.json`` sidecar at its
  root (a partitioned stage's ``_part=<v>`` subdirs share their
  parent's) holding the schema Spark's parquet reader would infer —
  the written frame's schema with every field nullable. Reads pass it
  to ``spark.read.schema`` and skip the footer-inference job. They
  fall back to inference when any visible dir lacks a sidecar (dirs
  staged before sidecars existed), when the visible dirs' sidecars
  differ (an append that evolved the schema), and for
  ``merge_schema=True``. A logged dir never changes, so its sidecar
  travels with it through checkpoint, truncate, restore and shallow
  clone, and vacuum removes it along with the dir.
- VACUUM: delete UNREFERENCED data dirs (staged-then-crashed orphans)
  older than a retention window. Every LOGGED dir is kept — time
  travel needs it — and the retention window protects a dir another
  writer has staged but not yet published (stage happens BEFORE the
  log create, so a zero-grace vacuum racing an in-flight writer would
  delete its data and corrupt the table; Delta solves the same race
  the same way).

Scale notes: the log is O(commits) tiny JSON files read driver-side;
``tx_checkpoint`` compacts the visible state (what Delta does every
10 commits) so reads replay only commits newer than the checkpoint,
and ``tx_truncate_log`` bounds the log's file count once a checkpoint
covers the history. Object stores without atomic create/link need a
coordination service for the publish step — same caveat Delta
documents for S3.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, \
    StructType

from ..session import checkpoint

_LOG = "_txlog"
_DATA = "data"
_SCHEMA = "_schema.json"
_PART = "_part"


def _log_dir(table: str) -> Path:
    return Path(table) / _LOG


def _entries(table: str) -> list[dict]:
    d = _log_dir(table)
    if not d.is_dir():
        return []
    out = []
    for f in sorted(d.glob("*.json")):
        out.append(json.loads(f.read_text()))
    return out


def _cp_dir(table: str) -> Path:
    return _log_dir(table) / "checkpoints"


def _latest_checkpoint(table: str, as_of: int | None = None) -> dict | None:
    """Newest checkpoint with id ≤ as_of (or newest overall)."""
    d = _cp_dir(table)
    if not d.is_dir():
        return None
    best = None
    for f in d.glob("*.json"):
        cid = int(f.stem)
        if as_of is not None and cid > as_of:
            continue
        if best is None or cid > best[0]:
            best = (cid, f)
    return json.loads(best[1].read_text()) if best else None


class TxConflict(RuntimeError):
    """Another writer committed between this transaction's snapshot
    read and its publish attempt (optimistic-concurrency failure —
    what Delta raises as ConcurrentAppendException)."""


def _replay_fold(base_id: int, state, entries: list[dict], table: str,
                 as_of: int | None, apply):
    """Fold ``apply(state, entry)`` over the log in id order.

    Replay must be CONTIGUOUS from the checkpoint (ADVICE r6): each
    applied entry's id must be exactly predecessor+1. A gap means
    ``tx_truncate_log`` removed commits this snapshot needs — silently
    skipping them would drop history (an overwrite inside the gap
    would even resurrect pre-overwrite data), so any gap raises."""
    prev = base_id
    for e in sorted(entries, key=lambda e: e["id"]):
        if e["id"] <= prev:
            continue
        if as_of is not None and e["id"] > as_of:
            break
        if e["id"] != prev + 1:
            raise ValueError(
                f"txlog history of {table} between commits {prev + 1} "
                f"and {e['id'] - 1} was truncated and no checkpoint "
                "covers "
                + (f"as_of={as_of}" if as_of is not None else "this read"))
        state = apply(state, e)
        prev = e["id"]
    if as_of is not None and prev < as_of:
        # Replay stopped short of as_of. Fine when history simply ends
        # at `prev`; an error when NEWER history provably existed (a
        # checkpoint past `prev`) — then commits prev+1..as_of were
        # truncated and the resolved checkpoint silently skips them
        # (ADVICE r6: cp@2 + cp@4 + log truncated ≤4, as_of=3 must
        # raise, not return the commit-2 state).
        newest = _latest_checkpoint(table)
        if newest and newest["id"] > prev:
            raise ValueError(
                f"txlog history of {table} between commits {prev + 1} "
                f"and {min(newest['id'], as_of)} was truncated; "
                f"as_of={as_of} is unanswerable")
    return state


def _replay(cp: dict | None, entries: list[dict], table: str,
            as_of: int | None = None) -> list[str]:
    """Visible data dirs of an UNPARTITIONED table (checkpoint state
    plus contiguous log replay)."""
    live_delete = [0]   # id of a delete no later overwrite superseded

    def apply(dirs: list[str], e: dict) -> list[str]:
        if e["mode"] == "meta":
            # stats/bloom registration for EXISTING dirs (skipping.
            # tx_refresh_stats) — carries no data, visible state
            # unchanged
            return dirs
        if "parts" in e:
            raise ValueError(
                f"{table}: partitioned commit {e['id']} in an "
                "unpartitioned replay — read it with tx_read_parts")
        if e["mode"] == "delete":
            # provisionally skip; poisonous only if still live at the
            # end of the replay (a later overwrite resets the table,
            # making the delete irrelevant to this snapshot)
            live_delete[0] = e["id"]
            return dirs
        if "dirs" in e:           # multi-dir reset: tx_restore / tx_clone
            if e["mode"] != "overwrite":
                raise ValueError(
                    f"{table}: multi-dir commit {e['id']} must be an "
                    "overwrite")
            live_delete[0] = 0
            return list(e["dirs"])
        if e["mode"] == "overwrite":
            live_delete[0] = 0
            return [e["dir"]]
        return dirs + [e["dir"]]
    out = _replay_fold(cp["id"] if cp else 0,
                       list(cp["dirs"]) if cp else [],
                       entries, table, as_of, apply)
    if live_delete[0]:
        raise ValueError(
            f"{table}: merge-on-read delete commit {live_delete[0]} is "
            "live in this snapshot — read with mor.tx_read_mor (or "
            "tx_compact_deletes first); tx_read/tx_checkpoint would "
            "resurrect the deleted rows")
    return out


def _replay_parts(cp: dict | None, entries: list[dict], table: str,
                  as_of: int | None = None) -> dict[str, list[str]]:
    """Visible state of a PARTITIONED table: partition value → list of
    data dirs. Entry modes: ``overwrite_parts`` resets the whole
    table to the entry's partitions, ``append_parts`` appends each
    partition's dir, ``replace_parts`` swaps ONLY the named
    partitions' dirs and carries every other partition forward by
    reference — the copy-on-write granularity a partition-scoped
    MERGE needs (VERDICT r6 item 3). A ``null`` dir in a
    ``replace_parts`` payload marks the partition EMPTIED by the
    commit (every row deleted — a CDC delete batch can do this);
    replay resets it to no dirs instead of carrying stale ones."""
    def apply(parts: dict[str, list[str]], e: dict):
        if e["mode"] == "meta":
            return parts          # stats/bloom registration: no data
        if "parts" not in e:
            raise ValueError(
                f"{table}: unpartitioned commit {e['id']} in a "
                "partitioned replay — read it with tx_read")
        if e["mode"] == "overwrite_parts":
            # a value may be a LIST of dirs: tx_restore / tx_clone
            # reset the table to a prior multi-generation state by
            # reference instead of rewriting it
            return {v: (list(d) if isinstance(d, list) else [d])
                    for v, d in e["parts"].items()}
        out = dict(parts)
        for v, d in e["parts"].items():
            if e["mode"] == "append_parts":
                if d is None:
                    raise ValueError(
                        f"{table}: null dir in append_parts commit "
                        f"{e['id']}")
                out[v] = out.get(v, []) + [d]
            else:                      # replace_parts
                out[v] = [d] if d is not None else []
        return out
    base_parts = ({v: list(ds) for v, ds in cp["parts"].items()}
                  if cp else {})
    return _replay_fold(cp["id"] if cp else 0, base_parts,
                        entries, table, as_of, apply)


def _visible_dirs(table: str, as_of: int | None = None) -> list[str]:
    cp = _latest_checkpoint(table, as_of)
    base = cp["id"] if cp else 0
    entries = [e for e in _entries(table) if e["id"] > base]
    return _replay(cp, entries, table, as_of)


def tx_latest_id(table: str) -> int:
    """Latest committed id (0 for an empty table) — the snapshot
    version a read-modify-write transaction records for its
    optimistic-concurrency check."""
    ids = [e["id"] for e in _entries(table)]
    cp = _latest_checkpoint(table)
    if cp:
        ids.append(cp["id"])
    return max(ids) if ids else 0


def _as_nullable(t: DataType) -> DataType:
    """``t`` with every field, array element and map value nullable —
    what Spark's file reader turns a written schema into."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _as_nullable(f.dataType),
                                       True, f.metadata) for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_as_nullable(t.keyType), _as_nullable(t.valueType),
                       True)
    return t


def _write_schema(stage_path: Path, schema: StructType) -> None:
    (stage_path / _SCHEMA).write_text(_as_nullable(schema).json())


def _stage_write(df: DataFrame, table: str,
                 partition_by: str | None = None) -> str:
    """Write ``df`` into a fresh ``data/<uuid>`` dir (split by
    ``partition_by`` when given) plus its schema sidecar; returns the
    dir relative to the table root. Publishing it is the caller's
    step."""
    stage = f"{_DATA}/{uuid.uuid4().hex}"
    path = Path(table) / stage
    writer = df.write if partition_by is None \
        else df.write.partitionBy(partition_by)
    writer.parquet(str(path))
    _write_schema(path, StructType(
        [f for f in df.schema.fields if f.name != partition_by]))
    return stage


def _logged_schema(paths: list[Path]) -> StructType | None:
    """The one schema every dir's sidecar records, or None when a dir
    has none or two sidecars differ (the reader must infer)."""
    texts = set()
    for root in {p.parent if p.name.startswith(f"{_PART}=") else p
                 for p in paths}:
        try:
            texts.add((root / _SCHEMA).read_text())
        except FileNotFoundError:
            return None
    if len(texts) != 1:
        return None
    return StructType.fromJson(json.loads(texts.pop()))


def _read_dirs(spark: SparkSession, table: str, dirs: list[str],
               merge_schema: bool = False) -> DataFrame:
    """One parquet scan over logged ``dirs`` (relative to ``table``, or
    absolute for a shallow clone). Uses the dirs' shared schema sidecar
    when there is one, so the read launches no inference job."""
    paths = [Path(table) / d for d in dirs]
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    else:
        schema = _logged_schema(paths)
        if schema is not None:
            reader = reader.schema(schema)
    return reader.parquet(*[str(p) for p in paths])


def tx_write(df: DataFrame, table: str, mode: str = "append",
             max_retries: int = 10, txn_id: str | None = None,
             expect_latest: int | None = None) -> int:
    """Atomically publish ``df`` as one commit; returns the commit id.

    ``txn_id`` makes the write IDEMPOTENT (Delta's txnAppId/txnVersion
    pattern): if a commit with the same txn_id is already in the log,
    the write is skipped and that commit's id returned. This is what
    lets a ``foreachBatch`` sink pass its batch_id through and survive
    micro-batch REDELIVERY after a crash without double-appending
    (streaming/dedup_ingest.py).

    ``expect_latest`` publishes CONDITIONALLY (Delta's optimistic
    concurrency, ADVICE r6): the commit succeeds only as id
    ``expect_latest + 1`` — if another writer advanced the log past
    the snapshot this write was derived from, :class:`TxConflict`
    raises instead of silently discarding that writer's commit. The
    check happens inside the publish loop (on the atomic-create id),
    so there is no list-then-publish race window."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"tx_write: unknown mode {mode!r}")
    if txn_id is not None:
        for e in _entries(table):
            if e.get("txn") == txn_id:
                return e["id"]
    if expect_latest is not None and tx_latest_id(table) != expect_latest:
        raise TxConflict(  # cheap pre-stage check; the loop re-checks
            f"tx_write: {table} is at commit {tx_latest_id(table)}, "
            f"not the expected snapshot {expect_latest}")
    stage = _stage_write(df, table)
    return _publish(table, {"mode": mode, "dir": stage},
                    max_retries, txn_id, expect_latest)


def _publish(table: str, payload: dict, max_retries: int,
             txn_id: str | None, expect_latest: int | None) -> int:
    """Allocate the next commit id and atomically link the entry
    (shared by the plain and partitioned write paths)."""
    log = _log_dir(table)
    log.mkdir(parents=True, exist_ok=True)
    for _ in range(max_retries):
        existing = [int(f.stem) for f in log.glob("*.json")]
        # a truncated log may hold fewer entries than history — the
        # latest checkpoint keeps the id sequence monotone
        cp = _latest_checkpoint(table)
        if cp:
            existing.append(cp["id"])
        cid = (max(existing) + 1) if existing else 1
        if txn_id is not None:  # before the conflict check: a racer
            for e in _entries(table):  # publishing OUR txn is success,
                if e.get("txn") == txn_id:  # not a conflict
                    return e["id"]
        if expect_latest is not None and cid != expect_latest + 1:
            raise TxConflict(
                f"tx_write: {table} advanced to commit {cid - 1} past "
                f"the expected snapshot {expect_latest}; the pending "
                "write was derived from a stale snapshot")
        entry = {"id": cid, "ts": time.time(), **payload}
        if txn_id is not None:
            entry["txn"] = txn_id
        # Publish = atomic link of a fully-written temp file. A bare
        # open('x') + dump could crash BETWEEN create and write,
        # leaving a truncated log entry every reader then chokes on;
        # link() only ever exposes the complete payload (and raises
        # FileExistsError to the race loser, same as 'x').
        tmp = log / f".{uuid.uuid4().hex}.tmp"
        tmp.write_text(json.dumps(entry))
        try:
            os.link(tmp, log / f"{cid:08d}.json")
            return cid
        except FileExistsError:
            continue  # lost the race — retry with the next id
        finally:
            tmp.unlink(missing_ok=True)
    raise RuntimeError(f"tx_write: lost the commit race {max_retries} times")


def tx_version_at(table: str, ts: float) -> int:
    """Resolve a wall-clock timestamp to a commit id (Delta's
    ``timestampAsOf``): the LATEST commit whose recorded ``ts`` is
    <= the query timestamp. Commit timestamps are monotonized by id
    order (a racing writer's skewed clock cannot reorder history).

    Raises if ``ts`` predates the oldest SURVIVING entry — after log
    truncation the answer may lie in discarded history, and guessing
    the checkpoint would silently time-travel to the wrong snapshot
    (same contract as version-targeted reads into a truncated gap)."""
    entries = sorted(_entries(table), key=lambda e: e["id"])
    if not entries:
        raise FileNotFoundError(f"tx_version_at: no commits in {table}")
    if any("ts" not in e for e in entries):
        raise ValueError(
            f"tx_version_at: {table} has pre-timestamp commits; "
            "timestamp travel needs every surviving entry stamped")
    best, running = None, float("-inf")
    for e in entries:
        running = max(running, e["ts"])        # monotonize
        if running <= ts:
            best = e["id"]
    if best is None:
        cp = _latest_checkpoint(table)
        detail = ("history truncated below it" if cp
                  else "it predates the first commit")
        raise ValueError(
            f"tx_version_at: no commit at or before ts={ts} ({detail})")
    return best


def tx_read(spark: SparkSession, table: str,
            as_of: int | None = None,
            as_of_ts: float | None = None,
            merge_schema: bool = False) -> DataFrame:
    """Snapshot read: the committed state at call time, or — with
    ``as_of`` — the state as of that commit id (time travel; every
    logged data dir is immutable and vacuum never touches logged
    dirs, so historical snapshots stay readable). ``as_of_ts`` is the
    timestamp flavor (resolved through :func:`tx_version_at`).

    ``merge_schema=True`` unions the schemas of all visible commits
    (columns added by later appends surface as NULL on earlier
    generations) — the read side of schema evolution; the default
    takes the dirs' schema sidecar (no Spark job), or else one
    footer's schema."""
    if as_of_ts is not None:
        if as_of is not None:
            raise ValueError("tx_read: pass as_of OR as_of_ts, not both")
        as_of = tx_version_at(table, as_of_ts)
    dirs = _visible_dirs(table, as_of)
    if not dirs:
        raise FileNotFoundError(
            f"tx_read: no commits in {table}"
            + (f" as of {as_of}" if as_of is not None else ""))
    return _read_dirs(spark, table, dirs, merge_schema)


def _live_dir_meta(cp: dict | None, entries: list[dict],
                   live: set[str]) -> tuple[dict, dict]:
    """(dir → stats, dir → bloom meta) surviving into a checkpoint:
    the prior checkpoint's carried maps plus every entry's write-path
    stats/bloom (``stats``/``bloom``/``pstats``, keyed by the staged
    dir) and refresh registrations (``dirstats``/``dirbloom``, from
    ``meta`` commits), restricted to the checkpointed live dirs.
    Newer registrations win (entries fold in id order)."""
    stats: dict[str, dict] = {}
    bloom: dict[str, dict] = {}
    if cp:
        stats.update(cp.get("dirstats", {}))
        bloom.update(cp.get("dirbloom", {}))
    for e in sorted(entries, key=lambda x: x["id"]):
        if "stats" in e and "dir" in e:
            stats[e["dir"]] = e["stats"]
        if "bloom" in e and "dir" in e:
            bloom[e["dir"]] = e["bloom"]
        if "pstats" in e and "parts" in e:
            for v, d in e["parts"].items():
                if isinstance(d, str) and v in e["pstats"]:
                    stats[d] = e["pstats"][v]
        stats.update(e.get("dirstats", {}))
        bloom.update(e.get("dirbloom", {}))
    return ({d: s for d, s in stats.items() if d in live},
            {d: b for d, b in bloom.items() if d in live})


def tx_checkpoint(table: str) -> int:
    """Summarize the table's visible state at its latest commit into
    ``_txlog/checkpoints/<id>.json`` (what Delta writes every 10
    commits): snapshot reads then replay only commits NEWER than the
    checkpoint, so read cost is O(commits since last checkpoint)
    instead of O(all commits) — the one unbounded driver-side term
    this format had. Old log entries stay valid (time travel before
    the checkpoint keeps working) until ``tx_truncate_log`` reclaims
    them. Idempotent; returns the checkpointed commit id."""
    entries = _entries(table)
    if not entries:
        cp = _latest_checkpoint(table)
        if cp:
            return cp["id"]
        raise FileNotFoundError(f"tx_checkpoint: no commits in {table}")
    last = entries[-1]["id"]
    d = _cp_dir(table)
    d.mkdir(parents=True, exist_ok=True)
    target = d / f"{last:08d}.json"
    if target.exists():
        return last
    # Replay the ALREADY-FETCHED entries (capped at `last`) instead of
    # re-listing the log: a commit published between two listings
    # would otherwise land in the checkpoint's dirs while its id stays
    # `last`, and later reads would replay that commit AGAIN on top —
    # duplicated appends / resurrected overwrites (ADVICE r6).
    cp = _latest_checkpoint(table, last)
    if any("parts" in e for e in entries) or (cp and "parts" in cp):
        parts = _replay_parts(cp, entries, table, as_of=last)
        body: dict = {"id": last, "parts": parts}
        live = {d for ds in parts.values() for d in ds}
    else:
        dirs = _replay(cp, entries, table, as_of=last)
        body = {"id": last, "dirs": dirs}
        live = set(dirs)
    # Carry each live dir's stats/bloom registration into the
    # checkpoint: without this, tx_truncate_log would silently strip
    # the skipping metadata of every checkpointed commit and pruning
    # would degrade to always-read after each maintenance pass.
    dstats, dbloom = _live_dir_meta(cp, entries, live)
    if dstats:
        body["dirstats"] = dstats
    if dbloom:
        body["dirbloom"] = dbloom
    payload = json.dumps(body)
    tmp = d / f".{uuid.uuid4().hex}.tmp"
    tmp.write_text(payload)
    try:
        os.link(tmp, target)  # atomic, complete-or-absent (as tx_write)
    except FileExistsError:
        pass  # concurrent checkpointer won; states are identical
    finally:
        tmp.unlink(missing_ok=True)
    return last


def tx_truncate_log(table: str) -> list[str]:
    """Delete log entries already covered by the latest checkpoint,
    bounding the log's file count (the metadata twin of ``tx_vacuum``).
    Time travel to commits at/after the checkpoint — and the current
    snapshot — keep working; ``as_of`` BEFORE the oldest surviving
    checkpoint becomes unanswerable, and ``tx_read`` raises rather
    than silently replaying from a gap. Truncation also forgets the
    removed entries' ``txn_id`` markers — run it only once upstream
    redelivery of those transactions is impossible (the stream's own
    checkpoint has advanced past them), the same retention reasoning
    Delta documents for setTransaction. Returns the removed files."""
    cp = _latest_checkpoint(table)
    if cp is None:
        return []
    removed = []
    for f in _log_dir(table).glob("*.json"):
        if int(f.stem) <= cp["id"]:
            f.unlink()
            removed.append(f.name)
    return sorted(removed)


def tx_expire_checkpoints(table: str, keep: int = 1) -> list[str]:
    """Delete all but the newest ``keep`` checkpoints — the final step
    of a maintenance cycle (compact → checkpoint → truncate log →
    expire old checkpoints → vacuum). Time travel to snapshots only
    reachable through an expired checkpoint stops working (``tx_read``
    raises on the gap, never silently degrades), and the data dirs
    those checkpoints referenced become vacuum-eligible — this is the
    step that actually BOUNDS DISK after compaction rewrites a table,
    mirroring Delta's checkpoint retention. Returns removed files."""
    d = _cp_dir(table)
    if not d.is_dir():
        return []
    files = sorted(d.glob("*.json"), key=lambda f: int(f.stem))
    removed = []
    for f in files[:-keep] if keep > 0 else files:
        f.unlink()
        removed.append(f.name)
    return sorted(removed)


def tx_exists(table: str) -> bool:
    """True if the table has at least one committed entry (or a
    checkpoint covering truncated ones) — the restart predicate for
    stage-wise pipelines (a staged-but-crashed write leaves no entry,
    so the stage correctly re-runs)."""
    return bool(_entries(table)) or _latest_checkpoint(table) is not None


def tx_merge(spark: SparkSession, table: str, source: DataFrame,
             keys: list[str], update_cols: list[str] | None = None,
             condition: Column | None = None) -> int:
    """MERGE routed through the commit log (VERDICT r5 item 3): read
    the current snapshot, apply the ``operators/merge.merge_upsert``
    semantics (WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT —
    07_SubsequentLoading.sql:331-355), stage the merged result, and
    publish it as ONE atomic overwrite commit.

    Crash contract: the merge output is staged into a fresh data dir
    while the pre-merge generation stays untouched, so a crash
    anywhere before the log-entry link leaves readers on the
    pre-merge snapshot and the staged dir an invisible orphan
    (``tx_vacuum`` reclaims it). There is never a moment when a
    reader can observe a half-merged table — the property plain
    ``mode("overwrite")`` parquet cannot give. Time travel keeps the
    pre-merge generation addressable afterwards.

    A merge into a table with no commits bootstraps it (publishes
    ``source`` as commit 1), mirroring ``whenNotMatchedInsertAll``
    over an empty target.

    Concurrency: the publish is CONDITIONAL on the log not advancing
    past the snapshot the merge read (``expect_latest`` — ADVICE r6).
    A commit by another writer between ``tx_read`` and the publish
    raises :class:`TxConflict` instead of being silently discarded;
    the caller re-runs the merge against the fresh snapshot (Delta's
    optimistic-concurrency contract for read-modify-write commits).
    """
    from ..operators.merge import merge_upsert
    if not tx_exists(table):
        return tx_write(source, table, mode="overwrite", expect_latest=0)
    base = tx_latest_id(table)
    current = tx_read(spark, table, as_of=base)
    merged = merge_upsert(current, source, keys,
                          update_cols=update_cols, condition=condition)
    return tx_write(merged, table, mode="overwrite", expect_latest=base)


def tx_apply_scd2(spark: SparkSession, table: str, updates: DataFrame,
                  **scd2_kwargs) -> int:
    """SCD2 apply (operators/scd2.scd2_apply — the reference's
    Prod_Update_Dim* expire-and-insert procedures) routed through the
    commit log: the new dimension generation stages fully, then
    publishes as ONE atomic overwrite commit. Same crash contract as
    :func:`tx_merge` — readers see the pre-update dimension until the
    publish instant, and time travel keeps every prior generation
    (the dimension's own SCD2 history plus the table format's commit
    history, two independent time axes). Publishes conditionally on
    the snapshot it read (``expect_latest`` — see :func:`tx_merge`);
    a concurrent commit raises :class:`TxConflict`."""
    from ..operators.scd2 import scd2_apply
    base = tx_latest_id(table)
    new_dim = scd2_apply(tx_read(spark, table, as_of=base), updates,
                         **scd2_kwargs)
    return tx_write(new_dim, table, mode="overwrite", expect_latest=base)


def tx_vacuum(table: str, retention_sec: float = 3600.0) -> list[str]:
    """Delete UNREFERENCED data dirs (orphans from a writer that
    crashed between staging and publishing) older than
    ``retention_sec``; returns what was removed.

    Logged dirs are ALWAYS kept — overwrite history included — so
    time-travel reads (``tx_read(as_of=...)``) stay valid forever.
    The retention window exists because ``tx_write`` stages its data
    dir BEFORE creating the log entry: a dir younger than the window
    may belong to an in-flight writer about to publish, and deleting
    it would let that writer commit a log entry pointing at nothing
    (ADVICE r5). Pass ``retention_sec=0`` only when no writers are
    active (e.g. tests).

    Partitioned tables vacuum at PARTITION-SUBDIR granularity: a
    ``replace_parts`` merge leaves the replaced year's old subdir
    dead inside a staged dir whose OTHER partitions are still live —
    that subdir is reclaimed individually (once its referencing log
    entries/checkpoints are gone), and the staged dir itself goes
    when its last live partition is replaced. Without this, the
    initial whole-table publish would pin every superseded partition
    generation forever.
    """
    import time

    def _refs(obj: dict):
        # yields references relative to data/: "uuid" (plain) or
        # "uuid/_part=v" (partitioned)
        if "parts" in obj:
            for ds in obj["parts"].values():
                for d in (ds if isinstance(ds, list) else [ds]):
                    yield d.split("/", 1)[1]
        elif "dirs" in obj:
            for d in obj["dirs"]:
                yield d.split("/", 1)[1]
        elif "dir" in obj:
            yield obj["dir"].split("/", 1)[1]

    referenced: set[str] = set()
    for e in _entries(table):
        referenced.update(_refs(e))
    # checkpoints reference dirs whose log entries may be truncated
    cp_d = _cp_dir(table)
    if cp_d.is_dir():
        for f in cp_d.glob("*.json"):
            referenced.update(_refs(json.loads(f.read_text())))
    referenced_tops = {r.split("/")[0] for r in referenced}
    now = time.time()
    removed = []
    data = Path(table) / _DATA
    if data.is_dir():
        for d in data.iterdir():
            if not d.is_dir():
                continue
            aged = now - d.stat().st_mtime >= retention_sec
            if d.name in referenced:
                continue                 # plain dir, live
            if d.name not in referenced_tops:
                if aged:                 # orphan or fully-dead dir
                    shutil.rmtree(d)
                    removed.append(d.name)
                continue
            # partitioned staged dir with SOME live partitions: reap
            # the individually-dead subdirs
            for sub in d.iterdir():
                if (sub.is_dir() and sub.name.startswith(f"{_PART}=")
                        and f"{d.name}/{sub.name}" not in referenced
                        and now - sub.stat().st_mtime >= retention_sec):
                    shutil.rmtree(sub)
                    removed.append(f"{d.name}/{sub.name}")
    return sorted(removed)


# ---------------------------------------------------------------------------
# Partitioned tables: commit entries carry a {partition value → data
# dir} map, so a MERGE rewrites ONLY the partitions its source keys
# touch and carries every other partition forward BY REFERENCE —
# Delta/Iceberg's copy-on-write granularity, and the format-level
# analogue of the reference's key-scoped incremental MERGE
# (07_SubsequentLoading.sql:331-355), which probes/updates only the
# delta's keys instead of reloading the target (VERDICT r6 item 3:
# a daily 0.1% delta must not rewrite a 100 TB fact).

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _stage_parts(df: DataFrame, table: str, part_col: str,
                 arrange=None) -> dict[str, str]:
    """Stage ``df`` split by ``part_col`` into one data dir per
    partition value (single write job via ``partitionBy`` on a
    duplicated ``_part`` column, so the real column stays IN the
    files and reads need no partition-value reconstruction).
    ``arrange(tagged) -> DataFrame`` lays out the ``_part``-tagged
    rows before the write (OPTIMIZE's Z-order clustering).
    Returns {partition value: staged dir (relative to table root)}."""
    from urllib.parse import unquote

    tagged = df.withColumn(_PART, df[part_col].cast("string"))
    stage = _stage_write(tagged if arrange is None else arrange(tagged),
                         table, partition_by=_PART)
    out: dict[str, str] = {}
    for d in (Path(table) / stage).iterdir():
        if not d.name.startswith(f"{_PART}="):
            continue
        value = unquote(d.name.split("=", 1)[1])
        if value == _HIVE_NULL:
            raise ValueError(
                f"tx_write_parts: NULL in partition column "
                f"{part_col!r}; partition values must be non-null")
        out[value] = f"{stage}/{d.name}"
    return out


def tx_write_parts(df: DataFrame, table: str, part_col: str,
                   mode: str = "append", max_retries: int = 10,
                   txn_id: str | None = None,
                   expect_latest: int | None = None) -> int:
    """Atomically publish ``df`` into a PARTITIONED table as one
    commit. ``mode``: ``append`` adds each partition's dir,
    ``overwrite`` resets the whole table, ``replace`` swaps only the
    partitions present in ``df`` (dynamic partition overwrite —
    Spark's ``partitionOverwriteMode=dynamic``, made atomic).
    ``txn_id`` / ``expect_latest`` behave as in :func:`tx_write`."""
    modes = {"append": "append_parts", "overwrite": "overwrite_parts",
             "replace": "replace_parts"}
    if mode not in modes:
        raise ValueError(f"tx_write_parts: unknown mode {mode!r}")
    if txn_id is not None:
        for e in _entries(table):
            if e.get("txn") == txn_id:
                return e["id"]
    if expect_latest is not None and tx_latest_id(table) != expect_latest:
        raise TxConflict(
            f"tx_write_parts: {table} is at commit {tx_latest_id(table)}, "
            f"not the expected snapshot {expect_latest}")
    parts = _stage_parts(df, table, part_col)
    return _publish(table,
                    {"mode": modes[mode], "pcol": part_col, "parts": parts},
                    max_retries, txn_id, expect_latest)


def _visible_parts(table: str,
                   as_of: int | None = None) -> dict[str, list[str]]:
    cp = _latest_checkpoint(table, as_of)
    base = cp["id"] if cp else 0
    entries = [e for e in _entries(table) if e["id"] > base]
    return _replay_parts(cp, entries, table, as_of)


def tx_part_values(table: str, as_of: int | None = None) -> list[str]:
    """Sorted partition values with at least one visible data dir —
    commit-log metadata only, no file listing or scan. Callers that
    prune with ``tx_read_parts(part_values=…)`` intersect their
    candidate set with this to avoid the raise-on-empty path (e.g. an
    IVF probe whose every probed cell happens to be empty)."""
    return sorted(v for v, ds in _visible_parts(table, as_of).items()
                  if ds)


def tx_read_parts(spark: SparkSession, table: str,
                  as_of: int | None = None,
                  as_of_ts: float | None = None,
                  part_values: list[str] | None = None,
                  merge_schema: bool = False) -> DataFrame:
    """Snapshot read of a partitioned table; ``part_values`` prunes
    the read to those partitions' dirs — metadata-only partition
    pruning (no scan, no listing of other partitions), which is what
    keeps the merge's read cost proportional to the DELTA.
    ``as_of_ts`` is timestamp time travel (see :func:`tx_version_at`).
    ``merge_schema=True`` unions the visible generations' schemas
    (columns added by later appends/replaces surface as NULL on older
    generations), the partitioned twin of ``tx_read``'s evolution
    read."""
    if as_of_ts is not None:
        if as_of is not None:
            raise ValueError(
                "tx_read_parts: pass as_of OR as_of_ts, not both")
        as_of = tx_version_at(table, as_of_ts)
    state = _visible_parts(table, as_of)
    if part_values is not None:
        state = {v: ds for v, ds in state.items() if v in part_values}
    dirs = [d for ds in state.values() for d in ds]
    if not dirs:
        raise FileNotFoundError(
            f"tx_read_parts: no visible partitions in {table}"
            + (f" for {part_values}" if part_values is not None else ""))
    return _read_dirs(spark, table, dirs, merge_schema)


def tx_merge_parts(spark: SparkSession, table: str, source: DataFrame,
                   keys: list[str], part_col: str,
                   update_cols: list[str] | None = None,
                   condition: Column | None = None,
                   merge_fn=None, txn_id: str | None = None,
                   expect_latest: int | None = None) -> int:
    """Partition-scoped MERGE: read ONLY the partitions containing
    the source's partition values, merge, and publish the result as
    ONE atomic ``replace_parts`` commit — untouched partitions'
    parquet files are never read, never rewritten, and stay visible
    by reference. Same crash contract and optimistic-concurrency
    check as :func:`tx_merge`.

    The partition column must be immutable under the merge: an update
    that MOVED a row across partitions would write it into a partition
    this merge doesn't replace, silently duplicating it. With
    ``update_cols=None`` the partition column is therefore
    auto-excluded from the updated set (matched rows stay in their
    partition); explicitly listing it in ``update_cols`` raises unless
    it is also a merge key. Source rows are assumed to carry their
    target row's CURRENT partition value — the same contract Delta's
    partition-pruned MERGE puts on its source.

    ``merge_fn(current, source) -> DataFrame`` swaps the combine step
    while keeping the partition-scoped staging/publish machinery —
    e.g. a NOT-EXISTS append with a retro-correction
    (``lambda cur, src: cap(insert_not_exists(cur, src, keys))``).
    It runs over the TOUCHED partitions' rows only and must keep every
    row's ``part_col`` unchanged — a row staged into any other
    partition raises ``ValueError`` before the publish, since the
    ``replace_parts`` commit would drop that partition's existing
    rows. With ``merge_fn`` set, ``update_cols`` and ``condition``
    must be None. On a first merge into an empty table it receives
    ``source.limit(0)`` as ``current``.

    ``source`` is evaluated once: past the idempotence and conflict
    pre-checks one ``session.checkpoint`` job materialises it and
    collects its touched partition values, and the staged write reads
    that copy.

    ``txn_id`` makes the merge IDEMPOTENT under redelivery (the
    ``tx_write`` txnAppId pattern): a micro-batch replayed after a
    crash re-commits nothing — checked cheaply before the read-merge
    work AND again inside the publish loop.

    ``expect_latest`` anchors the merge to a snapshot the CALLER
    already read (ADVICE r11, the reroute TOCTOU): when a caller
    derives merge inputs from its own earlier read of the table
    (e.g. ann_index_upsert's moved-id set), passing that read's
    version here makes the merge READ the same snapshot and publish
    conditionally on it — a commit landing between the caller's read
    and this merge raises :class:`TxConflict` instead of silently
    merging against state the caller never saw. Default ``None``
    keeps the self-anchored behavior (snapshot = latest at entry,
    conflict window = this call only)."""
    from ..operators.merge import merge_upsert

    if txn_id is not None:
        for e in _entries(table):
            if e.get("txn") == txn_id:
                return e["id"]
    if merge_fn is not None:
        if update_cols is not None or condition is not None:
            raise ValueError(
                "tx_merge_parts: merge_fn replaces the combine step — "
                "update_cols/condition must be None alongside it")
    elif update_cols is None:
        update_cols = [c for c in source.columns
                       if c not in keys and c != part_col]
    elif part_col in update_cols and part_col not in keys:
        raise ValueError(
            f"tx_merge_parts: partition column {part_col!r} must not "
            "be in update_cols — a merge that changes a row's "
            "partition would corrupt the table")

    def combine(current: DataFrame, src: DataFrame) -> DataFrame:
        if merge_fn is not None:
            return merge_fn(current, src)
        return merge_upsert(current, src, keys,
                            update_cols=update_cols, condition=condition)

    if not tx_exists(table):
        merged = (combine(source.limit(0), source) if merge_fn is not None
                  else source)
        return tx_write_parts(
            merged, table, part_col, mode="overwrite",
            expect_latest=0 if expect_latest is None else expect_latest,
            txn_id=txn_id)
    if expect_latest is not None:
        cur = tx_latest_id(table)  # bound once: under a race a second
        # read could report a different id than the one that failed
        if cur != expect_latest:
            raise TxConflict(  # cheap pre-stage check (the tx_write
                # pattern); the publish loop re-checks, but failing
                # here skips the whole read-merge-stage work on a
                # doomed merge and leaves no orphaned staging dirs
                f"tx_merge_parts: {table} is at {cur}, "
                f"not the expected snapshot {expect_latest}")
    base = tx_latest_id(table) if expect_latest is None else expect_latest
    state = _visible_parts(table, as_of=base)
    # A NULL partition value is not in ``touched`` (collect_set skips
    # it); the staged write below rejects it.
    source, got = checkpoint(
        source, parts=F.collect_set(F.col(part_col).cast("string")))
    touched = sorted(got["parts"])
    existing_dirs = [d for v in touched for d in state.get(v, [])]
    if existing_dirs:
        current = _read_dirs(spark, table, existing_dirs)
        merged = combine(current, source)
        stored_schema = current.schema
    else:
        # All-new partitions. The drift guard below must still run
        # (ADVICE r12: a drifted source touching only NEW partitions
        # used to commit unchecked — the exact mixed-generation
        # parquet the guard exists to prevent), so read the stored
        # schema of any visible dir (its sidecar, else its footer; no
        # row is scanned). A table with zero visible dirs has no
        # stored schema to preserve — first insert defines it.
        all_dirs = next((ds for ds in state.values() if ds), None)
        stored_schema = (_read_dirs(spark, table, all_dirs[:1]).schema
                         if all_dirs else None)
        merged = (combine(source.limit(0), source) if merge_fn is not None
                  else source)
    # Dtype-drift guard, ALL branches: the merge's WHEN-branch type
    # unification (or a raw insert into new partitions) silently
    # WIDENS a column when the source's dtype differs from the
    # stored one (e.g. array<double> source into an array<float>
    # table). Because this merge rewrites only the TOUCHED
    # partitions, that would leave mixed-generation parquet the
    # plain (non-merge-schema) read rejects with
    # SchemaColumnConvertNotSupportedException — and flakily, since
    # the crash depends on which file seeds schema inference (bitten
    # by the r11 ANN reroute test). Schema evolution stays an
    # APPEND-side feature (tx_write_parts + merge_schema reads); a
    # merge must preserve stored dtypes, so drift fails fast at plan
    # time, naming the columns. simpleString comparison: structural
    # type identity, deliberately nullability-blind (parquet reads
    # mixing required/optional are fine; physical type mixes are
    # not).
    if stored_schema is not None:
        cur_types = {f.name: f.dataType.simpleString()
                     for f in stored_schema.fields}
        drift = [f"{f.name}: {cur_types[f.name]} -> "
                 f"{f.dataType.simpleString()}"
                 for f in merged.schema.fields
                 if f.name in cur_types
                 and f.dataType.simpleString() != cur_types[f.name]]
        if drift:
            raise ValueError(
                "tx_merge_parts: merge would change stored column "
                f"dtypes ({'; '.join(drift)}); partition-scoped "
                "merges rewrite only touched partitions, so a dtype "
                "change would leave mixed-generation parquet that "
                "plain reads reject - cast the source to the stored "
                "dtypes first")
    parts: dict[str, str | None] = dict(_stage_parts(merged, table, part_col))
    stray = sorted(set(parts) - set(touched))
    if stray:
        raise ValueError(
            f"tx_merge_parts: the merge staged rows into partitions "
            f"{stray} that the source does not touch; merge_fn must keep "
            f"every row's {part_col!r} unchanged (publishing would drop "
            "those partitions' existing rows)")
    # A touched partition the merge left EMPTY (every row deleted —
    # possible with a delete-capable merge_fn) stages no dir; mark it
    # null so replay resets it instead of resurrecting the old rows.
    for v in touched:
        parts.setdefault(v, None)
    return _publish(table, {"mode": "replace_parts", "pcol": part_col,
                            "parts": parts},
                    max_retries=10, txn_id=txn_id, expect_latest=base)


def tx_diff_parts(spark: SparkSession, table: str, v_from: int,
                  v_to: int | None = None) -> DataFrame:
    """Change feed between two snapshots of a PARTITIONED table:
    the row-level difference as ``(op, <row columns>)`` with ``op``
    ``'insert'`` or ``'delete'`` (an update surfaces as the key's old
    row deleted + new row inserted) — what a downstream incremental
    consumer needs to catch up from ``v_from`` to ``v_to`` (default:
    current) without rescanning the table.

    The copy-on-write layout is what makes this cheap: a partition
    whose data-dir LIST is identical in both snapshots provably has
    identical content (dirs are immutable once logged), so only the
    partitions some commit actually replaced/appended are ever read —
    diff cost scales with the CHANGED data, not the table. Delta's
    CDF reads change files; this derives the same feed from dir
    identity alone."""
    pa = _visible_parts(table, as_of=v_from)
    pb = _visible_parts(table, as_of=v_to)
    changed = sorted(v for v in set(pa) | set(pb)
                     if pa.get(v) != pb.get(v))

    def read_side(state: dict[str, list[str]]) -> DataFrame | None:
        dirs = [d for v in changed for d in state.get(v, [])]
        if not dirs:
            return None
        return _read_dirs(spark, table, dirs)

    old, new = read_side(pa), read_side(pb)
    if old is None and new is None:
        # no changed partitions: empty frame with the table's schema
        any_dirs = [d for ds in pb.values() for d in ds] or \
                   [d for ds in pa.values() for d in ds]
        if not any_dirs:
            raise FileNotFoundError(f"tx_diff_parts: {table} is empty")
        base = _read_dirs(spark, table, any_dirs[:1]).limit(0)
        return base.select(F.lit("insert").alias("op"), "*").limit(0)
    if old is None:
        # nothing visible at v_from in the changed partitions: every
        # new row is an insert (multiplicity preserved trivially).
        return new.select(F.lit("insert").alias("op"), "*")
    if new is None:
        return old.select(F.lit("delete").alias("op"), "*")
    # Fused multiset diff (r14, guide §2.4): the exceptAll PAIR scanned
    # each side twice and shuffled twice (Catalyst rewrites each
    # exceptAll to union(+1/-1) → aggregate → replicate). One signed
    # count over ONE union computes both directions: a row with net
    # count n > 0 appears n times as insert, n < 0 as |n| deletes —
    # exactly exceptAll's multiplicity semantics (grouping treats NULL
    # and NaN keys the way exceptAll's own aggregate rewrite does).
    cols = new.columns
    net = (
        new.select(F.lit(1).cast("long").alias("__diff_sgn"), "*")
        .unionByName(old.select(F.lit(-1).cast("long").alias("__diff_sgn"), "*"))
        .groupBy(*cols).agg(F.sum("__diff_sgn").alias("__diff_n"))
        .filter(F.col("__diff_n") != 0)
    )
    return (
        net.select(
            F.when(F.col("__diff_n") > 0, "insert").otherwise("delete").alias("op"),
            *cols,
            F.explode(F.sequence(F.lit(1).cast("long"), F.abs("__diff_n")))
            .alias("__diff_i"))
        .drop("__diff_i")
    )


def tx_optimize_parts(spark: SparkSession, table: str, part_col: str,
                      zorder_cols: list[str], n_files: int = 16) -> int:
    """OPTIMIZE ... ZORDER BY for a partitioned txlog table: rewrite
    every visible partition's rows into fresh dirs clustered on the
    Morton curve of ``zorder_cols``, published as ONE atomic
    ``replace_parts`` commit (Delta's OPTIMIZE/ZORDER at this
    format's level).

    Contract: the visible snapshot is row-identical before and after
    (only the file layout changes); time travel to pre-optimize
    commits keeps working because replaced dirs stay on disk until
    vacuum; a writer racing past the snapshot this rewrite read
    raises :class:`TxConflict` instead of silently clobbering their
    commit. ``n_files`` bounds the TOTAL output file count — the
    range shuffle splits the (partition, zkey) space, so each
    partition dir gets contiguous, footer-skippable zkey ranges.

    Scale: one read of the table, one range shuffle keyed by 8-byte
    Morton keys, one write — the same cost profile as Delta's
    OPTIMIZE, and like it intended for a maintenance window, not the
    hot path. Follow with ``tx_checkpoint``/``tx_vacuum`` to reclaim
    the superseded generations once the history window allows.
    """
    from .zorder import zorder_key

    base = tx_latest_id(table)
    state = _visible_parts(table, as_of=base)
    dirs = [d for ds in state.values() for d in ds]
    if not dirs:
        raise FileNotFoundError(f"tx_optimize_parts: {table} is empty")
    parts = _stage_parts(
        _read_dirs(spark, table, dirs), table, part_col,
        arrange=lambda tagged: (zorder_key(tagged, zorder_cols)
                                .repartitionByRange(n_files, _PART, "_zkey")
                                .sortWithinPartitions(_PART, "_zkey")
                                .drop("_zkey")))
    return _publish(table, {"mode": "replace_parts", "pcol": part_col,
                            "parts": parts},
                    max_retries=10, txn_id=None, expect_latest=base)


# ---------------------------------------------------------------------------
# RESTORE and shallow CLONE: metadata-only state operations. Both
# publish ONE commit that references EXISTING immutable data dirs —
# no parquet is read or rewritten — which is exactly how Delta's
# RESTORE TABLE ... TO VERSION AS OF and CREATE TABLE ... SHALLOW
# CLONE work (a new log entry pointing at old files). Reference
# parity: Oracle FLASHBACK TABLE ... TO SCN (restore) and a
# snapshot-consistent CTAS without the copy (clone).


def _is_partitioned(table: str) -> bool:
    # meta commits (stats/bloom registrations) carry no layout signal
    es = [e for e in _entries(table) if e.get("mode") != "meta"]
    if es:
        return "parts" in max(es, key=lambda e: e["id"])
    cp = _latest_checkpoint(table)
    if cp:
        return "parts" in cp
    raise FileNotFoundError(f"txlog table {table} has no commits")


def tx_restore(table: str, to_version: int, max_retries: int = 10) -> int:
    """Roll the table's CURRENT state back to what it was at commit
    ``to_version`` — as a NEW commit, so the rollback itself is in
    the history (time travel to the bad commits still works, and a
    second restore can undo the restore). Metadata-only: the commit
    references the historical generation's dirs; nothing is copied.

    Raises the usual truncation ``ValueError`` when ``to_version``
    is no longer reachable (maintenance truncated it), and
    :class:`TxConflict` if another writer commits during the restore
    (the restored state was derived from the pre-restore snapshot).
    """
    latest = tx_latest_id(table)
    if to_version > latest:
        raise ValueError(
            f"tx_restore: {table} is at commit {latest}; cannot "
            f"restore to future version {to_version}")
    if _is_partitioned(table):
        state = _visible_parts(table, as_of=to_version)
        pcol = next((e["pcol"] for e in
                     sorted(_entries(table), key=lambda e: -e["id"])
                     if "pcol" in e), None)
        payload = {"mode": "overwrite_parts",
                   "parts": {v: list(ds) for v, ds in state.items()},
                   "restore_of": to_version}
        if pcol is not None:
            payload["pcol"] = pcol
    else:
        dirs = _visible_dirs(table, as_of=to_version)
        payload = {"mode": "overwrite", "dirs": dirs,
                   "restore_of": to_version}
    return _publish(table, payload, max_retries,
                    txn_id=None, expect_latest=latest)


def tx_clone(src: str, dst: str, as_of: int | None = None,
             max_retries: int = 10) -> int:
    """SHALLOW-clone ``src``'s snapshot (current, or ``as_of``) into
    a new txlog table at ``dst``: one commit whose dir references are
    ABSOLUTE paths into the source's data — zero bytes copied, reads
    work immediately, and writes to either table never affect the
    other (the clone's own commits stage under ``dst/data`` as
    usual; the source's files are immutable).

    Caveat (the one Delta documents for shallow clones too): a
    maintenance cycle on the SOURCE (``tx_truncate_log`` +
    ``tx_expire_checkpoints`` + ``tx_vacuum``) can reclaim data dirs
    the clone still references. Run ``tx_materialize`` on the clone
    (or re-clone) before retiring source history it depends on.
    """
    if tx_exists(dst):
        raise FileExistsError(f"tx_clone: {dst} already has commits")
    src_abs = Path(src).resolve()
    if _is_partitioned(src):
        state = _visible_parts(src, as_of=as_of)
        pcol = next((e["pcol"] for e in
                     sorted(_entries(src), key=lambda e: -e["id"])
                     if "pcol" in e), None)
        payload = {"mode": "overwrite_parts",
                   "parts": {v: [str(src_abs / d) for d in ds]
                             for v, ds in state.items()},
                   "clone_of": str(src_abs)}
        if pcol is not None:
            payload["pcol"] = pcol
    else:
        dirs = _visible_dirs(src, as_of=as_of)
        payload = {"mode": "overwrite",
                   "dirs": [str(src_abs / d) for d in dirs],
                   "clone_of": str(src_abs)}
    if as_of is not None:
        payload["src_version"] = as_of
    return _publish(dst, payload, max_retries,
                    txn_id=None, expect_latest=None)


def tx_materialize(spark: SparkSession, table: str,
                   max_retries: int = 10) -> int:
    """Rewrite the table's visible state into its OWN data directory
    as one atomic overwrite commit — turns a shallow clone into a
    self-contained table (Delta's CONVERT-the-clone step), and is a
    no-op-shaped full compaction for any table. Conflict-checked."""
    latest = tx_latest_id(table)
    if _is_partitioned(table):
        state = _visible_parts(table)
        stage = f"{_DATA}/{uuid.uuid4().hex}"
        parts: dict[str, str] = {}
        schemas = set()
        for v, ds in sorted(state.items()):
            if not ds:
                continue
            sub = f"{stage}/{_PART}={v}"
            part = _read_dirs(spark, table, ds)
            part.write.parquet(str(Path(table) / sub))
            parts[v] = sub
            schemas.add(part.schema.json())
        if len(schemas) == 1:
            # one sidecar serves every partition only when they agree
            # (an evolved append leaves partitions with other columns)
            _write_schema(Path(table) / stage, part.schema)
        pcol = next((e["pcol"] for e in
                     sorted(_entries(table), key=lambda e: -e["id"])
                     if "pcol" in e), None)
        payload = {"mode": "overwrite_parts", "parts": parts,
                   "materialized": True}
        if pcol is not None:
            payload["pcol"] = pcol
        return _publish(table, payload, max_retries,
                        txn_id=None, expect_latest=latest)
    stage = _stage_write(_read_dirs(spark, table, _visible_dirs(table)),
                         table)
    return _publish(table, {"mode": "overwrite", "dir": stage,
                            "materialized": True},
                    max_retries, txn_id=None, expect_latest=latest)


def tx_history(table: str) -> list[dict]:
    """DESCRIBE HISTORY: the surviving commit entries plus the latest
    checkpoint boundary, newest first — id, timestamp, operation
    (append / overwrite / merge-published overwrite / parts modes),
    txn id, and which dirs or partitions the commit touched. Entries
    older than the newest checkpoint may have been truncated away;
    the checkpoint row marks that horizon explicitly so a caller can
    tell "short history" from "young table"."""
    out = []
    for e in sorted(_entries(table), key=lambda x: -x["id"]):
        row = {"id": e["id"], "ts": e.get("ts"),
               "operation": e.get("mode", "unknown"),
               "txn": e.get("txn")}
        if "parts" in e:
            row["partitions"] = sorted(e["parts"])
        elif "dirs" in e:
            row["n_dirs"] = len(e["dirs"])
        elif "dir" in e:
            row["n_dirs"] = 1
        if "deletes" in e:
            row["operation"] = "delete"
        out.append(row)
    cp = _latest_checkpoint(table)
    if cp:
        out.append({"id": cp["id"], "ts": cp.get("ts"),
                    "operation": "checkpoint-horizon", "txn": None})
    return out
