"""File-level column statistics + data skipping for txlog tables —
Delta's per-file min/max stats, at commit-dir granularity.

Partitioned tables already prune at metadata level by partition
value (``tx_read_parts(part_values=...)``). This module gives
UNPARTITIONED tables the same property for any column with a natural
write-time clustering (ingest date, monotone ids): the commit entry
carries per-dir ``{col: [min, max]}`` harvested from the PARQUET
FOOTERS of the staged files — a metadata-only pass, no second scan
of the data — and a pruned read lists only the dirs whose range
intersects the predicate.

Scale: a 100 TB fact appended daily for 3 years is ~1000 commit
dirs; a "last 7 days" query must open 7, not 1000. Parquet's own
row-group stats then prune WITHIN the opened dirs (Spark does that
automatically); this layer prunes the DIR LIST before any file is
opened — the part Spark cannot do for a multi-dir snapshot.

Bloom sidecars (``tx_write_bloom`` / ``tx_read_point``) extend the
same idea to POINT lookups, where min/max ranges are useless (a
hash-distributed key intersects every dir's range): each commit
writes a deterministic md5-based bloom filter of the key column as a
small ``_bloom_<col>.json`` sidecar INSIDE the data dir (underscore
files are invisible to Spark's parquet reader), and a point read
tests the k bits driver-side before opening any dir. Delta's bloom
filter index / Iceberg's bloom write-property, at commit-dir
granularity. The log entry records only {m, k}; the bitset lives in
the sidecar, so log entries stay O(1) bytes.

Honesty notes:
- Stats are recorded in the LOG ENTRIES at write time; since round 8
  ``tx_checkpoint`` folds every live dir's stats/bloom registration
  into its payload, so ``tx_truncate_log`` no longer strips them, and
  ``tx_refresh_stats`` (one replay-neutral ``meta`` commit)
  re-harvests stats / rebuilds bloom sidecars for dirs produced by
  OPTIMIZE or compaction. Dirs that still have no registration
  anywhere are simply always read (never wrongly skipped). Bloom
  BITSETS live WITH the data dirs (the entry carries only {m, k});
  a deleted/corrupt sidecar likewise degrades to reading that dir.
- Only int/float/str/date/timestamp columns carry stats (what
  parquet footers expose losslessly); others are ignored. Bloom
  columns are restricted to int/string keys (types whose Spark
  CAST-to-string is canonical and matches Python's ``str``).
- At petabyte scale the per-commit bitset OR-aggregation collects
  ≤ m/64 nonzero words to the driver (the bitset itself, ~180 KB
  per million keys at 1 % fpp) — bounded by the filter size, never
  by the data.
"""

from __future__ import annotations

import datetime as _dt
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession

from .txlog import (
    _entries, _latest_checkpoint, _publish, _read_dirs, _replay, _stage_write,
)

_TYPES = (int, float, str)


def _encode(v):
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, _TYPES):
        return v
    if isinstance(v, _dt.datetime):
        return {"t": "ts", "v": v.isoformat()}
    if isinstance(v, _dt.date):
        return {"t": "d", "v": v.isoformat()}
    if isinstance(v, bytes):
        return None              # truncation-unsafe in footers
    return None


def _decode(v):
    if isinstance(v, dict):
        if v["t"] == "d":
            return _dt.date.fromisoformat(v["v"])
        return _dt.datetime.fromisoformat(v["v"])
    return v


def _footer_stats(stage_dir: Path, cols: list[str]) -> dict:
    """Min/max per requested column across every row group of every
    staged file, straight from the parquet footers. A column missing
    exact stats in ANY row group is dropped entirely (a partial range
    would wrongly prune)."""
    import pyarrow.parquet as pq

    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    dead: set[str] = set()
    want = set(cols)
    for f in sorted(stage_dir.rglob("*.parquet")):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for i in range(g.num_columns):
                c = g.column(i)
                name = c.path_in_schema
                if name not in want or name in dead:
                    continue
                st = c.statistics
                if (st is None or not st.has_min_max
                        or st.min is None or st.max is None):
                    dead.add(name)
                    continue
                lo, hi = st.min, st.max
                if name not in mins or lo < mins[name]:
                    mins[name] = lo
                if name not in maxs or hi > maxs[name]:
                    maxs[name] = hi
    out = {}
    for name in want - dead:
        if name in mins:
            lo, hi = _encode(mins[name]), _encode(maxs[name])
            if lo is not None and hi is not None:
                out[name] = [lo, hi]
    return out


def tx_write_stats(df: DataFrame, table: str, stats_cols: list[str],
                   mode: str = "append", max_retries: int = 10,
                   txn_id: str | None = None,
                   expect_latest: int | None = None) -> int:
    """``tx_write`` that additionally records per-commit min/max for
    ``stats_cols``, harvested from the staged parquet footers
    (metadata-only — the data is not re-scanned)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"tx_write_stats: unknown mode {mode!r}")
    if txn_id is not None:
        for e in _entries(table):
            if e.get("txn") == txn_id:
                return e["id"]
    stage = _stage_write(df, table)
    stats = _footer_stats(Path(table) / stage, stats_cols)
    payload = {"mode": mode, "dir": stage}
    if stats:
        payload["stats"] = stats
    return _publish(table, payload, max_retries, txn_id, expect_latest)


def _dir_stats(table: str) -> dict[str, dict]:
    """dir → stats map: the latest checkpoint's carried registrations
    (tx_checkpoint folds live dirs' stats into its payload, so
    truncation no longer strips them), write-path ``stats`` entries,
    and ``meta`` refresh commits' ``dirstats`` — newest wins. Dirs
    with no registration anywhere simply never prune."""
    out: dict[str, dict] = {}
    cp = _latest_checkpoint(table)
    if cp:
        out.update(cp.get("dirstats", {}))
    for e in sorted(_entries(table), key=lambda x: x["id"]):
        if "stats" in e and "dir" in e:
            out[e["dir"]] = e["stats"]
        out.update(e.get("dirstats", {}))
    return out


def tx_read_pruned(spark: SparkSession, table: str, col: str,
                   lo=None, hi=None,
                   as_of: int | None = None) -> DataFrame:
    """Snapshot read of rows with ``lo <= col <= hi`` (either bound
    optional), opening ONLY the visible dirs whose recorded [min,
    max] intersects the bound — dirs without stats are always read
    (never wrongly skipped). The residual per-row filter is applied
    on top, so the result is exactly the filtered snapshot."""
    cp = _latest_checkpoint(table, as_of)
    base = cp["id"] if cp else 0
    entries = [e for e in _entries(table) if e["id"] > base]
    dirs = _replay(cp, entries, table, as_of)
    if not dirs:
        raise FileNotFoundError(f"tx_read_pruned: no commits in {table}")
    stats = _dir_stats(table)
    keep = []
    for d in dirs:
        s = stats.get(d, {}).get(col)
        if s is None:
            keep.append(d)
            continue
        dmin, dmax = _decode(s[0]), _decode(s[1])
        if lo is not None and dmax < lo:
            continue
        if hi is not None and dmin > hi:
            continue
        keep.append(d)
    if not keep:
        # predicate excludes every dir: empty frame with the schema
        return _read_dirs(spark, table, dirs).where("1=0")
    df = _read_dirs(spark, table, keep)
    from pyspark.sql import functions as F
    cond: Column | None = None
    if lo is not None:
        cond = F.col(col) >= F.lit(lo)
    if hi is not None:
        c2 = F.col(col) <= F.lit(hi)
        cond = c2 if cond is None else cond & c2
    return df.where(cond) if cond is not None else df


# ---------------------------------------------------------------------------
# Bloom-filter sidecars for point-key skipping.


def _bloom_params(n: int, fpp: float) -> tuple[int, int]:
    """Standard bloom sizing: m = -n ln p / (ln 2)^2 bits (rounded up
    to whole 64-bit words), k = (m/n) ln 2 hashes."""
    import math

    n = max(int(n), 1)
    m = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    m = ((m + 63) // 64) * 64
    k = max(1, round(m / n * math.log(2)))
    return m, int(k)


def _bloom_positions_expr(col: str, m: int, k: int):
    """k bit positions as a Spark array column. Hash i of value v is
    the first 48 bits of md5(str(v) + ':' + i) mod m — byte-identical
    to the Python mirror below for int/string values."""
    from pyspark.sql import functions as F

    s = F.col(col).cast("string")
    return F.array(*[
        F.conv(F.substring(F.md5(F.concat(s, F.lit(f":{i}"))), 1, 12),
               16, 10).cast("long") % m
        for i in range(k)])


def _bloom_positions_py(value, m: int, k: int) -> list[int]:
    import hashlib

    s = str(value)
    return [int(hashlib.md5(f"{s}:{i}".encode()).hexdigest()[:12], 16) % m
            for i in range(k)]


def _build_bloom_sidecar(spark: SparkSession, table: str, d: str,
                         col: str, n_rows: int, fpp: float) -> dict:
    """Aggregate the staged dir ``d``'s bloom bitset distributed
    (bit-OR of 64-bit words, ≤ m/64 rows collected) and write it as
    ``_bloom_<col>.json`` inside the stage dir. Returns the {m, k}
    entry for the commit payload."""
    import base64
    import json

    from pyspark.sql import functions as F

    m, k = _bloom_params(n_rows, fpp)
    staged = _read_dirs(spark, table, [d])
    words = (
        staged.select(F.explode(_bloom_positions_expr(col, m, k)).alias("b"))
        .where(F.col("b").isNotNull())
        .groupBy(F.floor(F.col("b") / 64).cast("long").alias("w"))
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), "
                    "CAST(b % 64 AS INT)))").alias("bits"))
        .collect()
    )
    bitset = bytearray(m // 8)
    for row in words:
        word = int(row["bits"]) & 0xFFFFFFFFFFFFFFFF
        base = int(row["w"]) * 8
        for byte_i in range(8):
            bitset[base + byte_i] |= (word >> (8 * byte_i)) & 0xFF
    sidecar = Path(table) / d / f"_bloom_{col}.json"
    sidecar.write_text(json.dumps(
        {"m": m, "k": k,
         "bits": base64.b64encode(bytes(bitset)).decode()}))
    return {"m": m, "k": k}


def tx_write_bloom(df: DataFrame, table: str, bloom_cols: list[str],
                   fpp: float = 0.01, mode: str = "append",
                   stats_cols: list[str] | None = None,
                   max_retries: int = 10, txn_id: str | None = None,
                   expect_latest: int | None = None) -> int:
    """``tx_write`` that additionally builds a per-commit bloom
    filter sidecar for each of ``bloom_cols`` (int/string key
    columns), sized for ``fpp`` at the staged row count (row count
    read from the parquet footers — no extra scan). Composes with
    min/max stats via ``stats_cols``."""
    import pyarrow.parquet as pq

    if mode not in ("append", "overwrite"):
        raise ValueError(f"tx_write_bloom: unknown mode {mode!r}")
    if txn_id is not None:
        for e in _entries(table):
            if e.get("txn") == txn_id:
                return e["id"]
    stage = _stage_write(df, table)
    stage_path = Path(table) / stage
    n_rows = sum(pq.ParquetFile(f).metadata.num_rows
                 for f in stage_path.rglob("*.parquet"))
    spark = df.sparkSession
    payload: dict = {"mode": mode, "dir": stage}
    blooms = {c: _build_bloom_sidecar(spark, table, stage, c, n_rows, fpp)
              for c in bloom_cols}
    if blooms:
        payload["bloom"] = blooms
    if stats_cols:
        stats = _footer_stats(stage_path, stats_cols)
        if stats:
            payload["stats"] = stats
    return _publish(table, payload, max_retries, txn_id, expect_latest)


def _bloom_might_contain(table: str, d: str, col: str, meta: dict,
                         value) -> bool:
    """Test the sidecar's k bits. Any read/parse failure degrades to
    True (the dir is read; never wrongly skipped)."""
    import base64
    import json

    try:
        raw = json.loads((Path(table) / d / f"_bloom_{col}.json")
                         .read_text())
        bits = base64.b64decode(raw["bits"])
        m, k = int(raw["m"]), int(raw["k"])
        if (m, k) != (int(meta["m"]), int(meta["k"])):
            return True
    except (OSError, ValueError, KeyError):
        return True
    for pos in _bloom_positions_py(value, m, k):
        if not (bits[pos // 8] >> (pos % 8)) & 1:
            return False
    return True


def tx_read_point(spark: SparkSession, table: str, col: str, value,
                  as_of: int | None = None) -> DataFrame:
    """Snapshot point lookup ``col = value``: dirs whose bloom filter
    proves the key absent are never opened; dirs without a bloom (or
    with an unreadable sidecar) are always read. The residual equality
    filter runs on top, so bloom false positives only cost I/O, never
    correctness."""
    from pyspark.sql import functions as F

    cp = _latest_checkpoint(table, as_of)
    base = cp["id"] if cp else 0
    entries = [e for e in _entries(table) if e["id"] > base]
    dirs = _replay(cp, entries, table, as_of)
    if not dirs:
        raise FileNotFoundError(f"tx_read_point: no commits in {table}")
    blooms: dict[str, dict] = {}
    if cp:
        for d, b in cp.get("dirbloom", {}).items():
            if col in b:
                blooms[d] = b[col]
    for e in sorted(_entries(table), key=lambda x: x["id"]):
        if "bloom" in e and "dir" in e and col in e["bloom"]:
            blooms[e["dir"]] = e["bloom"][col]
        for d, b in e.get("dirbloom", {}).items():
            if col in b:
                blooms[d] = b[col]
    keep = [d for d in dirs
            if d not in blooms
            or _bloom_might_contain(table, d, col, blooms[d], value)]
    if not keep:
        return _read_dirs(spark, table, dirs).where("1=0")
    return _read_dirs(spark, table, keep).where(F.col(col) == F.lit(value))


# ---------------------------------------------------------------------------
# Metadata-only COUNT(*).


def tx_count(spark: SparkSession, table: str,
             as_of: int | None = None) -> int:
    """COUNT(*) of a plain-table snapshot WITHOUT scanning any data:
    the visible dirs' parquet footers carry exact row counts (what
    lets Delta answer SELECT COUNT(*) from stats). Equality deletes
    make footer counts wrong, but the plain replay already raises on
    live MoR deletes, so a returned count is always exact. Cost:
    one footer read per file — O(files), zero data bytes."""
    import pyarrow.parquet as pq

    cp = _latest_checkpoint(table, as_of)
    base = cp["id"] if cp else 0
    entries = [e for e in _entries(table) if e["id"] > base]
    dirs = _replay(cp, entries, table, as_of)
    if not dirs:
        raise FileNotFoundError(f"tx_count: no commits in {table}")
    total = 0
    for d in dirs:
        for f in (Path(table) / d).rglob("*.parquet"):
            total += pq.ParquetFile(f).metadata.num_rows
    return total


def tx_count_parts(spark: SparkSession, table: str,
                   as_of: int | None = None,
                   part_values: list[str] | None = None) -> dict[str, int]:
    """Partitioned twin of :func:`tx_count`: per-partition exact row
    counts from footers (optionally restricted to ``part_values``),
    zero data bytes. Returns {partition value: rows}."""
    import pyarrow.parquet as pq

    from .txlog import _visible_parts

    state = _visible_parts(table, as_of)
    if part_values is not None:
        state = {v: ds for v, ds in state.items() if v in part_values}
    out: dict[str, int] = {}
    for v, ds in state.items():
        n = 0
        for d in ds:
            for f in (Path(table) / d).rglob("*.parquet"):
                n += pq.ParquetFile(f).metadata.num_rows
        out[v] = n
    return out


# ---------------------------------------------------------------------------
# Stats skipping for PARTITIONED tables: per-(partition, dir) min/max
# in the commit entry. Partition values already prune at metadata
# level; this adds SECOND-column pruning WITHIN a partition across
# its append generations — the daily-append case (a year partition
# accumulates one dir per day; a "last 7 days" predicate on the date
# column opens 7 of 365 dirs inside the year, plus the partition
# pruning that already dropped the other years).


def tx_write_parts_stats(df: DataFrame, table: str, part_col: str,
                         stats_cols: list[str], mode: str = "append",
                         max_retries: int = 10,
                         txn_id: str | None = None,
                         expect_latest: int | None = None) -> int:
    """``tx_write_parts`` that additionally records per-partition-dir
    min/max for ``stats_cols`` from the staged parquet footers."""
    from .txlog import TxConflict, _stage_parts, tx_latest_id

    modes = {"append": "append_parts", "overwrite": "overwrite_parts",
             "replace": "replace_parts"}
    if mode not in modes:
        raise ValueError(f"tx_write_parts_stats: unknown mode {mode!r}")
    if txn_id is not None:
        for e in _entries(table):
            if e.get("txn") == txn_id:
                return e["id"]
    if expect_latest is not None and tx_latest_id(table) != expect_latest:
        raise TxConflict(
            f"tx_write_parts_stats: {table} is at commit "
            f"{tx_latest_id(table)}, not the expected {expect_latest}")
    parts = _stage_parts(df, table, part_col)
    stats = {}
    for value, d in parts.items():
        s = _footer_stats(Path(table) / d, stats_cols)
        if s:
            stats[value] = s
    payload = {"mode": modes[mode], "pcol": part_col, "parts": parts}
    if stats:
        payload["pstats"] = stats
    return _publish(table, payload, max_retries, txn_id, expect_latest)


def _part_dir_stats(table: str) -> dict[str, dict]:
    """(staged dir) → stats: checkpoint-carried registrations,
    write-path ``pstats`` maps, and ``meta`` refresh commits'
    ``dirstats`` — newest wins."""
    out: dict[str, dict] = {}
    cp = _latest_checkpoint(table)
    if cp:
        out.update(cp.get("dirstats", {}))
    for e in sorted(_entries(table), key=lambda x: x["id"]):
        if "pstats" in e and "parts" in e:
            for value, d in e["parts"].items():
                if isinstance(d, str) and value in e["pstats"]:
                    out[d] = e["pstats"][value]
        out.update(e.get("dirstats", {}))
    return out


def tx_read_parts_pruned(spark: SparkSession, table: str, col: str,
                         lo=None, hi=None,
                         part_values: list[str] | None = None,
                         as_of: int | None = None) -> DataFrame:
    """Partitioned snapshot read with BOTH pruning tiers: partition
    values (metadata) and per-dir [min, max] on ``col`` (footer stats
    recorded at write). Dirs without stats are always read; the
    residual row filter runs on top, so the result is exactly the
    filtered snapshot."""
    from pyspark.sql import functions as F

    from .txlog import _visible_parts

    state = _visible_parts(table, as_of)
    if part_values is not None:
        state = {v: ds for v, ds in state.items() if v in part_values}
    all_dirs = [d for ds in state.values() for d in ds]
    if not all_dirs:
        raise FileNotFoundError(
            f"tx_read_parts_pruned: no visible partitions in {table}")
    stats = _part_dir_stats(table)
    keep = []
    for d in all_dirs:
        s = stats.get(d, {}).get(col)
        if s is None:
            keep.append(d)
            continue
        dmin, dmax = _decode(s[0]), _decode(s[1])
        if lo is not None and dmax < lo:
            continue
        if hi is not None and dmin > hi:
            continue
        keep.append(d)
    if not keep:
        return _read_dirs(spark, table, all_dirs).where("1=0")
    df = _read_dirs(spark, table, keep)
    cond = None
    if lo is not None:
        cond = F.col(col) >= F.lit(lo)
    if hi is not None:
        c2 = F.col(col) <= F.lit(hi)
        cond = c2 if cond is None else cond & c2
    return df.where(cond) if cond is not None else df


# ---------------------------------------------------------------------------
# Sidecar refresh — the maintenance half of data skipping.


def tx_refresh_stats(spark: SparkSession, table: str,
                     stats_cols: list[str] | None = None,
                     bloom_cols: list[str] | None = None,
                     fpp: float = 0.01, max_retries: int = 10) -> int:
    """(Re)register skipping metadata for the CURRENT visible dirs —
    the maintenance pass that keeps pruning alive across rewrites.
    OPTIMIZE / compaction / restore publish fresh dirs with no stats
    and no bloom sidecars, so point/range reads silently degrade to
    always-read; this harvests per-dir min/max for ``stats_cols``
    from the parquet footers (metadata-only, no data scan), builds a
    bloom sidecar inside every dir missing one for ``bloom_cols``
    (one distributed bit-OR aggregate per missing sidecar), and
    publishes ONE ``meta`` commit carrying the dir-keyed
    registrations. The commit moves no data (replay treats ``meta``
    as a no-op), is conflict-checked against the snapshot it
    harvested (a racing writer raises ``TxConflict``), and
    ``tx_checkpoint`` folds the registrations into its payload so
    ``tx_truncate_log`` can no longer strip them. Works on plain and
    partitioned tables. Returns the meta commit id (or the current
    latest id when there was nothing to register)."""
    import json as _json

    import pyarrow.parquet as pq

    from .txlog import _is_partitioned, _visible_dirs, _visible_parts, \
        tx_latest_id

    latest = tx_latest_id(table)
    if _is_partitioned(table):
        state = _visible_parts(table, as_of=latest)
        dirs = [d for ds in state.values() for d in ds]
    else:
        dirs = _visible_dirs(table, as_of=latest)

    # Per-dir work fans out on a driver thread pool: footer harvesting
    # is tiny pyarrow metadata I/O, and each missing bloom is one small
    # Spark aggregate — Spark's scheduler runs concurrently-submitted
    # jobs in parallel, so a maintenance window over a 1000-commit
    # table issues ~8 inflight bloom jobs instead of 1000 sequential
    # ones. Thread count stays modest: each job already parallelizes
    # across executors; the pool only hides per-job submit latency.
    from concurrent.futures import ThreadPoolExecutor

    dirstats: dict[str, dict] = {}
    if stats_cols:
        def harvest(d: str):
            return d, _footer_stats(Path(table) / d, list(stats_cols))

        with ThreadPoolExecutor(max_workers=8) as pool:
            for d, s in pool.map(harvest, dirs):
                if s:
                    dirstats[d] = s

    dirbloom: dict[str, dict] = {}
    if bloom_cols:
        def build(d: str):
            dpath = Path(table) / d
            per_col: dict[str, dict] = {}
            for c in bloom_cols:
                sidecar = dpath / f"_bloom_{c}.json"
                if sidecar.exists():
                    # re-register the surviving sidecar's parameters
                    # (its entry may have been truncated away)
                    try:
                        raw = _json.loads(sidecar.read_text())
                        per_col[c] = {"m": int(raw["m"]),
                                      "k": int(raw["k"])}
                        continue
                    except (OSError, ValueError, KeyError):
                        pass  # unreadable: rebuild below
                n_rows = sum(pq.ParquetFile(f).metadata.num_rows
                             for f in dpath.rglob("*.parquet"))
                per_col[c] = _build_bloom_sidecar(spark, table, d, c,
                                                  n_rows, fpp)
            return d, per_col

        with ThreadPoolExecutor(max_workers=8) as pool:
            for d, per_col in pool.map(build, dirs):
                if per_col:
                    dirbloom[d] = per_col

    if not dirstats and not dirbloom:
        return latest
    payload: dict = {"mode": "meta"}
    if dirstats:
        payload["dirstats"] = dirstats
    if dirbloom:
        payload["dirbloom"] = dirbloom
    return _publish(table, payload, max_retries, txn_id=None,
                    expect_latest=latest)
