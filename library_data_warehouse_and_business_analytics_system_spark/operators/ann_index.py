"""Persisted IVF ANN index with incremental maintenance.

``similarity.ivf_topk`` re-assigns the whole corpus to its coarse
quantizer on every call — right for one-shot analytics, wrong at
100 TB where the corpus is long-lived and queries are continuous.
This module persists the index as txlog tables and maintains it
incrementally (the similarity-search sibling of the persisted dedup
band index, ``operators/dedup_index.py``):

- **build** — train the coarse quantizer (``similarity.kmeans_fit``,
  decimal-exact → deterministic), assign every vector to its max-dot
  cell once, publish ``<root>/centroids`` (one atomic ``tx_write``)
  and ``<root>/assignments`` PARTITIONED BY CELL (one atomic
  ``tx_write_parts``). Per-row norm² is precomputed and stored so
  queries never touch the raw vectors twice.
- **query** — rank cells by query·centroid, read ONLY the probed
  cells' partitions (``tx_read_parts(part_values=…)``: metadata-only
  pruning — unprobed cells' files are never listed, never read),
  exact cosine re-rank inside the candidates. Query cost is
  proportional to the probed fraction of the corpus, not the corpus.
- **upsert** — assign NEW vectors to the EXISTING centroids and
  partition-scoped-merge them into only the touched cells
  (``tx_merge_parts``: untouched cells' parquet stays byte-identical,
  read/write cost proportional to the delta). ``txn_id`` passes
  through for exactly-once ingest under redelivery. Cross-cell moves
  (a re-embedded id whose max-dot cell changed) either raise under
  ``validate=True`` or, with ``on_move="reroute"``, evict the stale
  copy and place the new one in ONE atomic commit.
- **delete** — merge-on-read tombstones: ids append to a tiny deletes
  table (no assignment partition read or rewritten), queries anti-join
  them out, upserting a deleted id resurrects it, and a rebuild folds
  tombstones away physically.
- **cell_stats** — physical per-cell sizes from the assignments
  table, the drift/garbage signal that tells an operator when to
  retrain (a rebuild is just ``ann_index_build`` at the same root:
  one atomic overwrite per table, readers never see a half-built
  index).

Index layout mirrors FAISS's IVF-flat, re-expressed as partitioned
parquet + a commit log; probing all cells degenerates to exact
brute-force search (cells partition the corpus), which is what lets
the driver gate pin the full build→upsert→query lifecycle bit-exactly
against a plain SQL top-k oracle.
"""

from __future__ import annotations

import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vectors import cosine_from_norms, dot, l2_norm_sq
from ..session import checkpoint
from ..sources.txlog import (
    tx_exists,
    tx_latest_id,
    tx_merge_parts,
    tx_part_values,
    tx_read,
    tx_read_parts,
    tx_write,
    tx_write_parts,
)
from .similarity import _nearest_cells, cents_frame, kmeans_fit

_CENTROIDS = "centroids"
_ASSIGNMENTS = "assignments"
_DELETES = "deletes"


def _tables(root: str) -> tuple[str, str]:
    return f"{root}/{_CENTROIDS}", f"{root}/{_ASSIGNMENTS}"


def _deletes_table(root: str) -> str:
    return f"{root}/{_DELETES}"


def _tombstone_ids(spark: SparkSession, root: str) -> DataFrame | None:
    """LAZY distinct tombstoned ids, or None when the deletes table
    has never been created. No emptiness probe (r13, guide §1.2 /
    §2.4): the probe cost a full extra Spark job at every query /
    upsert / maintain touchpoint, while every consumer folds the ids
    into a broadcast anti-join or a count it runs anyway — an empty
    frame is free there. The deletes table stays merge-on-read: tiny
    (ids only), rewritten whole on resurrection, folded away entirely
    by a rebuild."""
    t = _deletes_table(root)
    if not tx_exists(t):
        return None
    return tx_read(spark, t).select("id").distinct()


def _load_centroids(spark: SparkSession, root: str) -> list[list[float]]:
    """Driver-side read of the k-row centroid table (r13, guide §1.2):
    the quantizer is k×dim — parameter-server-sized BY DESIGN (it is
    collected to the driver and re-broadcast every call anyway), so a
    full Spark read job for k rows was pure scheduling overhead. The
    txlog snapshot resolution is unchanged (visible dirs only); the
    parquet bytes are read with pyarrow, so values stay the exact
    doubles Spark wrote."""
    import pyarrow.parquet as pq

    from ..sources.txlog import _visible_dirs

    cent_t, _ = _tables(root)
    root_p = Path(cent_t)
    dirs = _visible_dirs(cent_t)
    if not dirs:
        # Loud-failure contract parity with the tx_read path this
        # replaced: a missing/never-built index must raise, not return
        # zero centroids (which would mask a typo'd root as a valid
        # empty result and fail later with a cryptic element_at error).
        raise FileNotFoundError(
            f"ann_index: no committed centroid table at {cent_t} "
            "(index never built, or wrong root)")
    rows: list[tuple[int, list[float]]] = []
    for d in dirs:
        for f in sorted((root_p / d).glob("*.parquet")):
            t = pq.read_table(f, columns=["cell", "centroid"])
            rows.extend(zip(t.column("cell").to_pylist(),
                            t.column("centroid").to_pylist()))
    rows.sort(key=lambda r: r[0])
    assert [c for c, _ in rows] == list(range(len(rows))), \
        "centroid table is missing cells or has duplicates"
    return [list(v) for _, v in rows]


def _write_centroids(cent_t: str, cents: list[list[float]]) -> int:
    """Publish the k×dim centroid matrix as ONE atomic overwrite
    commit, staged driver-side (r13, guide §1.2): the centroids
    already live on the driver as a Python list (kmeans_fit returns
    them; queries collect them back), so staging k rows through a
    Spark write job cost a full task launch + commit round-trip for
    parameter-server-sized data. Same txlog protocol as tx_write
    (stage dir first, then the atomic log-entry link); Spark reads
    the pyarrow-written parquet identically (int32 cell,
    list<double> centroid ≡ cell int, centroid array<double>). The
    dir carries txlog's schema sidecar like any Spark-staged one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..sources.txlog import _DATA, _publish, _write_schema

    stage = f"{_DATA}/{uuid.uuid4().hex}"
    d = Path(cent_t) / stage
    d.mkdir(parents=True, exist_ok=True)
    tbl = pa.table({
        "cell": pa.array(range(len(cents)), pa.int32()),
        "centroid": pa.array([list(c) for c in cents],
                             pa.list_(pa.float64())),
    })
    pq.write_table(tbl, d / "part-00000.parquet")
    _write_schema(d, T.StructType([
        T.StructField("cell", T.IntegerType()),
        T.StructField("centroid", T.ArrayType(T.DoubleType()))]))
    return _publish(cent_t, {"mode": "overwrite", "dir": stage},
                    max_retries=10, txn_id=None, expect_latest=None)


#: pyarrow types for the id column of a driver-staged EMPTY deletes
#: reset (the only schema the reset needs to reproduce). Keys are
#: DataFrame.dtypes spellings — Spark reports 'bigint'/'int'/'string'
#: (never 'long'/'integer'). Exotic id types fall back to the Spark
#: write path.
_PA_ID_TYPES = {
    "bigint": "int64", "int": "int32", "string": "string",
}


def _reset_deletes(del_t: str, id_dtype: str, spark: SparkSession,
                   corpus: DataFrame, id_col: str) -> None:
    """Overwrite the deletes table with an EMPTY generation (rebuild
    folds tombstones away physically). Zero-row data needs no
    executor: stage an empty parquet with the id schema driver-side
    and publish it through the same txlog protocol (r13, guide §1.2),
    schema sidecar included. Falls back to the Spark write for id
    dtypes outside the map."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..sources.txlog import _DATA, _publish, _write_schema

    pa_name = _PA_ID_TYPES.get(id_dtype)
    if pa_name is None:  # pragma: no cover - exotic id types
        tx_write(corpus.select(F.col(id_col).alias("id")).limit(0),
                 del_t, mode="overwrite")
        return
    stage = f"{_DATA}/{uuid.uuid4().hex}"
    d = Path(del_t) / stage
    d.mkdir(parents=True, exist_ok=True)
    tbl = pa.table({"id": pa.array([], getattr(pa, pa_name)())})
    pq.write_table(tbl, d / "part-00000.parquet")
    _write_schema(d, T.StructType(
        [T.StructField("id", corpus.schema[id_col].dataType)]))
    _publish(del_t, {"mode": "overwrite", "dir": stage},
             max_retries=10, txn_id=None, expect_latest=None)


def _assign(df: DataFrame, id_col: str, vec_col: str,
            cents: list[list[float]]) -> DataFrame:
    """(id, vec, norm_sq, cell) — each vector's max-dot cell (score
    desc, cell asc tie-break, same convention as ivf_topk)."""
    return df.crossJoin(cents_frame(df.sparkSession, cents)).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
        l2_norm_sq(F.col(vec_col)).alias("norm_sq"),
        _nearest_cells(F.col(vec_col), len(cents), 1)[0].cell.alias("cell"))


def ann_index_build(spark: SparkSession, corpus: DataFrame, id_col: str,
                    vec_col: str, root: str, dim: int, n_cells: int = 16,
                    max_iter: int = 5, seed: int = 42) -> None:
    """Train + assign + publish. Overwrites any existing index at
    ``root`` atomically (readers on the old snapshot are unaffected
    until the new commits land; each table flips in one commit)."""
    cent_t, asg_t = _tables(root)
    cents = kmeans_fit(corpus, vec_col, dim=dim, k=n_cells,
                       max_iter=max_iter, seed=seed)
    # A rebuild folds tombstones away physically: reset the deletes
    # table (the corpus passed in IS the live set by definition).
    # Reset BEFORE publishing the new assignments: the new snapshot
    # may legitimately resurrect previously-deleted ids, and the other
    # order opens a window (crash between the assignments commit and
    # the reset) where stale tombstones silently HIDE live ids from
    # the new snapshot. This order's failure window instead transiently
    # resurrects deleted ids against the OLD assignments — visible,
    # and healed by re-running the interrupted rebuild.
    if tx_exists(_deletes_table(root)):
        _reset_deletes(_deletes_table(root),
                       dict(corpus.dtypes)[id_col], spark, corpus, id_col)
    _write_centroids(cent_t, cents)
    tx_write_parts(_assign(corpus, id_col, vec_col, cents), asg_t,
                   part_col="cell", mode="overwrite")


def _upsert_with_moves(spark: SparkSession, asg_t: str, delta: DataFrame,
                       moved: DataFrame, txn_id: str | None,
                       expect_latest: int | None = None) -> int:
    """One atomic ``replace_parts`` commit that both EVICTS each moved
    id's stale copy from its old cell and upserts the delta: the
    touched-partition set is the delta's cells UNION the moved ids'
    old cells (carried by marker rows whose vec/norm are never staged
    — tx_merge_parts only reads the source's partition values), and
    the combine step anti-joins the evictions out of the current rows
    before the standard upsert. An old cell left empty stages no dir
    and replays as a reset (tx_merge_parts's delete-capable merge_fn
    contract), so the move degrades to a plain insert elsewhere."""
    from ..operators.merge import merge_upsert

    evict = moved.withColumnRenamed("stored_cell", "cell")
    touch = delta.unionByName(
        evict.select(
            "id",
            F.lit(None).cast(delta.schema["vec"].dataType).alias("vec"),
            F.lit(None).cast("double").alias("norm_sq"),
            "cell"))

    def combine(current: DataFrame, _src: DataFrame) -> DataFrame:
        kept = current.join(evict, ["id", "cell"], "left_anti")
        return merge_upsert(kept, delta, ["id"],
                            update_cols=["vec", "norm_sq"])

    return tx_merge_parts(spark, asg_t, touch, keys=["id"],
                          part_col="cell", merge_fn=combine,
                          txn_id=txn_id, expect_latest=expect_latest)


def ann_index_upsert(spark: SparkSession, root: str, new_vectors: DataFrame,
                     id_col: str, vec_col: str,
                     txn_id: str | None = None,
                     validate: bool = False,
                     on_move: str = "error") -> int:
    """Merge new/updated vectors into the index under the EXISTING
    quantizer: assign to the current centroids, then partition-scoped
    merge — only the cells receiving vectors are read and rewritten.
    Returns the commit id. An id that already exists in a touched cell
    is UPDATED (its vector/norm replace the stored ones).

    Constraint (inherited from tx_merge_parts's partition-immutability
    contract): updating an existing id with a vector whose max-dot
    cell DIFFERS from its stored cell is not handled by the default
    merge — the old copy would survive in the unread old cell and
    queries probing both cells would return the id twice.

    ``on_move`` picks the policy for such cross-cell moves:

    - ``"error"`` (default): with ``validate=True``, an ids-only,
      column-pruned scan of the existing assignments (id + the
      partition value — never the vectors) is anti-checked against the
      delta's assignments, and a move raises ``ValueError`` naming
      offending ids BEFORE anything commits, directing the caller to a
      rebuild. With ``validate=False`` the caller is trusted
      (append-mostly streams skip the scan entirely).
    - ``"reroute"``: moves are HANDLED — the stale copy is physically
      evicted from its old cell and the new copy upserted into its new
      cell in the SAME atomic ``replace_parts`` commit (readers never
      see zero or two copies; ``txn_id`` idempotence and the
      optimistic-concurrency check cover the whole move). The
      streaming re-embedding path: continuous ingest keeps upserting
      while the quantizer ages, and only a DRIFTED quantizer (cells no
      longer fitting the data — watch :func:`ann_index_cell_stats`)
      forces a rebuild. Costs the same (id, cell) scan as
      ``validate=True`` plus a read+rewrite of the moved ids' OLD
      cells (partition-scoped: proportional to the cells touched by
      the delta and the moves, never the corpus)."""
    if on_move not in ("error", "reroute"):
        raise ValueError(
            f"ann_index_upsert: unknown on_move={on_move!r} "
            "(expected 'error' or 'reroute')")
    cents = _load_centroids(spark, root)
    _, asg_t = _tables(root)
    # Snapshot anchor, captured BEFORE any read of the assignments
    # (ADVICE r11, the reroute TOCTOU): the stored-schema read and
    # the moved-id scan below both read this snapshot, and the merge
    # publishes conditionally on it — a commit landing between those
    # reads and the publish raises TxConflict instead of letting a
    # concurrently-moved id's stale copy survive in an untouched
    # cell. Single-writer deployments never hit the raise; concurrent
    # writers retry from a fresh read.
    base = tx_latest_id(asg_t)
    # Align the incoming vector dtype with the STORED assignments
    # (one footer-only schema read): merging e.g. array<double>
    # deltas into an array<float> index silently widens every touched
    # partition's schema through the merge's type unification,
    # leaving mixed-generation parquet that a later full read rejects
    # (SchemaColumnConvertNotSupportedException — and flakily, since
    # it depends on which file seeds schema inference). Casting BEFORE
    # assignment keeps cell choice, stored vector, and stored norm²
    # mutually consistent at the index's own precision.
    stored = tx_read_parts(spark, asg_t, as_of=base)
    stored_t = stored.schema["vec"].dataType
    if new_vectors.schema[vec_col].dataType != stored_t:
        new_vectors = new_vectors.withColumn(
            vec_col, F.col(vec_col).cast(stored_t))
    # Pin the assigned delta once (r13, guide §2.4 / §8: decide with
    # small rows, move them once): without this the batch-sized
    # (id, vec, norm_sq, cell) frame — and therefore the caller's
    # new_vectors subtree, which may be an expensive upstream query —
    # is re-derived by every downstream consumer: the moved-id scan,
    # the merge's touched-partition collect, the staged write, and the
    # tombstone-resurrection check (3-4 evaluations per upsert).
    delta = _assign(new_vectors, id_col, vec_col, cents).localCheckpoint()
    moved = None
    if validate or on_move == "reroute":
        existing = stored.select("id", F.col("cell").alias("stored_cell"))
        moved = (delta.select("id", "cell").join(existing, "id")
                 .filter(F.col("cell") != F.col("stored_cell")))
        if on_move == "reroute":
            # pin the moved set (bounded by |delta|): it drives the
            # touched-partition set, the eviction anti-join, and must
            # not be recomputed against post-commit state
            moved, got = checkpoint(moved.select("id", "stored_cell"),
                                    n=F.count(F.lit(1)))
            if not got["n"]:
                moved = None
        else:
            sample = moved.limit(5).collect()
            if sample:
                detail = ", ".join(
                    f"{r['id']!r}: {r['stored_cell']}->{r['cell']}"
                    for r in sample)
                raise ValueError(
                    "ann_index_upsert: re-embedded id(s) moved to a "
                    f"different cell ({detail}); upsert cannot evict "
                    "the stale copy from the old cell's partition - "
                    "rebuild the index (ann_index_build), or opt into "
                    "on_move='reroute' to move them atomically")
            moved = None
    if moved is not None:
        cid = _upsert_with_moves(spark, asg_t, delta, moved, txn_id,
                                 expect_latest=base)
    else:
        # Anchor the merge to `base` only when the moved-id scan
        # actually READ that snapshot (validate or reroute): the scan's
        # no-moves conclusion is stale if a commit landed since, so the
        # publish must conflict rather than risk a duplicate id. On
        # the plain no-scan path only the metadata-only schema read
        # used the snapshot (the merge's own dtype-drift guard
        # re-checks it), so concurrent non-conflicting upserts keep
        # serializing through the merge's self-anchored publish loop
        # instead of failing outright (ADVICE r12).
        scanned = validate or on_move == "reroute"
        cid = tx_merge_parts(spark, asg_t, delta, keys=["id"],
                             part_col="cell",
                             update_cols=["vec", "norm_sq"],
                             txn_id=txn_id,
                             expect_latest=base if scanned else None)
    # resurrect: an upserted id sheds any tombstone. Runs AFTER the
    # merge commit; a crash between the two is healed on redelivery
    # (the merge no-ops via txn_id, the tombstone clear re-runs) and
    # the rewrite itself is a no-op when nothing overlaps — so the
    # whole upsert stays idempotent. One overlap probe over the LAZY
    # ids frame (r13): the previous emptiness pre-probe was a full
    # extra job that the semi-join probe subsumes (empty tombstones ⇒
    # zero overlap ⇒ no rewrite, same outcome).
    tomb = _tombstone_ids(spark, root)
    if tomb is not None:
        upserted = delta.select("id").distinct()
        if tomb.join(upserted, "id", "left_semi").limit(1).count():
            tx_write(tomb.join(upserted, "id", "left_anti"),
                     _deletes_table(root), mode="overwrite")
    return cid


def ann_index_query(spark: SparkSession, root: str, queries: DataFrame,
                    id_col: str, vec_col: str, k: int = 10,
                    n_probe: int = 3) -> DataFrame:
    """``(query_id, neighbor_id, cos, rank)`` — top-``k`` by exact
    cosine within the probed cells. The probed cell set is the union
    over queries of each query's ``n_probe`` max-dot centroids
    (bounded by ``n_cells``, collected from the SMALL query side);
    only those partitions are read. ``n_probe >= n_cells`` probes
    everything and is exactly brute-force top-k."""
    cents = _load_centroids(spark, root)
    _, asg_t = _tables(root)
    k_eff = min(n_probe, len(cents))
    q = queries.crossJoin(cents_frame(spark, cents)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        l2_norm_sq(F.col(vec_col)).alias("nq"),
        F.transform(_nearest_cells(F.col(vec_col), len(cents), k_eff),
                    lambda s: s.cell).alias("cells"))
    if k_eff >= len(cents):
        # FULL probe: every query's probe set is every cell by
        # construction — the collect that unioned per-query cells was
        # a whole Spark job spent computing 0..k-1 (r13, guide §1.2).
        probed = list(range(len(cents)))
    else:
        # Join-free bounded collect (≤ n_cells values): one job under
        # no_aqe instead of three stage-materializations (r14, §1.2).
        from ..session import no_aqe

        with no_aqe(spark):
            probed = sorted({c for r in
                             q.select(F.explode("cells").alias("c"))
                             .distinct().collect() for c in [r["c"]]})
    # kmeans can leave cells empty, so a small n_probe over an unlucky
    # query set may select ONLY empty cells: intersect with the cells
    # that physically exist (commit-log metadata, no listing) and
    # return an empty result rather than tripping tx_read_parts's
    # no-visible-partition raise. Partial overlap degrades gracefully
    # (the probe simply sees fewer candidates, same as FAISS).
    avail = set(tx_part_values(asg_t))
    probed = [c for c in probed if str(c) in avail]
    if not probed:
        id_t = queries.schema[id_col].dataType
        return spark.createDataFrame([], T.StructType([
            T.StructField("query_id", id_t),
            T.StructField("neighbor_id", id_t),
            T.StructField("cos", T.DoubleType()),
            T.StructField("rank", T.IntegerType())]))
    cand = tx_read_parts(spark, asg_t,
                         part_values=[str(c) for c in probed])
    tomb = _tombstone_ids(spark, root)
    if tomb is not None:  # merge-on-read: tombstoned ids never score
        # No emptiness pre-probe (r13): the anti-join of an empty
        # broadcast is free inside the scoring job, while the probe
        # was a full extra job on every query against an index whose
        # deletes table ever existed.
        cand = cand.join(F.broadcast(tomb), "id", "left_anti")
    q_cells = q.select("query_id", "qv", "nq",
                       F.explode("cells").alias("cell"))
    scored = (
        F.broadcast(q_cells)
        .join(cand, q_cells.cell == cand.cell)
        .filter(F.col("query_id") != F.col("id"))
        .select("query_id", F.col("id").alias("neighbor_id"),
                cosine_from_norms(dot(F.col("qv"), F.col("vec")),
                                  F.col("nq"),
                                  F.col("norm_sq")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               "neighbor_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def ann_index_delete(spark: SparkSession, root: str, ids: DataFrame,
                     id_col: str, txn_id: str | None = None) -> int:
    """Tombstone-delete: append the ids to the (tiny, ids-only)
    deletes table — NO assignment partition is read or rewritten, the
    merge-on-read pattern applied at index level. Deleted ids vanish
    from queries immediately (anti-joined at score time); physical
    removal happens at the next :func:`ann_index_build` rebuild, and
    :func:`ann_index_upsert` of a deleted id resurrects it.
    ``txn_id`` gives exactly-once semantics under redelivery."""
    return tx_write(ids.select(F.col(id_col).alias("id")).distinct(),
                    _deletes_table(root), mode="append", txn_id=txn_id)


def ann_index_cell_stats(spark: SparkSession, root: str) -> DataFrame:
    """``(cell, n_vectors)`` — PHYSICAL per-cell sizes (tombstoned
    rows still occupy their cell until a rebuild folds them away):
    the balance/drift/garbage signal. A cell that outgrows its
    siblings by an order of magnitude means the quantizer no longer
    fits the data distribution: retrain via
    :func:`ann_index_build`."""
    _, asg_t = _tables(root)
    return (tx_read_parts(spark, asg_t)
            .groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors"))
            .orderBy("cell"))


def ann_index_maintain(spark: SparkSession, root: str,
                       rebuild_tombstone_frac: float = 0.2,
                       dim: int | None = None, n_cells: int | None = None,
                       max_iter: int = 5, seed: int = 42,
                       vacuum_retention_sec: float = 3600.0,
                       id_col: str = "id", vec_col: str = "vec",
                       truncate_log: bool = False) -> dict:
    """Operational upkeep, the index-level twin of the warehouse
    maintenance cycle: if tombstones exceed ``rebuild_tombstone_frac``
    of the physical rows, REBUILD from the live set (retraining the
    quantizer — requires ``dim``/``n_cells``; skipped with a warning
    flag otherwise, garbage is only a read-side anti-join cost);
    then checkpoint + expire + vacuum each of the index's txlog
    tables so log/file counts stay O(1) regardless of upsert /
    delete history. Readers are never blocked: every step is the
    commit log's atomic machinery. Returns a small report dict.

    ``truncate_log`` defaults to **False** because truncation forgets
    the covered commits' ``txn_id`` idempotence markers
    (``tx_truncate_log``'s documented retention contract): a
    concurrent or restarting ``ann_ingest`` stream that redelivers a
    pre-truncation batch would re-apply its merge and re-append its
    tombstones. Pass ``truncate_log=True`` only once every ingest
    stream's own checkpoint has advanced past the commits being
    truncated (redelivery of them is impossible) — the same
    coordination Delta documents for setTransaction retention."""
    from ..sources.txlog import (
        tx_checkpoint,
        tx_expire_checkpoints,
        tx_truncate_log,
        tx_vacuum,
    )

    cent_t, asg_t = _tables(root)
    report: dict = {"rebuilt": False, "tombstone_frac": 0.0}
    tomb = _tombstone_ids(spark, root)
    # Count the (tiny) tombstone set first and skip the full physical
    # count when it is zero (r13, guide §1.2): an empty deletes table
    # — every index right after a rebuild — used to cost an emptiness
    # probe AND kept the frac at 0.0 anyway.
    from ..session import no_aqe

    with no_aqe(spark):
        # join-free counts: one job each under no_aqe (r14, §1.2)
        n_tomb = tomb.count() if tomb is not None else 0
    if n_tomb:
        with no_aqe(spark):
            n_phys = tx_read_parts(spark, asg_t).count()
        frac = n_tomb / max(n_phys, 1)
        report["tombstone_frac"] = round(frac, 4)
        if frac > rebuild_tombstone_frac:
            if dim is None or n_cells is None:
                report["rebuild_skipped_missing_params"] = True
            else:
                # Pin the live set once (r13): the rebuild's
                # kmeans_fit scans its corpus once per Lloyd
                # iteration and _assign scans it again for the
                # final write — without the checkpoint each of
                # those re-reads EVERY assignments partition and
                # re-runs the tombstone anti-join (3+ full-index
                # passes instead of one).
                live = (tx_read_parts(spark, asg_t)
                        .join(F.broadcast(tomb), "id", "left_anti")
                        .select(F.col("id").alias(id_col),
                                F.col("vec").alias(vec_col))
                        .localCheckpoint())
                ann_index_build(spark, live, id_col, vec_col, root,
                                dim=dim, n_cells=n_cells,
                                max_iter=max_iter, seed=seed)
                report["rebuilt"] = True
    tables = [cent_t, asg_t]
    if tx_exists(_deletes_table(root)):
        tables.append(_deletes_table(root))
    for t in tables:
        tx_checkpoint(t)
        if truncate_log:
            tx_truncate_log(t)
        tx_expire_checkpoints(t, keep=1)
        tx_vacuum(t, retention_sec=vacuum_retention_sec)
    report["tables_maintained"] = len(tables)
    return report
