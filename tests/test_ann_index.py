"""Persisted IVF ANN index (operators/ann_index.py): the full-probe
degeneracy to exact brute force, upsert ≡ rebuild, exactly-once
upsert under redelivery, and — the point of the module — partition
pruning: a partial-probe query must never read an unprobed cell's
files."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from library_data_warehouse_and_business_analytics_system_spark.operators.ann_index import (
    ann_index_build,
    ann_index_cell_stats,
    ann_index_query,
    ann_index_upsert,
)
from library_data_warehouse_and_business_analytics_system_spark.operators.similarity import (
    brute_force_topk,
)
from library_data_warehouse_and_business_analytics_system_spark.sources.catalog import (
    load_table,
)

_DIM, _CELLS = 64, 8


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _rows(df):
    return sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cos"])
        for r in df.collect())


@pytest.mark.slow  # opt-in lane (r14): endurance/equivalence run
def test_full_probe_equals_brute_force(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    root = str(tmp_path / "idx")
    ann_index_build(spark, emb, "vec_id", "embedding", root,
                    dim=_DIM, n_cells=_CELLS, max_iter=2, seed=7)
    queries = emb.filter(F.col("vec_id") < 6)
    got = ann_index_query(spark, root, queries, "vec_id", "embedding",
                          k=10, n_probe=_CELLS)
    want = brute_force_topk(emb, queries, "embedding", "vec_id", k=10)
    assert _rows(got) == _rows(want)


@pytest.mark.slow  # opt-in lane (r14): endurance/equivalence run
def test_upsert_equals_rebuild_and_is_idempotent(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    base = emb.filter(F.col("vec_id") % 4 != 0)
    delta = emb.filter(F.col("vec_id") % 4 == 0)
    queries = emb.filter(F.col("vec_id") < 6)

    inc = str(tmp_path / "inc")
    ann_index_build(spark, base, "vec_id", "embedding", inc,
                    dim=_DIM, n_cells=_CELLS, max_iter=2, seed=7)
    cid1 = ann_index_upsert(spark, inc, delta, "vec_id", "embedding",
                            txn_id="batch-1")
    # redelivered micro-batch: same txn_id commits NOTHING new
    cid2 = ann_index_upsert(spark, inc, delta, "vec_id", "embedding",
                            txn_id="batch-1")
    assert cid1 == cid2

    got = ann_index_query(spark, inc, queries, "vec_id", "embedding",
                          k=10, n_probe=_CELLS)
    # rebuild from the full corpus under the SAME quantizer seed/data
    # split is not available (kmeans saw only `base`), but full probe
    # makes the quantizer irrelevant: compare against brute force.
    want = brute_force_topk(emb, queries, "embedding", "vec_id", k=10)
    assert _rows(got) == _rows(want)

    # updating an id WITHIN its cell replaces the stored vector: the
    # no-op re-send of existing vectors must not duplicate any row
    n_before = ann_index_cell_stats(spark, inc).agg(
        F.sum("n_vectors")).first()[0]
    ann_index_upsert(spark, inc, delta, "vec_id", "embedding",
                     txn_id="batch-2")
    n_after = ann_index_cell_stats(spark, inc).agg(
        F.sum("n_vectors")).first()[0]
    assert n_before == n_after == emb.count()


def test_partial_probe_prunes_unprobed_cells(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    root = str(tmp_path / "idx")
    ann_index_build(spark, emb, "vec_id", "embedding", root,
                    dim=_DIM, n_cells=_CELLS, max_iter=2, seed=7)
    one_query = emb.filter(F.col("vec_id") == 3)
    got = ann_index_query(spark, root, one_query, "vec_id", "embedding",
                          k=5, n_probe=1)
    # the scan must touch exactly ONE assignment partition dir (plus
    # the centroid table read happens driver-side before the plan)
    cells_read = {
        seg.split("=", 1)[1]
        for f in got.inputFiles() for seg in f.split("/")
        if seg.startswith("_part=")
    }
    assert len(cells_read) == 1, cells_read
    # and the candidates really come from that cell only
    assert got.count() == 5
    # full probe touches every non-empty cell
    full = ann_index_query(spark, root, one_query, "vec_id", "embedding",
                           k=5, n_probe=_CELLS)
    cells_full = {
        seg.split("=", 1)[1]
        for f in full.inputFiles() for seg in f.split("/")
        if seg.startswith("_part=")
    }
    n_nonempty = ann_index_cell_stats(spark, root).count()
    assert len(cells_full) == n_nonempty
    # partial-probe recall sanity: its hits are a subset of exact
    exact = {r["neighbor_id"] for r in brute_force_topk(
        emb, one_query, "embedding", "vec_id", k=5).collect()}
    approx = {r["neighbor_id"] for r in got.collect()}
    assert approx  # non-trivial candidate set from one cell


def test_cell_stats_cover_corpus(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    root = str(tmp_path / "idx")
    ann_index_build(spark, emb, "vec_id", "embedding", root,
                    dim=_DIM, n_cells=_CELLS, max_iter=1, seed=11)
    stats = ann_index_cell_stats(spark, root).collect()
    assert sum(r["n_vectors"] for r in stats) == emb.count()
    assert all(r["n_vectors"] > 0 for r in stats)


@pytest.mark.slow  # opt-in lane (r14): endurance/equivalence run
def test_streaming_ingest_equals_sequential_upserts(spark, sf_dir,
                                                    tmp_path):
    """start_ann_ingest over per-file micro-batches ≡ sequential
    ann_index_upsert calls: full-probe queries over the streamed
    index match brute force over build ∪ delta, and the assignments
    tables hold identical contents."""
    import os

    from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
        tx_read_parts,
    )
    from library_data_warehouse_and_business_analytics_system_spark.streaming.ann_ingest import (
        ingest_batch, start_ann_ingest,
    )

    emb = _emb(spark, sf_dir)
    base = emb.filter(F.col("vec_id") % 4 != 0)
    delta = emb.filter(F.col("vec_id") % 4 == 0)
    chunks = [delta.filter(F.col("vec_id") % 8 == 0),
              delta.filter(F.col("vec_id") % 8 != 0)]
    src = str(tmp_path / "src")
    t0 = 1_700_000_000
    for i, c in enumerate(chunks):
        d = f"{src}/b{i}"
        c.coalesce(1).write.parquet(d)
        for f in os.listdir(d):       # file mtime orders the triggers
            os.utime(os.path.join(d, f), (t0 + i * 10, t0 + i * 10))

    root_s = str(tmp_path / "idx_s")
    ann_index_build(spark, base, "vec_id", "embedding", root_s,
                    dim=_DIM, n_cells=_CELLS, max_iter=2, seed=7)
    stream = (spark.readStream.schema(emb.schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/*"))
    q = start_ann_ingest(stream, root_s, str(tmp_path / "ck"),
                         id_col="vec_id", vec_col="embedding")
    q.awaitTermination()

    root_b = str(tmp_path / "idx_b")
    ann_index_build(spark, base, "vec_id", "embedding", root_b,
                    dim=_DIM, n_cells=_CELLS, max_iter=2, seed=7)
    for i, c in enumerate(chunks):
        ingest_batch(c, i, root_b, id_col="vec_id", vec_col="embedding")

    a = tx_read_parts(spark, f"{root_s}/assignments")
    b = tx_read_parts(spark, f"{root_b}/assignments")
    assert a.count() == b.count() == emb.count()
    assert a.exceptAll(b).count() == 0

    queries = emb.filter(F.col("vec_id") < 6)
    got = ann_index_query(spark, root_s, queries, "vec_id", "embedding",
                          k=10, n_probe=_CELLS)
    want = brute_force_topk(emb, queries, "embedding", "vec_id", k=10)
    assert _rows(got) == _rows(want)


@pytest.mark.slow  # opt-in lane (r14): endurance/equivalence run
def test_delete_resurrect_rebuild(spark, sf_dir, tmp_path):
    """Merge-on-read deletes: tombstoned ids vanish from queries
    without touching any assignment partition; upserting a deleted id
    resurrects it; a rebuild folds tombstones away physically. Every
    stage compared against brute force over the LIVE set."""
    from library_data_warehouse_and_business_analytics_system_spark.operators.ann_index import (
        ann_index_delete,
    )

    emb = _emb(spark, sf_dir)
    root = str(tmp_path / "idx")
    ann_index_build(spark, emb, "vec_id", "embedding", root,
                    dim=_DIM, n_cells=_CELLS, max_iter=2, seed=7)
    queries = emb.filter(F.col("vec_id") < 6)

    victims = emb.filter(F.col("vec_id") % 7 == 0)
    cid1 = ann_index_delete(spark, root, victims.select("vec_id"),
                            "vec_id", txn_id="del-1")
    cid2 = ann_index_delete(spark, root, victims.select("vec_id"),
                            "vec_id", txn_id="del-1")  # redelivery
    assert cid1 == cid2

    live = emb.join(victims.select("vec_id"), "vec_id", "left_anti")
    got = ann_index_query(spark, root, queries, "vec_id", "embedding",
                          k=10, n_probe=_CELLS)
    want = brute_force_topk(live, queries, "embedding", "vec_id", k=10)
    assert _rows(got) == _rows(want)
    # tombstones are metadata-only: physical cell sizes are unchanged
    assert ann_index_cell_stats(spark, root).agg(
        F.sum("n_vectors")).first()[0] == emb.count()

    # resurrect half the victims by upserting them again
    back = victims.filter(F.col("vec_id") % 14 == 0)
    ann_index_upsert(spark, root, back, "vec_id", "embedding",
                     txn_id="res-1")
    live2 = live.unionByName(back)
    got2 = ann_index_query(spark, root, queries, "vec_id", "embedding",
                           k=10, n_probe=_CELLS)
    want2 = brute_force_topk(live2, queries, "embedding", "vec_id", k=10)
    assert _rows(got2) == _rows(want2)

    # rebuild over the live set folds the tombstones away physically
    ann_index_build(spark, live2, "vec_id", "embedding", root,
                    dim=_DIM, n_cells=_CELLS, max_iter=2, seed=7)
    assert ann_index_cell_stats(spark, root).agg(
        F.sum("n_vectors")).first()[0] == live2.count()
    got3 = ann_index_query(spark, root, queries, "vec_id", "embedding",
                           k=10, n_probe=_CELLS)
    assert _rows(got3) == _rows(want2)


@pytest.mark.slow  # opt-in lane (r14): endurance/equivalence run
def test_maintain_rebuilds_on_tombstone_pressure(spark, sf_dir, tmp_path):
    """ann_index_maintain: tombstones past the threshold trigger a
    rebuild from the live set (deletes folded away physically), the
    commit logs collapse to O(1) files, and queries are unchanged
    across the whole cycle."""
    import os

    from library_data_warehouse_and_business_analytics_system_spark.operators.ann_index import (
        ann_index_delete, ann_index_maintain,
    )

    emb = _emb(spark, sf_dir)
    root = str(tmp_path / "idx")
    ann_index_build(spark, emb, "vec_id", "embedding", root,
                    dim=_DIM, n_cells=_CELLS, max_iter=2, seed=7)
    victims = emb.filter(F.col("vec_id") % 3 == 0)     # ~33% > 20%
    ann_index_delete(spark, root, victims.select("vec_id"), "vec_id")

    queries = emb.filter(F.col("vec_id") < 6)
    live = emb.join(victims.select("vec_id"), "vec_id", "left_anti")
    before = ann_index_query(spark, root, queries, "vec_id", "embedding",
                             k=10, n_probe=_CELLS)
    want = brute_force_topk(live, queries, "embedding", "vec_id", k=10)
    assert _rows(before) == _rows(want)

    # truncate_log=True models the coordinated case: this test owns
    # the only writer, so no stream can redeliver pre-truncation txns
    report = ann_index_maintain(spark, root, rebuild_tombstone_frac=0.2,
                                dim=_DIM, n_cells=_CELLS, max_iter=2,
                                seed=7, vacuum_retention_sec=0.0,
                                truncate_log=True)
    assert report["rebuilt"] and report["tombstone_frac"] > 0.2
    assert report["tables_maintained"] == 3
    # physical garbage gone
    assert ann_index_cell_stats(spark, root).agg(
        F.sum("n_vectors")).first()[0] == live.count()
    # queries unchanged across the maintenance cycle
    after = ann_index_query(spark, root, queries, "vec_id", "embedding",
                            k=10, n_probe=_CELLS)
    assert _rows(after) == _rows(want)
    # commit logs are bounded: one checkpoint, zero surviving entries
    for sub in ("centroids", "assignments", "deletes"):
        log = os.path.join(root, sub, "_txlog")
        entries = [f for f in os.listdir(log) if f.endswith(".json")]
        assert len(entries) <= 1, (sub, entries)

    # below-threshold garbage is left in place (read-side anti-join
    # is cheaper than a rebuild): only the log upkeep runs
    few = emb.filter(F.col("vec_id") % 97 == 0)
    ann_index_delete(spark, root, few.select("vec_id"), "vec_id")
    report2 = ann_index_maintain(spark, root, rebuild_tombstone_frac=0.2,
                                 dim=_DIM, n_cells=_CELLS)
    assert not report2["rebuilt"] and report2["tombstone_frac"] <= 0.2


def test_upsert_validate_rejects_cross_cell_move(spark, sf_dir, tmp_path):
    """validate=True enforces the documented cell-move constraint: an
    existing id re-embedded into a DIFFERENT cell raises (nothing
    commits) instead of silently leaving the stale copy in the old
    cell; a same-cell re-embedding still upserts fine."""
    import pytest

    from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
        tx_read_parts,
    )

    emb = _emb(spark, sf_dir)
    root = str(tmp_path / "idx")
    ann_index_build(spark, emb, "vec_id", "embedding", root,
                    dim=_DIM, n_cells=_CELLS, max_iter=2, seed=7)
    asg = tx_read_parts(spark, f"{root}/assignments").select("id", "cell")
    a, b = None, None
    for r in asg.limit(200).collect():
        if a is None:
            a = r
        elif r["cell"] != a["cell"]:
            b = r
            break
    assert a is not None and b is not None, "need two distinct cells"

    by_id = {r["vec_id"]: r["embedding"]
             for r in emb.filter(F.col("vec_id").isin(a["id"], b["id"]))
             .collect()}
    # id a re-embedded with b's vector -> lands in b's cell: a move
    moved = spark.createDataFrame(
        [(a["id"], by_id[b["id"]])], "vec_id bigint, embedding array<double>")
    n_before = ann_index_cell_stats(spark, root).agg(
        F.sum("n_vectors")).first()[0]
    with pytest.raises(ValueError, match="different cell"):
        ann_index_upsert(spark, root, moved, "vec_id", "embedding",
                         validate=True)
    n_after = ann_index_cell_stats(spark, root).agg(
        F.sum("n_vectors")).first()[0]
    assert n_before == n_after  # nothing committed

    # same-cell update passes validation and does not duplicate
    same = spark.createDataFrame(
        [(a["id"], by_id[a["id"]])], "vec_id bigint, embedding array<double>")
    ann_index_upsert(spark, root, same, "vec_id", "embedding",
                     validate=True)
    assert ann_index_cell_stats(spark, root).agg(
        F.sum("n_vectors")).first()[0] == n_before


@pytest.mark.slow  # opt-in lane (r14): endurance/equivalence run
def test_upsert_reroute_moves_id_across_cells(spark, sf_dir, tmp_path):
    """on_move='reroute' (r10 verdict item 6): a re-embedded id whose
    max-dot cell changed is EVICTED from its old cell and upserted
    into the new one in ONE atomic commit — afterwards the id is
    queryable in its new cell only (exactly one copy anywhere), the
    index row count is unchanged, and a moveless reroute upsert
    degrades to the plain merge."""
    from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
        tx_latest_id,
        tx_read_parts,
    )

    emb = _emb(spark, sf_dir)
    root = str(tmp_path / "idx")
    ann_index_build(spark, emb, "vec_id", "embedding", root,
                    dim=_DIM, n_cells=_CELLS, max_iter=2, seed=7)
    asg_t = f"{root}/assignments"
    asg = tx_read_parts(spark, asg_t).select("id", "cell")
    a, b = None, None
    for r in asg.limit(200).collect():
        if a is None:
            a = r
        elif r["cell"] != a["cell"]:
            b = r
            break
    assert a is not None and b is not None, "need two distinct cells"
    by_id = {r["vec_id"]: r["embedding"]
             for r in emb.filter(F.col("vec_id").isin(a["id"], b["id"]))
             .collect()}

    n_before = ann_index_cell_stats(spark, root).agg(
        F.sum("n_vectors")).first()[0]
    v_before = tx_latest_id(asg_t)
    moved = spark.createDataFrame(
        [(a["id"], by_id[b["id"]])],
        "vec_id bigint, embedding array<double>")
    ann_index_upsert(spark, root, moved, "vec_id", "embedding",
                     on_move="reroute", txn_id="move-1")
    # ONE commit, atomically covering evict + place
    assert tx_latest_id(asg_t) == v_before + 1
    # redelivery of the same micro-batch commits nothing new
    ann_index_upsert(spark, root, moved, "vec_id", "embedding",
                     on_move="reroute", txn_id="move-1")
    assert tx_latest_id(asg_t) == v_before + 1

    # exactly one copy, in the NEW cell only
    copies = (tx_read_parts(spark, asg_t)
              .filter(F.col("id") == a["id"]).collect())
    assert len(copies) == 1
    assert copies[0]["cell"] == b["cell"]
    assert ann_index_cell_stats(spark, root).agg(
        F.sum("n_vectors")).first()[0] == n_before
    # a full-probe query for the moved vector finds the id ONCE, and
    # at cosine 1 (the stored vector really is the new embedding)
    got = ann_index_query(
        spark, root,
        spark.createDataFrame([(999999, by_id[b["id"]])],
                              "vec_id bigint, embedding array<double>"),
        "vec_id", "embedding", k=5, n_probe=_CELLS).collect()
    hits = [r for r in got if r["neighbor_id"] == a["id"]]
    assert len(hits) == 1 and hits[0]["cos"] > 0.999999

    # a moveless reroute upsert is a plain merge (no eviction path)
    same = spark.createDataFrame(
        [(b["id"], by_id[b["id"]])],
        "vec_id bigint, embedding array<double>")
    ann_index_upsert(spark, root, same, "vec_id", "embedding",
                     on_move="reroute")
    assert ann_index_cell_stats(spark, root).agg(
        F.sum("n_vectors")).first()[0] == n_before

    # unknown policy is rejected up front
    import pytest
    with pytest.raises(ValueError, match="on_move"):
        ann_index_upsert(spark, root, same, "vec_id", "embedding",
                         on_move="tombstone")


def test_query_over_empty_probed_cells_returns_empty(spark, sf_dir,
                                                     tmp_path):
    """A probe set whose every cell is physically absent returns an
    EMPTY result (correct schema) instead of tx_read_parts's
    no-visible-partition FileNotFoundError; partial overlap degrades
    to the surviving cells' candidates."""
    from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
        tx_part_values,
        tx_read_parts,
        tx_write_parts,
    )

    emb = _emb(spark, sf_dir)
    root = str(tmp_path / "idx")
    ann_index_build(spark, emb, "vec_id", "embedding", root,
                    dim=_DIM, n_cells=_CELLS, max_iter=2, seed=7)
    asg_t = f"{root}/assignments"
    cells = [int(v) for v in tx_part_values(asg_t)]
    assert len(cells) >= 2
    keep = cells[0]
    # shrink the index to ONE physical cell (centroids unchanged), so
    # every other cell's nearest-centroid probes hit absent partitions
    only = tx_read_parts(spark, asg_t).filter(F.col("cell") == keep)
    tx_write_parts(only, asg_t, part_col="cell", mode="overwrite")
    assert tx_part_values(asg_t) == [str(keep)]

    # a query vector whose single-probe (nearest-centroid) cell is
    # now absent: with n_probe=1 the probe set is entirely empty
    absent_q = emb.limit(50)
    from library_data_warehouse_and_business_analytics_system_spark.operators.ann_index import (
        _load_centroids, _nearest_cells, cents_frame,
    )
    cents = _load_centroids(spark, root)
    cand = absent_q.crossJoin(cents_frame(spark, cents)).select(
        "vec_id", _nearest_cells(F.col("embedding"), len(cents), 1)[0]
        .cell.alias("c0")).filter(F.col("c0") != keep).limit(1).collect()
    assert cand, "expected at least one query probing an absent cell"
    probe_q = emb.filter(F.col("vec_id") == cand[0]["vec_id"])

    got = ann_index_query(spark, root, probe_q, "vec_id", "embedding",
                          k=5, n_probe=1)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == [
        "query_id", "neighbor_id", "cos", "rank"]

    # full probe still works: candidates come from the surviving cell
    full = ann_index_query(spark, root, probe_q, "vec_id", "embedding",
                           k=5, n_probe=_CELLS)
    assert full.count() > 0


@pytest.mark.parametrize("id_type", ["bigint", "int", "string"])
def test_driver_staged_dirs_carry_schema_sidecars(spark, tmp_path, id_type):
    """The pyarrow-staged centroid and deletes dirs carry txlog's
    schema sidecar: after a rebuild, reading either table launches no
    job and yields the footer-inferred schema."""
    from pathlib import Path

    from library_data_warehouse_and_business_analytics_system_spark.operators.ann_index import (
        _deletes_table, _tables, ann_index_delete,
    )
    from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
        _visible_dirs, tx_read,
    )

    from .helpers import count_jobs

    corpus = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i % 5), 0.5]) for i in range(24)],
        "vec_id int, embedding array<double>").select(
        F.col("vec_id").cast(id_type).alias("vec_id"), "embedding")
    root = str(tmp_path / "idx")
    ann_index_build(spark, corpus, "vec_id", "embedding", root,
                    dim=4, n_cells=2, max_iter=2, seed=7)
    ann_index_delete(spark, root, corpus.filter(F.col("vec_id") == 3),
                     "vec_id")
    ann_index_build(spark, corpus, "vec_id", "embedding", root,
                    dim=4, n_cells=2, max_iter=2, seed=7)
    for t in (_tables(root)[0], _deletes_table(root)):
        df, jobs = count_jobs(spark, lambda: tx_read(spark, t))
        assert jobs == 0, t
        inferred = spark.read.parquet(
            *[str(Path(t) / d) for d in _visible_dirs(t)])
        assert df.schema == inferred.schema, t
    assert tx_read(spark, _deletes_table(root)).count() == 0
