"""Unit tests for the round-7 search / clustering / CDC / DQ
operators. The registry differential (test_correctness.py) already
gates the six new queries bit-exactly against DuckDB; these tests pin
the operator-level properties the oracle can't express: the iterative
k-means fit vs numpy, changelog-apply semantics, NULL-pass CHECK
rules, and the scale contracts (vocabulary join not force-broadcast).
"""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from library_data_warehouse_and_business_analytics_system_spark.functions.vectors import (
    dot,
    sq_dist,
)
from library_data_warehouse_and_business_analytics_system_spark.operators import (
    cdc,
    clustering,
    graph,
    search,
    validate,
)
from library_data_warehouse_and_business_analytics_system_spark.plans import QUERIES
from library_data_warehouse_and_business_analytics_system_spark.sources.catalog import (
    load_table,
)

# ---------------------------------------------------------------------------
# k-means


def _numpy_lloyd(X: np.ndarray, k: int, iters: int) -> np.ndarray:
    """Reference Lloyd's: init = first k rows (lowest ids), ties to
    the lowest cluster id, empty clusters keep their centroid."""
    C = X[:k].astype(np.float64).copy()
    assign = None
    for _ in range(iters + 1):  # initial assign + iters re-estimates
        d = ((X[:, None, :].astype(np.float64) - C[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)  # argmin ties -> lowest index
        if _ == iters:
            break
        for c in range(k):
            members = X[assign == c]
            if len(members):
                C[c] = members.astype(np.float64).mean(axis=0)
    return assign


def test_kmeans_fit_matches_numpy(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    pdf = emb.orderBy("vec_id").toPandas()
    X = np.array([list(v) for v in pdf["embedding"]], dtype=np.float32)
    ids = pdf["vec_id"].to_numpy()

    assigned, centroids = clustering.kmeans_fit(emb, k=4, iters=3)
    got = {r["vec_id"]: r["cluster_id"] for r in assigned.collect()}
    want = _numpy_lloyd(X, k=4, iters=3)
    mismatches = [i for i, v in zip(ids, want) if got[int(i)] != int(v)]
    # Float means differ between Spark's agg order and numpy's only in
    # the last ulp; allow boundary flips on at most 1% of points.
    assert len(mismatches) <= max(1, len(ids) // 100), mismatches[:10]

    # Centroids: k rows, full dimensionality, finite.
    crows = centroids.collect()
    assert len(crows) == 4
    assert all(len(r["centroid"]) == len(X[0]) for r in crows)
    assert all(np.isfinite(r["centroid"]).all() for r in crows)


def test_kmeans_iterations_reduce_inertia(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    a0, _ = clustering.kmeans_fit(emb, k=4, iters=0)
    a3, _ = clustering.kmeans_fit(emb, k=4, iters=3)
    i0 = a0.agg(F.sum("dist")).collect()[0][0]
    i3 = a3.agg(F.sum("dist")).collect()[0][0]
    assert i3 <= i0 + 1e-9


def test_kmeans_empty_cluster_keeps_its_centroid(spark):
    """A centroid that captures no points must survive the iteration
    (standard Lloyd's convention), not vanish from the model."""
    # Two tight groups near (0,0) and (10,10); the third initial
    # centroid (0,1) loses all points to centroid 0 after one step.
    emb = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [0.0, 1.0]),
         (3, [10.0, 10.0]), (4, [10.1, 10.0]), (5, [10.0, 10.1])],
        "vec_id int, embedding array<float>")
    assigned, centroids = clustering.kmeans_fit(emb, k=3, iters=2)
    assert centroids.count() == 3
    # All six points end in the two real groups; the orphan centroid
    # persists with its last coordinates.
    got = {r["vec_id"]: r["cluster_id"] for r in assigned.collect()}
    assert got[3] == got[4] == got[5]
    assert got[0] == got[1]


def test_assign_ties_break_to_lowest_cluster(spark):
    emb = spark.createDataFrame(
        [(0, [0.0, 0.0])], "vec_id int, embedding array<float>")
    cent = spark.createDataFrame(
        [(5, [1.0, 0.0]), (2, [0.0, 1.0]), (9, [-1.0, 0.0])],
        "cluster_id int, centroid array<float>")
    row = clustering.assign_clusters(emb, cent).collect()[0]
    assert row["cluster_id"] == 2 and row["dist"] == 1.0


def test_assign_clusters_shuffles_nothing(spark, sf_dir):
    """The argmin is map-side over the broadcast centroid row, so the
    plan holds no shuffle exchange, of the corpus or of the centroid
    fold; the only exchange is the broadcast."""
    emb = load_table(spark, sf_dir, "embeddings")
    plan = (clustering.assign_clusters(emb, _centroids(emb))
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastExchange" in plan
    assert not re.search(r"(?<!Broadcast)Exchange", plan), plan


def test_kmeans_fit_rejects_fewer_vectors_than_k(spark):
    emb = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0])],
        "vec_id int, embedding array<float>")
    with pytest.raises(ValueError):
        clustering.kmeans_fit(emb, k=3, iters=1)


@pytest.mark.parametrize("score", ["sq_dist", "neg_dot"])
def test_lloyd_ties_go_to_lowest_cell(spark, score):
    """A point that scores equally against cells 1 and 2 joins cell 1
    under both scores the fits use; cells 0 and 2, left empty, keep
    their centroids."""
    if score == "sq_dist":
        fn, v, cents = sq_dist, [0.0, 0.0], [[5.0, 5.0], [1.0, 0.0],
                                              [-1.0, 0.0]]
    else:
        fn, v, cents = (lambda a, b: -dot(a, b)), [1.0, 0.0], \
            [[-1.0, 0.0], [0.0, 1.0], [0.0, -1.0]]
    points = spark.createDataFrame([(0, v)], "j int, v array<double>")
    assert clustering.lloyd(points, [cents], 1, fn) == \
        [[cents[0], v, cents[2]]]


def test_lloyd_iteration_costs_the_same_jobs_in_every_fit(spark, sf_dir):
    """The three k-means fits share one Lloyd loop: one more iteration
    costs each of them the same Spark jobs, at most two (the collect
    and the centroid broadcast)."""
    from library_data_warehouse_and_business_analytics_system_spark.operators import (
        quantize,
        similarity,
    )

    from .helpers import count_jobs

    emb = load_table(spark, sf_dir, "embeddings")
    fits = {
        "clustering": lambda it: clustering.kmeans_fit(emb, k=4, iters=it),
        "ivf": lambda it: similarity.kmeans_fit(emb, "embedding", dim=64,
                                                k=4, max_iter=it),
        "pq": lambda it: quantize.pq_fit(emb, "embedding", dim=64, m=2,
                                         ksub=8, iters=it),
    }
    deltas = {name: count_jobs(spark, lambda: fit(3))[1]
              - count_jobs(spark, lambda: fit(2))[1]
              for name, fit in fits.items()}
    assert len(set(deltas.values())) == 1, deltas
    assert 0 < deltas["clustering"] <= 2, deltas


# ---------------------------------------------------------------------------
# SemDeDup / prototype pruning


def _centroids(emb):
    return (emb.filter(F.col("vec_id") < 8)
            .select(F.col("vec_id").alias("cluster_id"),
                    F.col("embedding").alias("centroid")))


def test_semdedup_pairs_subset_of_global_pairs(spark, sf_dir):
    """Within-cluster pairs must be a subset of the global τ-pair
    set — SemDeDup trades recall (cross-cluster pairs) for the
    bounded pairwise stage; it must never ADD pairs."""
    from library_data_warehouse_and_business_analytics_system_spark.operators import (
        dedup,
    )
    emb = load_table(spark, sf_dir, "embeddings")
    sem = clustering.semantic_dedup_pairs(emb, _centroids(emb), 0.4)
    got = {(r["a"], r["b"]) for r in sem.collect()}
    full = {(r["a"], r["b"])
            for r in dedup.embedding_near_dup_pairs(
                emb, "embedding", "vec_id", threshold=0.4).collect()}
    assert got <= full
    assert got, "seeded near-dups should produce within-cluster pairs"


def test_semdedup_pairs_share_a_cluster(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _centroids(emb)
    assigned = {r["vec_id"]: r["cluster_id"]
                for r in clustering.assign_clusters(emb, cents).collect()}
    for r in clustering.semantic_dedup_pairs(emb, cents, 0.4).collect():
        assert assigned[r["a"]] == assigned[r["b"]] == r["cluster_id"]


def test_prototype_rank1_is_the_centroid_point(spark, sf_dir):
    """Centroids are drawn from the data (vec_id < 8), so each
    cluster's most prototypical point is the centroid itself at
    distance exactly 0."""
    emb = load_table(spark, sf_dir, "embeddings")
    top = clustering.prototype_prune(emb, _centroids(emb), per_cluster=1)
    rows = top.collect()
    assert len(rows) == 8
    assert all(r["vec_id"] == r["cluster_id"] and r["dist"] == 0.0
               for r in rows)


# ---------------------------------------------------------------------------
# CDC changelog apply


def _log(spark, rows):
    return spark.createDataFrame(
        rows, "k int, v string, seq int, op string")


def test_changelog_latest_wins_and_delete_drops(spark):
    log = _log(spark, [
        (1, "a", 1, "I"), (1, "b", 2, "U"),
        (2, "x", 1, "I"), (2, "x", 2, "D"),
        (3, "q", 1, "I"),
    ])
    snap = {r["k"]: r["v"] for r in cdc.apply_changelog(log, ["k"]).collect()}
    assert snap == {1: "b", 3: "q"}


def test_changelog_reinsert_after_delete_survives(spark):
    log = _log(spark, [
        (1, "a", 1, "I"), (1, "a", 2, "D"), (1, "c", 3, "I"),
    ])
    snap = cdc.apply_changelog(log, ["k"]).collect()
    assert [(r["k"], r["v"]) for r in snap] == [(1, "c")]


def test_changelog_tied_seq_delete_wins_deterministically(spark):
    log = _log(spark, [
        (1, "a", 1, "I"), (1, "b", 2, "U"), (1, "b", 2, "D"),
        (2, "x", 1, "I"), (2, "y", 1, "U"),
    ])
    snap = {r["k"]: r["v"] for r in cdc.apply_changelog(log, ["k"]).collect()}
    assert 1 not in snap          # tombstone precedence on the tie
    assert snap == {2: "x"}       # non-delete tie -> lexicographic op
                                  # ('I' < 'U'), so the insert wins —
                                  # arbitrary but deterministic
    # determinism: repeated application gives the same answer
    again = {r["k"]: r["v"]
             for r in cdc.apply_changelog(log, ["k"]).collect()}
    assert snap == again


def test_changelog_apply_is_idempotent_over_snapshot(spark):
    """Re-applying a snapshot (as all-I at a later seq) is a no-op."""
    log = _log(spark, [(1, "a", 1, "I"), (2, "b", 1, "I"), (2, "b", 2, "D")])
    snap = cdc.apply_changelog(log, ["k"])
    replay = snap.select(
        "k", "v", F.lit(10).alias("seq"), F.lit("I").alias("op"))
    again = cdc.apply_changelog(log.unionByName(replay), ["k"])
    assert sorted((r["k"], r["v"]) for r in again.collect()) == \
        sorted((r["k"], r["v"]) for r in snap.collect())


# ---------------------------------------------------------------------------
# BM25 / TF-IDF


def test_bm25_only_matching_docs_score(spark):
    docs = spark.createDataFrame(
        [(1, "spark joins data"), (2, "nothing relevant here"),
         (3, "spark spark spark")],
        "doc_id int, text string")
    out = search.bm25_topk(docs, ["spark"], k=10).collect()
    assert sorted(r["doc_id"] for r in out) == [1, 3]
    assert all(r["score"] > 0 for r in out)
    # Higher tf on same-length docs... doc 3 (tf=3) outranks doc 1 (tf=1).
    best = min(out, key=lambda r: r["rank"])
    assert best["doc_id"] == 3


def test_bm25_idf_downweights_common_terms(spark):
    rows = [(i, "common filler words") for i in range(20)]
    rows += [(100, "common rare filler"), (101, "rare things only")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r["score"]
           for r in search.bm25_topk(docs, ["rare", "common"], k=30).collect()}
    # doc 100 matches both terms; the 'rare' contribution must
    # dominate a common-only doc's score.
    assert out[100] > out[0]
    assert out[101] > out[0]


def test_tfidf_rare_term_tops_each_doc(spark):
    docs = spark.createDataFrame(
        [(1, "shared shared unique1"), (2, "shared shared unique2"),
         (3, "shared shared unique3")],
        "doc_id int, text string")
    top = search.tfidf_top_terms(docs, per_doc=1).collect()
    assert {r["doc_id"]: r["term"] for r in top} == {
        1: "unique1", 2: "unique2", 3: "unique3"}


def test_tfidf_vocabulary_join_is_not_force_broadcast(spark, sf_dir):
    """Same contract as doc_token_familiarity (VERDICT r6): the df
    side spans the Heaps-law vocabulary, so it must never ride a
    broadcast — only the 1-row scalar frame is allowed to stay a
    broadcast (nested-loop). Since the r13 window rewrite the df is a
    COUNT OVER (PARTITION BY term) — a hash-partitioned exchange on
    the term key — instead of a groupBy+self-join; assert that shape
    (or a shuffled join, the pre-r13 form) and, with auto-broadcast
    off, no hash-broadcast anywhere in the plan."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = (QUERIES["tfidf_top_terms"].fn(spark, sf_dir)
             ._jdf.queryExecution().executedPlan().toString())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert (("SortMergeJoin" in p) or ("ShuffledHashJoin" in p)
            or ("Window" in p and "hashpartitioning(term" in p))
    assert "BroadcastHashJoin" not in p


# ---------------------------------------------------------------------------
# PageRank / RRF


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src int, dst int")


def test_pagerank_matches_numpy_reference(spark):
    import numpy as np
    pairs = [(1, 2), (2, 1), (1, 3), (3, 1), (2, 3), (3, 2),
             (4, 1), (5, 1)]  # triangle plus two feeders into node 1
    got = {r["id"]: r["pr"]
           for r in graph.pagerank(_edges(spark, pairs),
                                   iters=3, damping=0.85).collect()}
    nodes = sorted({x for p in pairs for x in p})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for s, _ in pairs:
        out[idx[s]] += 1
    pr = np.full(n, 1.0 / n)
    for _ in range(3):
        new = np.full(n, 0.15 / n)
        for s, d in pairs:
            new[idx[d]] += 0.85 * pr[idx[s]] / out[idx[s]]
        pr = new
    for v in nodes:
        assert abs(got[v] - pr[idx[v]]) < 1e-12, v
    # The fed node dominates; the feeders (no in-edges) sit at base.
    assert got[1] == max(got.values())
    assert got[4] == got[5] == min(got.values())


def test_pagerank_symmetric_cycle_is_uniform(spark):
    pairs = [(1, 2), (2, 3), (3, 1)]
    got = {r["id"]: r["pr"]
           for r in graph.pagerank(_edges(spark, pairs), iters=5).collect()}
    assert len(set(got.values())) == 1  # exactly uniform, bit-for-bit


def test_rrf_doc_in_both_lists_wins(spark):
    a = spark.createDataFrame([(10, 1), (11, 2)], "doc_id int, rank int")
    b = spark.createDataFrame([(10, 1), (12, 2)], "doc_id int, rank int")
    out = {r["doc_id"]: (r["rrf"], r["fused_rank"])
           for r in search.rrf_fuse(a, b).collect()}
    assert out[10][1] == 1
    assert out[10][0] == 2.0 / 61.0
    # single-list docs get exactly the one-term score
    assert out[11][0] == 1.0 / 62.0 and out[12][0] == 1.0 / 62.0


# ---------------------------------------------------------------------------
# Priority sampling


def test_priority_sample_prefers_heavy_rows(spark):
    from library_data_warehouse_and_business_analytics_system_spark.operators import (
        sampling,
    )
    rows = [(i, 1 if i < 990 else 100_000) for i in range(1000)]
    df = spark.createDataFrame(rows, "id int, w int")
    got = sampling.priority_sample(df, F.col("w"), k=10, id_col="id")
    heavy = sum(1 for r in got.collect() if r["w"] == 100_000)
    # 10 rows hold ~50% of total weight; the md5 draw is fixed, and
    # a weighted sampler must pull most of them into a k=10 sample.
    assert heavy >= 5
    # deterministic: the same call yields the identical sample
    again = sampling.priority_sample(df, F.col("w"), k=10, id_col="id")
    assert sorted(r["id"] for r in got.collect()) == \
        sorted(r["id"] for r in again.collect())


def test_priority_sample_without_replacement_exact_k(spark):
    from library_data_warehouse_and_business_analytics_system_spark.operators import (
        sampling,
    )
    df = spark.createDataFrame([(i, i + 1) for i in range(100)],
                               "id int, w int")
    got = sampling.priority_sample(df, F.col("w"), k=25, id_col="id")
    ids = [r["id"] for r in got.collect()]
    assert len(ids) == 25 and len(set(ids)) == 25


# ---------------------------------------------------------------------------
# DQ expectations


def test_expectation_report_null_predicate_passes(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "x"), (-3, "y")], "a int, b string")
    rows = {r["check_name"]: r for r in validate.expectation_report(
        df, "t", [("a_positive", "a > 0"),
                  ("b_is_x", "b = 'x'")]).collect()}
    assert rows["t.a_positive"]["n_violations"] == 1  # only -3
    # NULL predicate (b = 'x' on NULL b) passes -> violations are the
    # definite 'y' row only.
    assert rows["t.b_is_x"]["n_violations"] == 1
    assert all(r["n_checked"] == 3 for r in rows.values())


def test_fk_report_counts_orphans_and_passes_nulls(spark):
    child = spark.createDataFrame(
        [(1, 10), (2, 99), (3, None)], "id int, fk int")
    parent = spark.createDataFrame([(10,), (20,)], "pk int")
    r = validate.fk_report(child, "fk", parent, "pk", "child.fk").collect()[0]
    assert (r["n_checked"], r["n_violations"], r["passed"]) == (3, 1, False)


def test_dq_summary_all_green_on_testdata(spark, sf_dir):
    rows = QUERIES["dq_expectations_summary"].fn(spark, sf_dir).collect()
    assert len(rows) == 6
    assert all(r["passed"] for r in rows), [
        (r["check_name"], r["n_violations"]) for r in rows]


def test_semantic_dedup_mega_cluster_guard(spark):
    """A near-duplicate flood collapsing into one cluster must be
    REFUSED (with sizes), not silently quadratically processed —
    and the guard passes untouched when clusters are bounded."""
    import pytest
    from library_data_warehouse_and_business_analytics_system_spark.operators import clustering

    n = 500
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"))
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [-1.0, 0.0])],
        "cluster_id long, centroid array<double>")
    with pytest.raises(ValueError, match="max_cluster_size=100"):
        clustering.semantic_dedup_pairs(emb, cents, 0.9,
                                        max_cluster_size=100)
    ok = clustering.semantic_dedup_pairs(emb, cents, 0.9,
                                         max_cluster_size=n + 1)
    assert ok.count() == n * (n - 1) // 2
