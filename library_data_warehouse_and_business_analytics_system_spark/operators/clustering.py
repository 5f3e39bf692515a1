"""Distributed k-means over embedding columns.

:func:`lloyd` is the one Lloyd loop behind the three k-means fits:
this module's Euclidean :func:`kmeans_fit`, the IVF coarse quantizer
(``similarity.kmeans_fit``, max dot product) and the PQ codebooks
(``quantize.pq_fit``, Euclidean per subspace). The assignment step —
the part that touches every row — is pure DataFrame algebra: the
score folded in index order with ``F.aggregate``/``F.zip_with`` (JVM
codegen, no Python), argmin via ``array_min`` over (score, cell)
structs so ties break to the lowest cell. Centroid re-estimation is a
posexplode + two-level hash aggregate keyed (subspace, cell, dim): the
fan-out collapses in the partial phase, so the shuffle carries
cells × dims rows — constant in the corpus.

Only the cells × dims centroid table ever reaches the driver (Lloyd's
iteration needs the new centroids for the next assignment pass); the
corpus itself never moves. That is the standard distributed k-means
shape — at 100 TB each iteration is one scan + one tiny shuffle.

Determinism: distances accumulate in index order (both here and in
the DuckDB oracle), so assignment with FIXED centroids is bit-exact
across engines, and the per-dimension means are decimal-exact sums,
so re-estimated centroids do not depend on partition or merge order.
The oracle-gated query covers the assignment step; the iterative fit
is pinned against numpy in pytest.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import sq_dist
from ..session import no_aqe


def _books_frame(spark, codebooks: list[list[list[float]]]):
    """The m × k × d centroid tensor (m subspaces of k cells) as a
    ONE-ROW broadcast frame (column ``_books``). The previous
    literal-expression form (one ``F.array(F.lit(...))`` per centroid)
    put m·k·d ≈ 2000 Literal nodes through the analyzer for PQ encode +
    distance-table alone — seconds of driver-side plan time per query
    (guide §7.3 "very large plans"); as data the tensor costs one
    KB-sized broadcast and the fold arithmetic is unchanged (measured
    at sf0.1: pq_topk 7.0 s → 2.5 s, output bit-identical)."""
    return F.broadcast(spark.createDataFrame(
        [(codebooks,)], "_books array<array<array<double>>>"))


def lloyd(points: DataFrame, cents: list[list[list[float]]], iters: int,
          score: Callable[[Column, Column], Column],
          ) -> list[list[list[float]]]:
    """``iters`` Lloyd iterations. ``points`` is a ``(j, v)`` frame:
    vector ``v`` of subspace ``j`` (always 0 except for product
    quantization); ``cents[j][cell]`` are the starting centroids.
    ``score(v, centroid)`` is lower-is-better. Each iteration moves
    every centroid to the mean of the points whose lowest-score cell
    it is (ties → lowest cell); a cell that lost every point keeps its
    previous centroid (Lloyd's convention). Returns the new ``cents``.

    One explicit action per iteration, the collect: the centroids
    cross-join as one broadcast row (one small job), the argmin is
    map-side, and the collect runs under ``no_aqe`` — AQE would submit
    each shuffle stage as its own job for a reduce side that is
    cells × dims rows by construction."""
    spark = points.sparkSession
    book = F.element_at(F.col("_books"), F.col("j") + 1)
    for _ in range(iters):
        # The argmin gets its own select BEFORE the posexplode: in the
        # generator's select it is re-evaluated per element (IVF fit at
        # sf0.1, k=16, 2 iterations, 2 cores: 3-5 s -> 40-46 s).
        nearest = points.crossJoin(_books_frame(spark, cents)).select(
            "j", "v",
            F.array_min(F.transform(book, lambda c, cell: F.struct(
                score(F.col("v"), c).alias("s"), cell.alias("cell"))))
            ["cell"].alias("cell"))
        per_dim = (
            nearest.select("j", "cell", F.posexplode("v").alias("i", "x"))
            .groupBy("j", "cell", "i")
            .agg(F.sum(F.col("x").cast("decimal(28,12)")).alias("s"),
                 F.count(F.lit(1)).alias("n"))
            .select("j", "cell", "i",
                    (F.col("s") / F.col("n")).cast("double").alias("m"))
        )
        with no_aqe(spark):
            rows = per_dim.collect()
        cents = [[list(c) for c in book_j] for book_j in cents]
        for r in rows:
            cents[r["j"]][r["cell"]][r["i"]] = r["m"]
    return cents


def lowest_id_init(corpus: DataFrame, id_col: str, vec_col: str, k: int,
                   m: int = 1) -> list[list[list[float]]]:
    """The ``k`` lowest-id vectors as starting centroids for
    :func:`lloyd`, each split into ``m`` equal subvectors:
    ``[j][cell]``. One collect; raises ``ValueError`` when the corpus
    has fewer than ``k`` rows."""
    rows = corpus.orderBy(id_col).limit(k).select(vec_col).collect()
    if len(rows) < k:
        raise ValueError(f"corpus has fewer than k={k} vectors to seed from")
    vecs = [[float(x) for x in r[0]] for r in rows]
    d = len(vecs[0]) // m
    return [[v[j * d:(j + 1) * d] for v in vecs] for j in range(m)]


def assign_clusters(emb: DataFrame, centroids: DataFrame,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    centroid_id: str = "cluster_id",
                    centroid_vec: str = "centroid") -> DataFrame:
    """Assign each vector to its nearest centroid.

    ``centroids`` is a k-row frame, folded into ONE broadcast row of
    ``(cid, cvec)`` structs and crossed into the corpus (k × N scoring
    is the semantics; the small side is the centroid table). The
    argmin is map-side, as in :func:`lloyd`: ``array_min`` over
    ``(dist, cid)`` structs, so ties go to the lowest cluster_id and no
    shuffle of the corpus is needed. Returns (id, cluster_id, dist)
    with dist the squared L2 distance and cluster_id of the centroid
    frame's type, one row per input row (duplicate ids stay separate).
    """
    # coalesce(1) gives the fold's aggregate a single-partition child,
    # so it plans without an exchange.
    books = F.broadcast(centroids.coalesce(1).agg(F.collect_list(F.struct(
        F.col(centroid_id).alias("cid"),
        F.col(centroid_vec).alias("cvec"))).alias("_cents")))
    best = F.array_min(F.transform(F.col("_cents"), lambda c: F.struct(
        sq_dist(F.col(vec_col), c["cvec"]).alias("d"),
        c["cid"].alias("cid"))))
    # The argmin gets its own select so that reading its two fields
    # does not evaluate it twice.
    return (emb.crossJoin(books)
            .select(F.col(id_col), best.alias("_best"))
            .select(id_col, F.col("_best.cid").alias("cluster_id"),
                    F.col("_best.d").alias("dist")))


def semantic_dedup_pairs(emb: DataFrame, centroids: DataFrame,
                         threshold: float,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id",
                         max_cluster_size: int | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then search for near-duplicate pairs only
    WITHIN each cluster — the clustering bounds the quadratic
    pairwise stage to per-cluster work.

    Returns (cluster_id, a, b, cos) for within-cluster pairs with
    cosine ≥ ``threshold``. The pair join is an equi-join on
    cluster_id (never a global cartesian); with k ≈ √N centroids
    the expected per-cluster size is √N, so total pair work is
    ~N^1.5 instead of N² — and each cluster's pairs land on one
    reducer keyed by cluster_id, so clusters process in parallel.

    ``max_cluster_size`` is the scale guard for DEGENERATE data (a
    near-duplicate flood collapsing into one cluster): the k ≈ √N
    sizing bounds the EXPECTED cluster, not the worst case, and a
    10⁶-member cluster means 5·10¹¹ pairs on one reducer. SemDeDup's
    semantics need every within-cluster pair, so the guard does not
    silently sample — it RAISES with the offending cluster sizes, and
    the remedy is explicit: re-cluster with larger k, or pre-collapse
    exact/MinHash duplicates (operators/dedup.py) before the
    embedding stage, which is what a duplicate flood actually calls
    for."""
    from ..functions.vectors import cosine_from_norms, dot, l2_norm_sq

    assigned = assign_clusters(emb, centroids, vec_col, id_col)
    if max_cluster_size is not None:
        over = (assigned.groupBy("cluster_id")
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > max_cluster_size)
                .orderBy(F.desc("n")).limit(5).collect())
        if over:
            sizes = {r["cluster_id"]: r["n"] for r in over}
            raise ValueError(
                "semantic_dedup_pairs: cluster(s) exceed "
                f"max_cluster_size={max_cluster_size}: {sizes} — "
                "re-cluster with larger k or run exact/MinHash dedup "
                "before the embedding stage")
    # norm² computed ONCE per vector BEFORE the pair join: the pair
    # expression then makes a single array pass (the dot) instead of
    # three — at n²/k pair counts that's a 3× cut in HOF work, and
    # bit-identical (same sqrt/multiply/divide tree as cosine()).
    side = (assigned.join(emb.select(id_col, vec_col), id_col)
            .withColumn("_nsq", l2_norm_sq(F.col(vec_col))))
    a = side.select(F.col("cluster_id"),
                    F.col(id_col).alias("a"),
                    F.col(vec_col).alias("_va"),
                    F.col("_nsq").alias("_na"))
    b = side.select(F.col("cluster_id"),
                    F.col(id_col).alias("b"),
                    F.col(vec_col).alias("_vb"),
                    F.col("_nsq").alias("_nb"))
    return (
        a.join(b, "cluster_id")
        .filter(F.col("a") < F.col("b"))
        .withColumn("cos", cosine_from_norms(
            dot(F.col("_va"), F.col("_vb")),
            F.col("_na"), F.col("_nb")))
        .filter(F.col("cos") >= F.lit(threshold))
        .select("cluster_id", "a", "b", "cos")
    )


def prototype_prune(emb: DataFrame, centroids: DataFrame,
                    per_cluster: int,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """D4-style prototypicality ranking (Tirumala et al. 2023,
    arXiv:2308.12284): within each cluster, the points CLOSEST to
    the centroid are the most prototypical — dense-region redundancy
    that D4 prunes after semantic dedup. Returns the ``per_cluster``
    most prototypical points per cluster as (cluster_id, vec_id,
    dist, proto_rank), rank 1 = closest.

    The window partitions on cluster_id; per-partition size is the
    cluster population, bounded by the same k ≈ √N sizing that keeps
    SemDeDup's pairwise stage tractable.
    """
    assigned = assign_clusters(emb, centroids, vec_col, id_col)
    w = (Window.partitionBy("cluster_id")
         .orderBy(F.col("dist").asc(), F.col(id_col)))
    return (
        assigned.withColumn("proto_rank", F.row_number().over(w))
        .filter(F.col("proto_rank") <= per_cluster)
        .select("cluster_id", id_col, "dist", "proto_rank")
    )


def kmeans_fit(emb: DataFrame, k: int = 8, iters: int = 5,
               vec_col: str = "embedding", id_col: str = "vec_id",
               ) -> tuple[DataFrame, DataFrame]:
    """Lloyd's algorithm under squared L2: init from the k lowest-id
    vectors, then ``iters`` rounds of :func:`lloyd`. Returns
    (assignments, centroids) with centroids numbered 0..k-1; raises
    ``ValueError`` on fewer than k vectors.
    """
    points = emb.select(F.lit(0).alias("j"), F.col(vec_col).alias("v"))
    cents = lloyd(points, lowest_id_init(emb, id_col, vec_col, k),
                  iters, sq_dist)[0]
    centroids = emb.sparkSession.createDataFrame(
        list(enumerate(cents)), "cluster_id int, centroid array<double>")
    return assign_clusters(emb, centroids, vec_col, id_col), centroids
