"""Approximate-nearest-neighbor search over an embedding column.

Baseline: brute-force cosine top-k (exact, the recall yardstick).
Scale path: random-hyperplane LSH buckets (sign bits of seeded
projections) or IVF-style coarse quantization (nearest of k seeded
centroids), both pruning the candidate set before an exact re-rank.
Everything is built-in HOF arithmetic — no UDFs, no collect of the
corpus; the query set is the only broadcast side.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_from_norms, dot, l2_norm_sq
from ..sources.catalog import read_parquet
from .clustering import lloyd


def brute_force_topk(corpus: DataFrame, queries: DataFrame, vec_col: str,
                     id_col: str, k: int = 10) -> DataFrame:
    """Exact cosine top-k for every query vector.

    Broadcast the (small) query side against the corpus — one scan of
    the corpus regardless of query count; per-query top-k via
    window ranking. Norm² is computed once per row on each side before
    the product (float-identical to the per-pair expression, one array
    pass per scored pair instead of three)."""
    q = F.broadcast(queries.select(F.col(id_col).alias("query_id"),
                                   F.col(vec_col).alias("qv"),
                                   l2_norm_sq(F.col(vec_col)).alias("nq")))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("cv"),
                      l2_norm_sq(F.col(vec_col)).alias("nc"))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                cosine_from_norms(dot(F.col("qv"), F.col("cv")),
                                  F.col("nq"), F.col("nc")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def _seeded_planes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_topk(corpus: DataFrame, queries: DataFrame, vec_col: str, id_col: str,
             dim: int, k: int = 10, n_planes: int = 6, seed: int = 42,
             n_tables: int = 8, max_candidates: int | None = None) -> DataFrame:
    """ANN top-k: candidates = corpus rows sharing a bucket with the
    query in ANY of ``n_tables`` independent hash tables, re-ranked by
    exact cosine. Recall grows with n_tables; cost stays ~bucket-sized
    instead of corpus-sized.

    Scale shape (round-4 rework): candidate generation carries ONLY ids
    — the (table, bucket) explosion never duplicates vectors, so the
    shuffle moves (long, int, long) rows instead of n_tables copies of
    the embedding. Dedup doubles as a proximity proxy: a groupBy counts
    how many tables each (query, neighbor) pair collided in, and
    ``max_candidates`` keeps only the top-M pairs per query by that
    collision count before any exact cosine is computed — the standard
    multi-probe bound that keeps re-rank cost O(M·k) per query no
    matter how skewed the buckets get. Vectors are joined back only for
    the surviving pairs (corpus side shuffled once on id; query side
    broadcast).

    Tuning: hyperplane LSH collision prob per table is
    ``(1 − θ/π)^n_planes``. For clustered embeddings (θ small) a
    12-plane/4-table config is selective AND high-recall; for
    near-orthogonal corpora selectivity has to be bought with
    candidates. See ``lsh_topk_auto`` for the brute-force crossover."""
    # Planes ship as DATA (a one-row broadcast frame holding the
    # n_tables × n_planes × dim tensor), not as literal expression
    # trees: the literal form put n_tables·n_planes·dim Literal nodes
    # (3072 at the forced-gate config) through every analyzer rule,
    # costing seconds of driver time PER QUERY before any task ran
    # (guide §7.3 "very large plans"; measured at sf0.1: 11.5 s →
    # 2.4 s, output bit-identical — the dot fold over an element_at
    # of the data column is the same left fold over the same
    # doubles). Bucket bits are 2^i via pow (exact for i ≤ 52).
    all_planes = [_seeded_planes(dim, n_planes, seed + 1000 * t)
                  for t in range(n_tables)]
    pl = F.broadcast(corpus.sparkSession.createDataFrame(
        [(all_planes,)], "_pl array<array<array<double>>>"))

    def hashed(df: DataFrame, out_id: str) -> DataFrame:
        tb = F.transform(
            F.sequence(F.lit(0), F.lit(n_tables - 1)),
            lambda t: F.struct(
                t.alias("table"),
                F.aggregate(
                    F.sequence(F.lit(0), F.lit(n_planes - 1)),
                    F.lit(0).cast("long"),
                    lambda acc, i: acc.bitwiseXOR(
                        F.when(dot(F.col(vec_col),
                                   F.element_at(
                                       F.element_at(F.col("_pl"), t + 1),
                                       i + 1)) >= 0,
                               F.pow(F.lit(2.0), i).cast("long"))
                        .otherwise(F.lit(0).cast("long")))).alias("bucket")))
        return (df.crossJoin(pl)
                .select(F.col(id_col).alias(out_id), F.explode(tb).alias("tb"))
                .select(out_id, "tb.table", "tb.bucket"))

    pairs = (
        F.broadcast(hashed(queries, "query_id"))
        .join(hashed(corpus, "neighbor_id"), ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.count(F.lit(1)).alias("n_collisions"))
    )
    if max_candidates is not None:
        wc = Window.partitionBy("query_id").orderBy(
            F.col("n_collisions").desc(), "neighbor_id")
        pairs = (pairs.withColumn("_crank", F.row_number().over(wc))
                 .filter(F.col("_crank") <= max_candidates)
                 .drop("_crank"))
    qv = queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("qv"),
                        l2_norm_sq(F.col(vec_col)).alias("nq"))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).alias("cv"),
                       l2_norm_sq(F.col(vec_col)).alias("nc"))
    scored = (
        pairs.drop("n_collisions")
        .join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "neighbor_id",
                cosine_from_norms(dot(F.col("qv"), F.col("cv")),
                                  F.col("nq"), F.col("nc")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


#: Corpus size below which one broadcast scan beats LSH bucketing.
#: Brute force costs n exact cosines per query in a single shuffle-free
#: broadcast pass; LSH adds n_tables·n_planes projections over the whole
#: corpus, a candidate shuffle, and a vector join-back before any
#: re-rank — pure overhead unless candidates/corpus ≪ 1, which at
#: recall-preserving parameters needs corpora well past 10^5 vectors
#: (measured at sf0.1: brute 1.1 s vs bucketed 11.4 s for n = 2000).
LSH_BRUTE_CROSSOVER = 100_000


def lsh_topk_auto(corpus: DataFrame, queries: DataFrame, vec_col: str,
                  id_col: str, dim: int, k: int = 10,
                  brute_below: int = LSH_BRUTE_CROSSOVER,
                  rowcount: int | None = None,
                  **lsh_kwargs) -> DataFrame:
    """ANN top-k with the measured crossover applied: below
    ``brute_below`` corpus rows the exact broadcast scan is strictly
    faster than any bucketed plan, so use it; above, the id-only LSH
    path with a bounded candidate set (see ``lsh_topk``). Pass
    ``rowcount`` when known to skip the ``count()`` action (a footer
    read for a bare parquet scan, a full job for anything else)."""
    if (rowcount if rowcount is not None else corpus.count()) <= brute_below:
        return brute_force_topk(corpus, queries, vec_col, id_col, k=k)
    lsh_kwargs.setdefault("max_candidates", max(50 * k, 500))
    return lsh_topk(corpus, queries, vec_col, id_col, dim, k=k, **lsh_kwargs)


def kmeans_fit(corpus: DataFrame, vec_col: str, dim: int, k: int = 8,
               max_iter: int = 5, seed: int = 42) -> list[list[float]]:
    """Distributed spherical k-means for the IVF coarse quantizer:
    seeded random init, then ``max_iter`` rounds of
    :func:`clustering.lloyd` scoring by max dot product — assign each
    vector to its max-dot centroid, recompute centroids as per-cell
    means.

    Scale shape: only the k×dim centroid matrix ever reaches the
    driver (parameter-server style); each round it travels back as one
    broadcast row, never the corpus.

    Determinism: per-dimension sums run in DECIMAL, so the result is
    exact and independent of partition/merge order — float summation
    would make centroid values (and therefore assignments) vary run to
    run. Empty cells keep their previous centroid."""
    points = corpus.select(F.lit(0).alias("j"), F.col(vec_col).alias("v"))
    return lloyd(points, [_seeded_planes(dim, k, seed)], max_iter,
                 lambda v, c: -dot(v, c))[0]


def cents_frame(spark, cents: list[list[float]]):
    """The k × dim centroid matrix as a ONE-ROW broadcast frame
    (column ``_cents``) — the quantizer travels as data, not as k·dim
    Literal expression nodes. The literal form made the analyzer churn
    hundreds of nodes per query (seconds of driver time at 16×64; see
    the plane-tensor note in :func:`lsh_topk`); a cross join against
    this frame costs one broadcast of a few KB."""
    return F.broadcast(spark.createDataFrame(
        [(cents,)], "_cents array<array<double>>"))


def _nearest_cells(vec, n_cells: int, probe: int,
                   cents_col: "Column | None" = None):
    """Top-``probe`` centroids by dot product as an array of structs
    (score desc, cell asc tie-break). ``cents_col`` defaults to the
    ``_cents`` column attached by ``df.crossJoin(cents_frame(...))``;
    scores fold exactly as the old literal form did (same dot over
    the same doubles), so assignments are bit-identical."""
    cents_col = F.col("_cents") if cents_col is None else cents_col
    scored = F.transform(
        F.sequence(F.lit(0), F.lit(n_cells - 1)),
        lambda i: F.struct(
            dot(vec, F.element_at(cents_col, i + 1)).alias("s"),
            i.alias("cell")))
    return F.slice(F.array_sort(
        scored, lambda a, b: F.when(a.s > b.s, -1).when(a.s < b.s, 1)
        .otherwise(0)), 1, probe)


def ivf_topk(corpus: DataFrame, queries: DataFrame, vec_col: str, id_col: str,
             dim: int, k: int = 10, n_cells: int = 16, n_probe: int = 3,
             seed: int = 42,
             centroids: list[list[float]] | None = None) -> DataFrame:
    """IVF-style ANN: assign every corpus vector to its nearest of
    ``n_cells`` centroids (coarse quantizer); a query probes its
    ``n_probe`` nearest cells and re-ranks exactly.

    ``centroids``: pass a ``kmeans_fit`` result for proper trained
    IVF; defaults to seeded random centroids, which keep the operator
    dependency-free — the plan shape, the part that matters at scale,
    is identical either way."""
    cents = centroids if centroids is not None \
        else _seeded_planes(dim, n_cells, seed)
    cdf = cents_frame(corpus.sparkSession, cents)
    c_assigned = corpus.crossJoin(cdf).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        l2_norm_sq(F.col(vec_col)).alias("nc"),
        _nearest_cells(F.col(vec_col), len(cents), 1)[0].cell.alias("cell"))
    q_assigned = queries.crossJoin(cdf).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        l2_norm_sq(F.col(vec_col)).alias("nq"),
        F.explode(F.transform(
            _nearest_cells(F.col(vec_col), len(cents), n_probe),
            lambda s: s.cell)).alias("cell"))
    scored = (
        F.broadcast(q_assigned).join(c_assigned, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .select("query_id", "neighbor_id",
                cosine_from_norms(dot(F.col("qv"), F.col("cv")),
                                  F.col("nq"), F.col("nc")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def save_centroids(spark, centroids: list[list[float]], path: str) -> None:
    """Persist a trained coarse quantizer (``kmeans_fit`` output) as
    parquet so the expensive training runs ONCE and every later
    ingest/query job loads the index instead of refitting — the
    train-once/serve-many contract real ANN deployments need. One row
    per cell keeps the file human-inspectable and schema-evolvable."""
    rows = [(i, c) for i, c in enumerate(centroids)]
    (spark.createDataFrame(rows, "cell int, centroid array<double>")
     .coalesce(1).write.mode("overwrite").parquet(path))


def load_centroids(spark, path: str) -> list[list[float]]:
    """Load a quantizer saved by :func:`save_centroids`, in cell
    order, ready to pass to ``ivf_topk(centroids=...)``."""
    rows = read_parquet(spark, path).orderBy("cell").collect()
    if [r.cell for r in rows] != list(range(len(rows))):
        raise ValueError(f"centroid file {path} is missing cells or has "
                         "duplicates")
    return [list(r.centroid) for r in rows]


def matryoshka_topk(corpus: DataFrame, queries: DataFrame, vec_col: str,
                    id_col: str, k: int = 10, prefix_dim: int = 16,
                    shortlist: int = 40) -> DataFrame:
    """Coarse-to-fine two-stage search — the matryoshka (MRL) serving
    pattern: stage 1 ranks every candidate by cosine over only the
    FIRST ``prefix_dim`` components (array math shrinks by
    prefix_dim/dim; with stored truncated vectors the scan shrinks
    too), keeping a per-query ``shortlist``; stage 2 re-ranks just the
    shortlist with full-dimension exact cosine.

    Invariant pinned by pytest: with ``shortlist ≥ |corpus|`` the
    output is BIT-IDENTICAL to :func:`brute_force_topk` — the pruning
    is the only approximation. Recall at practical shortlists depends
    on how front-loaded the embedding is (MRL-trained embeddings
    concentrate information in the prefix; the testdata's generic
    vectors give the probed floor in tests/test_llm_ops.py).

    Scale shape: stage 1 is one broadcast-queries scan of the corpus
    (same as brute force, on 4× less arithmetic at prefix 16/64);
    stage 2 touches shortlist×queries rows only, so the full-width
    vectors are fetched for a candidate-bounded set (broadcast
    semi-join), never rescanned corpus-wide.
    """
    pre = (brute_force_topk(
        corpus.select(id_col, F.slice(vec_col, 1, prefix_dim).alias(vec_col)),
        queries.select(id_col, F.slice(vec_col, 1, prefix_dim).alias(vec_col)),
        vec_col, id_col, k=shortlist)
        .select("query_id", "neighbor_id"))
    full_q = F.broadcast(queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        l2_norm_sq(F.col(vec_col)).alias("nq")))
    cand_ids = pre.select(F.col("neighbor_id").alias(id_col)).distinct()
    full_c = (corpus.join(F.broadcast(cand_ids), id_col, "left_semi")
              .select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("cv"),
                      l2_norm_sq(F.col(vec_col)).alias("nc")))
    rescored = (
        F.broadcast(pre).join(full_c, "neighbor_id").join(full_q, "query_id")
        .select("query_id", "neighbor_id",
                cosine_from_norms(dot(F.col("qv"), F.col("cv")),
                                  F.col("nq"), F.col("nc")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               "neighbor_id")
    return (rescored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def srp_diverse_sample(corpus: DataFrame, vec_col: str, id_col: str,
                       n_bits: int = 8, per_bucket: int = 5,
                       salt: str = "div:") -> DataFrame:
    """Diversity sampling over embedding space: bucket every vector by
    the SIGN PATTERN of its first ``n_bits`` components (axis-aligned
    sign-random-projection — the SRP-LSH cell, deterministic so the
    DuckDB oracle reproduces it), then keep ``per_bucket`` documents
    per cell in salted-hash order. Sampling uniformly across SRP cells
    instead of uniformly across rows counters mode collapse in
    training mixes: dense regions (near-duplicate semantics) stop
    dominating the sample, sparse regions keep representation — the
    embedding-space analogue of per-source temperature mixing.

    Returns ``(bucket, id_col, rank)`` for the kept rows.

    Scale shape: the bucket is a map-side expression; the per-cell
    top-N is TWO-PHASE — each input partition emits its own top
    ``per_bucket`` per cell first (a per-(partition, cell) window),
    and only that bounded candidate set (≤ partitions × cells × N
    rows) enters the global per-cell window. Any row in the global
    top-N of its cell is necessarily in its partition's top-N, so the
    refinement is lossless and the output is partitioning-independent
    — no cell's full membership is ever sorted on one reducer (the
    same shape as lsh_topk's candidate bound; a plain
    Window.partitionBy(bucket) would serialize the densest cell)."""
    bucket = None
    for i in range(n_bits):
        bit = F.when(F.element_at(F.col(vec_col), i + 1) >= 0,
                     F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    order_key = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    scored = corpus.select(
        F.col(id_col), bucket.alias("bucket"), order_key.alias("_ok"),
        F.spark_partition_id().alias("_pid"))
    wp = Window.partitionBy("_pid", "bucket").orderBy("_ok", id_col)
    cand = (scored.withColumn("_pr", F.row_number().over(wp))
            .filter(F.col("_pr") <= per_bucket))
    wg = Window.partitionBy("bucket").orderBy("_ok", id_col)
    return (cand.withColumn("rank", F.row_number().over(wg))
            .filter(F.col("rank") <= per_bucket)
            .select("bucket", id_col, F.col("rank").cast("int").alias("rank")))


def hard_negative_topk(corpus: DataFrame, queries: DataFrame,
                       vec_col: str, id_col: str, label_col: str,
                       k: int = 5) -> DataFrame:
    """Hard-negative mining: for every query, the top-k most similar
    corpus vectors with a DIFFERENT label — the highest-value
    negatives for contrastive training (easy negatives are far away
    and teach nothing; same-label neighbors are positives, not
    negatives). Same scale shape as :func:`brute_force_topk` —
    broadcast query side, one corpus scan, per-query WindowGroupLimit
    rank — with the label inequality applied BEFORE scoring, so
    excluded pairs never pay the dot product."""
    q = F.broadcast(queries.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("qlabel"),
        F.col(vec_col).alias("qv"), l2_norm_sq(F.col(vec_col)).alias("nq")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("nlabel"),
        F.col(vec_col).alias("cv"), l2_norm_sq(F.col(vec_col)).alias("nc"))
    scored = (
        q.crossJoin(c)
        .filter((F.col("query_id") != F.col("neighbor_id"))
                & (F.col("qlabel") != F.col("nlabel")))
        .select("query_id", "neighbor_id",
                cosine_from_norms(dot(F.col("qv"), F.col("cv")),
                                  F.col("nq"), F.col("nc")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               "neighbor_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))
