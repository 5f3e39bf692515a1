"""Int8 embedding quantization: 4× storage/shuffle reduction for
vector corpora at 100 TB, as pure JVM column expressions.

Symmetric per-vector scheme: ``scale = max|x| / 127``,
``q_i = round(x_i / scale)`` stored as ``array<tinyint>`` + one double
scale. Properties the tests pin:

- reconstruction error per component ≤ scale/2 (round-to-nearest);
- COSINE similarity needs no dequantization at all — the per-vector
  scale cancels: cos(q_a, q_b) over the raw int arrays approximates
  cos(a, b), so ANN pipelines can score int8 directly and only
  dequantize final hits;
- zero vectors quantize to zeros with scale 0 and dequantize to zeros.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_from_norms, dot, l2_norm_sq, sq_dist
from .clustering import _books_frame, lloyd, lowest_id_init


def quantize_int8(df: DataFrame, vec_col: str,
                  q_col: str = "qvec", scale_col: str = "scale") -> DataFrame:
    """Add ``q_col`` (array<tinyint>) + ``scale_col`` (double)."""
    v = F.col(vec_col)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = (amax / F.lit(127.0)).alias(scale_col)
    q = F.when(
        amax > 0,
        F.transform(v, lambda x: F.round(x.cast("double") * 127.0 / amax)
                    .cast("tinyint")),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("tinyint")))
    return df.withColumn(q_col, q).withColumn(scale_col, scale)


def dequantize(q: Column, scale: Column) -> Column:
    """array<tinyint> + scale → array<double> reconstruction."""
    return F.transform(q, lambda x: x.cast("double") * scale)


def int8_cosine(qa: Column, qb: Column) -> Column:
    """Cosine directly on int8 arrays (scales cancel). Accumulates in
    double — 64 products of ±127 fit with room to spare.

    Contract: NULL when either vector is all-zero (cosine is undefined
    there) — guarded explicitly so the result is NULL under BOTH ANSI
    and non-ANSI modes instead of a 0/0 that throws with
    ``spark.sql.ansi.enabled`` (ADVICE r5). Mirrors the zero-vector
    handling in :func:`quantize_int8`.
    """
    norm = F.sqrt(dot(qa, qa) * dot(qb, qb))
    return F.when(norm > 0, dot(qa, qb) / norm)


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011): split each vector into m
# subvectors, k-means each subspace to ksub centroids, store each
# vector as m small codes. ADC (asymmetric distance computation)
# scores a float query against coded vectors through a per-query
# distance table — the codes are never dequantized.
#
# Scale shape: codes are m bytes instead of dim·8 (64-dim doubles →
# 4 bytes at m=4: a 128× shuffle/storage reduction), the codebook is
# m·ksub·dsub doubles (bounded at CONFIG time, broadcast-safe forever),
# and scoring is a zip_with fold over m table lookups per candidate —
# all JVM expression tree, no Python, no UDF.


def pq_fit(corpus: DataFrame, vec_col: str, dim: int, m: int = 4,
           ksub: int = 16, iters: int = 4,
           id_col: str = "vec_id") -> list[list[list[float]]]:
    """Train m per-subspace codebooks (ksub × dim/m each): Lloyd's
    under squared L2 with lowest-id init — ALL subspaces in one pass
    per iteration.

    The corpus explodes into (subspace, subvector) rows and
    :func:`clustering.lloyd` trains every subspace at once: the
    per-subspace-sequential formulation costs m·iters·2 jobs for
    identical math, pure scheduling overhead at any scale. Decimal
    sums make codebooks independent of partition/merge order; empty
    cells keep their previous centroid (Lloyd's convention)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    subs = corpus.select(F.posexplode(F.array(*[
        F.slice(F.col(vec_col), j * dsub + 1, dsub)
        for j in range(m)])).alias("j", "v"))
    return lloyd(subs, lowest_id_init(corpus, id_col, vec_col, ksub, m),
                 iters, sq_dist)


def pq_encode(df: DataFrame, vec_col: str,
              codebooks: list[list[list[float]]],
              code_col: str = "pq_code") -> DataFrame:
    """array<int> of per-subspace nearest-centroid codes (argmin
    squared L2, lowest code as tie-break via struct-min)."""
    m = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.array_min(F.transform(
            F.sequence(F.lit(0), F.lit(ksub - 1)),
            lambda ci: F.struct(
                sq_dist(F.slice(F.col(vec_col), j * dsub + 1, dsub),
                         F.element_at(
                             F.element_at(F.col("_books"), j + 1),
                             ci + 1)).alias("d"),
                ci.alias("code"))))["code"])
    return (df.crossJoin(_books_frame(df.sparkSession, codebooks))
            .withColumn(code_col, codes).drop("_books"))


def pq_topk(corpus: DataFrame, queries: DataFrame, vec_col: str,
            id_col: str, codebooks: list[list[list[float]]],
            k: int = 10, rerank: int = 0) -> DataFrame:
    """PQ-ADC top-k: per query, build the m×ksub distance table once
    (expression over codebook literals), then score every coded
    corpus vector with a zip_with(code, table) fold — m lookups and
    m-1 adds per candidate, no dequantization. With ``rerank`` > 0
    the ADC shortlist of that size is re-scored EXACTLY by cosine on
    the full vectors — so ``rerank`` ≥ corpus size degrades to
    brute force bit-exactly (the pigeonhole contract the tests pin).

    Returns (query_id, neighbor_id, rank) — plus ``cos`` when
    reranking, ``adc`` otherwise."""
    m = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])
    coded = pq_encode(
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("cv")),
        "cv", codebooks)

    def dtab(qv: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda j: F.transform(
                F.sequence(F.lit(0), F.lit(ksub - 1)),
                lambda ci: sq_dist(
                    F.slice(qv, j * dsub + 1, dsub),
                    F.element_at(F.element_at(F.col("_books"), j + 1),
                                 ci + 1))))

    q = (queries.crossJoin(_books_frame(queries.sparkSession, codebooks))
         .select(F.col(id_col).alias("query_id"),
                 F.col(vec_col).alias("qv"),
                 dtab(F.col(vec_col)).alias("dtab")))
    adc = F.aggregate(
        F.zip_with(F.col("pq_code"), F.col("dtab"),
                   lambda c, t: F.element_at(t, c + 1)),
        F.lit(0.0), lambda acc, x: acc + x)
    scored = (
        F.broadcast(q).join(coded, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("adc", adc)
    )
    w = Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    shortlist = (scored.withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= (rerank if rerank > 0 else k)))
    if rerank <= 0:
        return shortlist.select("query_id", "neighbor_id", "adc", "rank")
    exact = shortlist.select(
        "query_id", "neighbor_id",
        cosine_from_norms(dot(F.col("qv"), F.col("cv")),
                          l2_norm_sq(F.col("qv")),
                          l2_norm_sq(F.col("cv"))).alias("cos"))
    w2 = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                                "neighbor_id")
    return (exact.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos", "rank"))
