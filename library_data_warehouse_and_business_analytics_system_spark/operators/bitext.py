"""Margin-based parallel-pair mining (bitext mining) over embedding
columns — the neighborhood-normalized retrieval criterion from the
public LASER/CCMatrix line of work (Artetxe & Schwenk 2019, "Margin-
based Parallel Corpus Mining"): a candidate pair (x, y) scores

    margin(x, y) = cos(x, y) / ((avg_k cos(x, NN_k(x, B))
                                 + avg_k cos(y, NN_k(y, A))) / 2)

i.e. raw cosine divided by the mean similarity of each side's own
k-nearest neighborhood. Dividing by the local density is what makes
the criterion robust to hubness: a "hub" vector that is close to
EVERYTHING has a high neighborhood average and therefore a LOW margin
to any one candidate, while a genuinely parallel pair towers over
both sparse neighborhoods. Plain cosine top-1 (``cosine_topk``)
cannot express this — the score of a pair depends on the other
candidates of both endpoints.

Extension surface (no reference parity): the reference warehouse
(Oracle library DW) has no embedding mining; this operator belongs to
the training-data-pipeline family next to ``operators/dedup.py`` and
``operators/similarity.py``.

Scale posture (100 TB): the pair set is the whole cost. The default
``pairs=None`` brute-forces A×B with the smaller side broadcast —
correct at any size but quadratic, so it is the ORACLE-FACING posture
(exact, gate-sized). At corpus scale, pass ``pairs=`` the candidate
set from the ANN layer (``operators/ann_index.py`` probes or
``operators/similarity.lsh_topk`` buckets): the margin is then
computed over each id's candidate list exactly as the public mining
pipelines do (forward+backward kNN over FAISS shards). Everything
downstream of the pair set is one window per direction — partitioned
by src/tgt id, per-partition size = candidates per id (k' from the
ANN stage), so no reducer ever serializes — plus two broadcast-sized
neighborhood-sum joins.

Determinism: cosines ride the left-fold HOF dot (bit-reproducible,
``functions/vectors.py``), the k-neighborhood sums ride
DECIMAL(30,15) (exact, order-independent — the repo-wide float-sum
convention), and every rank breaks ties on the neighbor id, so the
mined set is bit-stable under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import cosine_from_norms, l2_norm_sq


def _prep(df: DataFrame, id_col: str, vec_col: str, side: str) -> DataFrame:
    """Rename to side-local columns and precompute norm² once per ROW
    (one array pass per side instead of two per PAIR)."""
    return df.select(
        F.col(id_col).alias(f"{side}_id"),
        F.col(vec_col).alias(f"_{side}_vec"),
        l2_norm_sq(F.col(vec_col)).alias(f"_{side}_nsq"),
    )


def margin_mine(a: DataFrame, b: DataFrame, id_col: str = "vec_id",
                vec_col: str = "embedding", k: int = 4,
                threshold: float = 1.0,
                pairs: DataFrame | None = None,
                snap_decimals: int | None = None,
                broadcast_sums: bool | None = None) -> DataFrame:
    """Mine high-margin pairs from side ``a`` into side ``b``.

    For every scored pair the margin is computed against BOTH
    endpoints' k-nearest-neighborhood averages (ratio flavor); the
    result keeps, per ``src_id``, the single best-margin target with
    ``margin >= threshold``.

    ``snap_decimals`` quantizes the margin to a 10^-d grid with the
    pure-IEEE floor quantizer (floor(x*s + 0.5)/s — the repo-wide
    snap idiom, see plans/llm_ops.py covariance gate) BEFORE the
    best-pair rank and threshold. The DECIMAL(30,15) casts inside the
    neighborhood sums round an engine's double at the 15th digit, and
    Spark and DuckDB can disagree there by one ulp; ranking and
    filtering on the snapped margin keeps the mined SET (not just the
    printed value) bit-stable across engines. d=6 is far below any
    mining-quality-relevant resolution.

    ``pairs`` overrides the candidate set: a DataFrame with columns
    ``(src_id, _src_vec, _src_nsq, tgt_id, _tgt_vec, _tgt_nsq)`` as
    produced by an ANN candidate stage (see module docstring). When
    None, the exact A×B cross product is scored with the ``b`` side
    broadcast — the gate/oracle posture.

    ``broadcast_sums`` controls the join strategy for the two
    neighborhood-sum frames (one row per distinct src/tgt id). Default
    ``None`` = auto: HINT broadcast only on the brute ``pairs=None``
    path, where |A| and |B| are gate-sized by construction; on the
    ANN-candidate path the hint is OMITTED and Catalyst/AQE picks from
    real stats — at the advertised corpus scale (billions of ids) a
    forced hint would bypass the size threshold and OOM the executors,
    while a small candidate set still auto-broadcasts under the
    threshold. Pass True/False to override either way.

    Returns ``(src_id, tgt_id, cos, margin)`` — margin normalized so
    1.0 means "exactly as similar as the average of both
    neighborhoods"; parallel-pair thresholds sit above 1.
    """
    if broadcast_sums is None:
        broadcast_sums = pairs is None
    if pairs is None:
        # The A-side of a broadcast cross join inherits A's scan
        # partitioning — a gate-sized A is ONE parquet split, which
        # would run the whole pair-scoring stage on one core. Spread
        # it to the session's shuffle width first.
        try:
            n_parts = int(a.sparkSession.conf.get(
                "spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            n_parts = a.sparkSession.sparkContext.defaultParallelism
        pairs = (_prep(a, id_col, vec_col, "src").repartition(n_parts)
                 .crossJoin(F.broadcast(_prep(b, id_col, vec_col, "tgt"))))

    scored = pairs.select(
        "src_id", "tgt_id",
        cosine_from_norms(
            F.aggregate(
                F.zip_with("_src_vec", "_tgt_vec",
                           lambda x, y: x.cast("double") * y.cast("double")),
                F.lit(0.0), lambda acc, x: acc + x),
            F.col("_src_nsq"), F.col("_tgt_nsq"),
        ).alias("cos"),
    )

    ws = Window.partitionBy("src_id").orderBy(F.desc("cos"), F.asc("tgt_id"))
    wt = Window.partitionBy("tgt_id").orderBy(F.desc("cos"), F.asc("src_id"))
    # BOTH direction ranks ride one lineage (Exchange(src) -> Window ->
    # Exchange(tgt) -> Window) so the three consumers below share the
    # exchanges via ReusedExchange and the pair scoring runs ONCE —
    # deriving each rank from `scored` separately would re-evaluate
    # the cross join per consumer.
    ranked = (scored
              .withColumn("_rs", F.row_number().over(ws))
              .withColumn("_rt", F.row_number().over(wt)))
    dec = F.col("cos").cast("decimal(30,15)")
    # forward/backward k-neighborhood sums; DECIMAL so the sum is
    # exact and order-independent (the driver hashes these through
    # the margin). One row per distinct src/tgt id — join strategy
    # per `broadcast_sums` above.
    s_src = (ranked.where(F.col("_rs") <= k)
             .groupBy("src_id").agg(F.sum(dec).alias("_s_src"),
                                    F.count(F.lit(1)).alias("_n_src")))
    s_tgt = (ranked.where(F.col("_rt") <= k)
             .groupBy("tgt_id").agg(F.sum(dec).alias("_s_tgt"),
                                    F.count(F.lit(1)).alias("_n_tgt")))

    # margin = cos / ((s_src/n_src + s_tgt/n_tgt) / 2); with full
    # neighborhoods (n = k) this folds to 2k*cos / (s_src + s_tgt) —
    # kept in that integer-scaled form so after the exact DECIMAL
    # sums are cast to double ONCE, every later op is int*double /
    # double, bit-identical across engines (DECIMAL x anything
    # arithmetic has engine-specific precision rules, the
    # search_ops.py:63 trap family).
    denom = (F.col("_s_src").cast("double") * F.col("_n_tgt")
             + F.col("_s_tgt").cast("double") * F.col("_n_src"))
    margin = (F.lit(2) * F.col("_n_src") * F.col("_n_tgt")
              * F.col("cos") / denom)
    if snap_decimals is not None:
        scale = F.lit(float(10 ** snap_decimals))
        margin = (F.floor(margin * scale + F.lit(0.5)).cast("double")
                  / scale)
    if broadcast_sums:
        s_src, s_tgt = F.broadcast(s_src), F.broadcast(s_tgt)
    mined = (
        ranked
        .join(s_src, "src_id")
        .join(s_tgt, "tgt_id")
        .withColumn("margin", margin)
        .withColumn("_rn", F.row_number().over(
            Window.partitionBy("src_id")
            .orderBy(F.desc("margin"), F.asc("tgt_id"))))
        .where((F.col("_rn") == 1) & (F.col("margin") >= F.lit(threshold)))
        .select("src_id", "tgt_id", "cos", "margin")
    )
    return mined


def srp_candidate_ids(a: DataFrame, b: DataFrame,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding", dim: int = 64,
                      n_planes: int = 8, n_tables: int = 4,
                      seed: int = 42,
                      bucket_cap: int | None = None) -> DataFrame:
    """Candidate ``(src_id, tgt_id)`` pairs: ids of ``a`` and ``b``
    sharing a signed-random-projection bucket in ANY of ``n_tables``
    tables (the `operators/dedup.embedding_lsh_candidates`
    construction, here two-sided across corpora). Ids ONLY — 16
    bytes per candidate through the bucket join and the dedup; the
    vectors join back in :func:`srp_candidate_pairs` (at 2×dim
    doubles per pair, materializing them any earlier is what blows
    executor memory at corpus scale). The hashed (id, table, bucket)
    frames are localCheckpoint'd: tiny (n_tables rows/vector), but
    their projection carries n_tables × n_planes × dim literal
    multiplies that the bucket join must not re-execute.

    ``bucket_cap`` bounds the one scale-killer in the bucket join:
    its pair set is Σ_buckets |A_b|×|B_b|, and a skewed corpus (many
    near-identical vectors — exactly what a dedup-adjacent pipeline
    sees) can blow a single bucket to O(n²). With a cap, each
    (table, bucket, side) keeps at most ``bucket_cap`` ids, ranked by
    a per-table salted ``md5`` key of the id (engine-portable: the
    driver gate's DuckDB oracle replays it bit-exactly) — a
    deterministic pseudo-random survivor sample, so the per-table-bucket pair count
    is ≤ cap², the whole candidate set ≤ n_tables × cap² × n_buckets,
    and re-runs are bit-stable. Recall trade, documented: an over-cap
    bucket is a dense near-duplicate cluster; each table re-samples
    it INDEPENDENTLY (the hash is salted by table), so a true pair
    whose endpoints share every table's bucket survives some table
    with probability 1-(1-(cap/n)²)^n_tables, and the survivors still
    represent the cluster for mining purposes. None (default) keeps
    the exact union — the gate/probe posture on bounded corpora; set
    it (e.g. 256) for open-world corpora. The cap's row_number window
    partitions by (table, bucket) over id-only rows, streaming — a
    degenerate bucket costs one task's scan, never its pair set."""
    from ..functions.vectors import dot
    from .similarity import _seeded_planes

    # Planes as DATA (one-row broadcast tensor) instead of
    # n_tables·n_planes·dim literal nodes — same analyzer-cost
    # rewrite as similarity.lsh_topk, bit-identical buckets (each
    # plane still contributes its DISTINCT power-of-two bit, OR
    # accumulation per ADVICE r10, IntegerType preserved).
    all_planes = [_seeded_planes(dim, n_planes, seed + 1000 * t)
                  for t in range(n_tables)]
    pl = F.broadcast(a.sparkSession.createDataFrame(
        [(all_planes,)], "_pl array<array<array<double>>>"))

    def hashed(df: DataFrame, side: str) -> DataFrame:
        tb = F.transform(
            F.sequence(F.lit(0), F.lit(n_tables - 1)),
            lambda t: F.struct(
                t.alias("table"),
                F.aggregate(
                    F.sequence(F.lit(0), F.lit(n_planes - 1)),
                    F.lit(0),
                    lambda acc, i: acc.bitwiseOR(
                        F.when(dot(F.col(vec_col),
                                   F.element_at(
                                       F.element_at(F.col("_pl"), t + 1),
                                       i + 1)) >= 0,
                               F.pow(F.lit(2.0), i).cast("int"))
                        .otherwise(F.lit(0)))).alias("bucket")))
        out = (df.crossJoin(pl)
               .select(F.col(id_col).alias(f"{side}_id"),
                       F.explode(tb).alias("tb"))
               .select(f"{side}_id", "tb.table", "tb.bucket"))
        if bucket_cap is not None:
            # per-table salted md5 rank key: deterministic, uniform,
            # and ENGINE-PORTABLE — DuckDB replays the identical hex
            # string, which is what lets the driver gate
            # (bitext_margin_pairs_capped) pin this exact production
            # posture bit-for-bit (r11 used xxhash64 here; swapped
            # r12 — the key hashes one short string per id-row, noise
            # next to the window scan it feeds)
            w = Window.partitionBy("table", "bucket").orderBy(
                F.md5(F.concat_ws(
                    ":", F.lit("srpcap"),
                    F.col("table").cast("string"), F.lit(str(seed)),
                    F.col(f"{side}_id").cast("string"))),
                F.col(f"{side}_id"))
            out = (out.withColumn("_bn", F.row_number().over(w))
                   .where(F.col("_bn") <= bucket_cap).drop("_bn"))
        return out.localCheckpoint()

    return (hashed(a, "src").join(hashed(b, "tgt"), ["table", "bucket"])
            .select("src_id", "tgt_id")
            .dropDuplicates(["src_id", "tgt_id"]))


def srp_candidate_pairs(a: DataFrame, b: DataFrame,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding", dim: int = 64,
                        n_planes: int = 8, n_tables: int = 4,
                        seed: int = 42,
                        cand_ids: DataFrame | None = None,
                        bucket_cap: int | None = None) -> DataFrame:
    """ANN candidate pairs for :func:`margin_mine` — the 100 TB
    posture: :func:`srp_candidate_ids` (or a precomputed/pinned
    ``cand_ids``) with vectors and norms² joined back in the shape
    ``margin_mine(pairs=...)`` expects.

    Scale: the bucket-join key is (table, bucket) — the pair set is
    Σ_buckets |A_bucket|×|B_bucket|, never |A|×|B|. With candidates,
    each endpoint's k-neighborhood average is computed over its
    CANDIDATE list (exactly how the public mining pipelines use FAISS
    kNN lists); recall is tuned by (n_planes, n_tables) — per-table
    collision for angle θ is (1-θ/π)^n_planes. Keep this frame LAZY
    (never cache/checkpoint it): it carries 2×dim doubles per
    candidate, and margin_mine's chained-window lineage already
    evaluates it once."""
    if cand_ids is None:
        cand_ids = srp_candidate_ids(a, b, id_col, vec_col, dim=dim,
                                     n_planes=n_planes,
                                     n_tables=n_tables, seed=seed,
                                     bucket_cap=bucket_cap)
    return (cand_ids
            .join(_prep(a, id_col, vec_col, "src"), "src_id")
            .join(_prep(b, id_col, vec_col, "tgt"), "tgt_id"))
