"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, exact n-gram Jaccard, embedding-cosine near-dup.

Scale design (the part that matters at 100 TB):
- every shuffle key is a fixed-width hash, never document text;
- LSH banding turns the O(n²) pair space into equi-join buckets —
  candidate generation is a groupBy on (band, signature);
- the exact-Jaccard verifier only runs on LSH candidates;
- SimHash is one explode + one 64-column aggregate (no pair join at
  signature time); near-dup pairs come from banding the 64-bit key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import shingle_hashes_from_tokens, tokens
from ..session import checkpoint


def _shingle_sets(df: DataFrame, text_col: str, id_col: str,
                  shingle_n: int, out_id: str | None = None) -> DataFrame:
    """(id, sh) per document with tokenization MATERIALIZED behind a
    projection boundary before shingling: interpreted higher-order
    lambdas re-evaluate any subtree embedded in the lambda body once
    per element, so an inlined regex split runs ~|shingles| times per
    row (measured 6× slower at 5k docs — see
    functions/text.shingles_from_tokens). CollapseProject keeps the
    boundary because the token column is referenced more than once."""
    out = out_id or id_col
    return (
        df.select(F.col(id_col).alias(out),
                  tokens(F.col(text_col)).alias("_toks"))
        .select(out,
                shingle_hashes_from_tokens(F.col("_toks"), shingle_n)
                .alias("sh"))
    )


# ---------------------------------------------------------------------------
# exact


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest id per identical text (hash-groupBy; the shuffle
    moves 16-byte md5s, not documents)."""
    keep = (
        df.select(F.md5(text_col).alias("_h"), F.col(id_col))
        .groupBy("_h").agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH


def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       num_hashes: int = 64, shingle_n: int = 5) -> DataFrame:
    """k MinHash values per document: shingle → xxhash64 seeded per
    hash-function index → min. One row per doc, signature as array.

    Plan shape: ONE tokenization pass (explode the distinct shingle
    hashes), then all k mins as a single 64-expression hash aggregate —
    partial aggregation makes the shuffle k longs per doc. The naive
    alternative (k array ``transform``s over a shingle expression) has
    Catalyst inline the tokenization into every one of the k copies:
    measured 20× slower at 5k docs, and the re-evaluation grows with
    document size, so it's also the wrong 100 TB shape."""
    sh = _shingle_sets(df, text_col, id_col, shingle_n) \
        .select(F.col(id_col), F.explode("sh").alias("_h"))
    agg = sh.groupBy(id_col).agg(*[
        F.min(F.xxhash64("_h", F.lit(i))).alias(f"_m{i}")
        for i in range(num_hashes)
    ])
    return agg.select(
        F.col(id_col),
        F.array(*[F.col(f"_m{i}") for i in range(num_hashes)])
        .alias("signature"))


def band_buckets(signatures: DataFrame, id_col: str, bands: int = 16,
                 num_hashes: int = 64) -> DataFrame:
    """(id, band, bucket) — the banded-LSH posting list. Shared by the
    in-memory pair path and the persisted incremental index
    (operators/dedup_index.py), so both derive candidates from the
    IDENTICAL banding expression."""
    k = bands
    return signatures.select(
        id_col,
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(F.slice("signature",
                                   b * (num_hashes // k) + 1,
                                   num_hashes // k).cast("string"))
                .alias("bucket"),
            )
            for b in range(k)
        ])).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def lsh_candidate_pairs(signatures: DataFrame, id_col: str,
                        bands: int = 16) -> DataFrame:
    """Band the signature; docs sharing any band bucket are candidates.
    Returns distinct (a, b) id pairs with a < b."""
    sig = band_buckets(signatures, id_col, bands)
    a = sig.alias("a")
    b = sig.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("a"), F.col(f"b.{id_col}").alias("b"))
        .distinct()
    )


def minhash_lsh_dedup_pairs(df: DataFrame, text_col: str, id_col: str,
                            threshold: float = 0.8, num_hashes: int = 64,
                            bands: int = 16, shingle_n: int = 5) -> DataFrame:
    """Candidates from LSH, verified with EXACT shingle Jaccard — the
    standard verify-after-bucket pipeline. Output: (a, b, jaccard)."""
    # Both frames feed two plan branches each (a/b sides of the band
    # join and the verify join) — deliberately NOT checkpointed:
    # Catalyst's ReusedExchange already shares the identical shuffle
    # subplans across branches, and an eager localCheckpoint here
    # materializes with the parquet scan's 1-2 partitions, serializing
    # the verify join (measured: clusters query 6 s → 190 s).
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    cands = lsh_candidate_pairs(sigs, id_col, bands)
    sh = _shingle_sets(df, text_col, id_col, shingle_n)
    pairs = (
        cands.join(sh.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a")), "a")
        .join(sh.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b")), "b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.select("a", "b",
                     (inter / F.nullif(union, F.lit(0))).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (the ground truth the sketches approximate)


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        threshold: float = 0.8, shingle_n: int = 5) -> DataFrame:
    """All-pairs exact Jaccard via inverted index on shingle hashes:
    explode → self-join on shingle → count intersections → filter.
    Shuffles (shingle_hash, doc_id) longs only."""
    sh = _shingle_sets(df, text_col, id_col, shingle_n)
    sizes = sh.select(id_col, F.size("sh").alias("n_sh"))
    inv = sh.select(id_col, F.explode("sh").alias("h"))
    a = inv.alias("a")
    b = inv.alias("b")
    inter = (
        a.join(b, "h")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("a"), F.col(f"b.{id_col}").alias("b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("a"),
                                F.col("n_sh").alias("na")), "a")
        .join(sizes.select(F.col(id_col).alias("b"),
                           F.col("n_sh").alias("nb")), "b")
        .select("a", "b",
                (F.col("inter")
                 / F.nullif(F.col("na") + F.col("nb") - F.col("inter"),
                            F.lit(0))).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs_prefix(df: DataFrame, text_col: str, id_col: str,
                               threshold: float = 0.8,
                               shingle_n: int = 5) -> DataFrame:
    """Exact all-pairs Jaccard ≥ τ via PREFIX FILTERING (the
    AllPairs/ppjoin family, Bayardo et al. WWW'07 / Xiao et al.
    WWW'08): sort every document's shingle set in one global canonical
    order (document frequency ascending, then hash), index only the
    first ``|d| − ⌈τ·|d|⌉ + 1`` shingles per document — any pair with
    J ≥ τ provably shares an indexed prefix shingle — then verify
    candidates with the exact intersection. Same output as the naive
    inverted-index join (``ngram_jaccard_pairs``), but the candidate
    space excludes pairs that only share frequent shingles, which is
    what blows up the naive join on templated corpora. All shuffle
    keys are longs; the only per-doc state is the sorted hash array.

    On top of the prefix filter, candidates pass the ppjoin LENGTH and
    POSITIONAL filters (Xiao et al. WWW'08 §3) before the exact-verify
    join moves any shingle arrays: J ≥ τ forces τ·|a| ≤ |b| ≤ |a|/τ,
    and a match on prefix token at (1-based) positions (pa, pb) bounds
    the overlap by 1 + min(|a|−pa, |b|−pb), which must reach
    α = ⌈τ/(1+τ)·(|a|+|b|)⌉. Both are lossless (a true pair's
    FIRST shared prefix token always satisfies them), so the output is
    unchanged — only the verify set shrinks. Boundary arithmetic
    subtracts 1e-9 before the ceil/compare so a float rounding error
    can only ADMIT a candidate, never drop a true pair."""
    sh = _shingle_sets(df, text_col, id_col, shingle_n, out_id="id")
    tok = sh.select("id", F.explode("sh").alias("h"))
    # Document frequency as COUNT OVER (PARTITION BY h) instead of a
    # groupBy(h) + self-join (r13, guide §2.4): the window needs ONE
    # exchange on h where agg+join needed two AND duplicated the whole
    # tokenize/shingle branch (shingle sets are distinct per doc, so
    # the window count IS the document frequency). Measured at sf0.1:
    # 7.5 s → 3.9 s, output identical. Skew posture: a hot shingle's
    # partition is df-sized either way — the join shuffled tok by h
    # too — and WindowExec spills; at 100 TB a stop-shingle cap before
    # indexing is the real fix for either shape.
    tok_df = tok.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("h")))
    # canonical rare-first order per doc, then cut the prefix
    # The ordered frame feeds four branches of the final plan (a/b
    # sides of the inverted-index join and the verify join) but is NOT
    # checkpointed: ReusedExchange shares the sort-pipeline shuffle
    # across the branches, and eager materialization would pin the
    # scan's low partition count onto the joins (see the MinHash note
    # above — the same change regressed the clusters query 30×).
    ordered = (
        tok_df
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "h"))).alias("arr"))
        .select(
            "id",
            F.transform("arr", lambda s: s.h).alias("sorted_sh"),
            F.size("arr").alias("n"))
        .select(
            "id", "sorted_sh", "n",
            F.slice("sorted_sh", 1,
                    (F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1)
                    .cast("int")).alias("prefix"))
    )
    inv = ordered.select(
        "id", F.col("n"),
        F.posexplode("prefix").alias("pos0", "h"),
    ).select("id", "n", (F.col("pos0") + 1).alias("p"), "h")
    a = inv.alias("a")
    b = inv.alias("b")
    overlap_ub = F.lit(1) + F.least(F.col("a.n") - F.col("a.p"),
                                    F.col("b.n") - F.col("b.p"))
    alpha = F.ceil(F.lit(threshold / (1.0 + threshold))
                   * (F.col("a.n") + F.col("b.n")) - F.lit(1e-9))
    cands = (
        a.join(b, "h")
        .filter(F.col("a.id") < F.col("b.id"))
        # length filter: τ·|a| ≤ |b| and τ·|b| ≤ |a|
        .filter((F.col("b.n") >= F.lit(threshold) * F.col("a.n") - F.lit(1e-9))
                & (F.col("a.n") >= F.lit(threshold) * F.col("b.n")
                   - F.lit(1e-9)))
        # positional filter: this match must still allow overlap ≥ α
        .filter(overlap_ub >= alpha)
        .select(F.col("a.id").alias("a"), F.col("b.id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    sets = ordered.select("id", "sorted_sh", "n")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.col("na") + F.col("nb") - inter
    return (
        cands.join(sets.select(F.col("id").alias("a"),
                               F.col("sorted_sh").alias("sh_a"),
                               F.col("n").alias("na")), "a")
        .join(sets.select(F.col("id").alias("b"),
                          F.col("sorted_sh").alias("sh_b"),
                          F.col("n").alias("nb")), "b")
        .select("a", "b",
                (inter / F.nullif(union, F.lit(0))).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash per document, fully JVM-side: explode tokens,
    xxhash64 each, vote per bit (+1/-1), reassemble the sign vector
    into one bigint."""
    from ..functions.text import tokens

    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("t"))
    h = F.xxhash64("t")
    votes = tok.groupBy(id_col).agg(*[
        F.sum(F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1)
              .otherwise(-1)).alias(f"b{i}")
        for i in range(64)
    ])
    sim = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0,
                     F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0))
        sim = bit if sim is None else sim.bitwiseXOR(bit)
    return votes.select(F.col(id_col), sim.alias("simhash"))


def _banded_hamming_pairs(sh: DataFrame, id_col: str, n_bands: int,
                          band_bits: int, max_hamming: int) -> DataFrame:
    """Pairs with Hamming(simhash) ≤ max_hamming via band blocking:
    by pigeonhole, ≤ n_bands−1 differing bits guarantees at least one
    identical band, so candidate generation is an equi-join on
    (band, key) — never an all-pairs join — and the bit_count verify
    is exact. Complete (recall 1) whenever max_hamming < n_bands."""
    mask = (1 << band_bits) - 1
    banded = sh.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftright("simhash", b * band_bits)
                     .bitwiseAND(F.lit(mask)).alias("key"))
            for b in range(n_bands)
        ])).alias("bb"),
    ).select(id_col, "simhash", "bb.band", "bb.key")
    a = banded.alias("a")
    b = banded.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, ["band", "key"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("a"),
                F.col(f"b.{id_col}").alias("b"),
                hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_dup_pairs(df: DataFrame, text_col: str, id_col: str,
                           max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ k via 4-band blocking
    (pigeonhole: ≤3 differing bits → at least one identical 16-bit
    band), then exact bit_count verify."""
    return _banded_hamming_pairs(simhash(df, text_col, id_col), id_col,
                                 n_bands=4, band_bits=16,
                                 max_hamming=max_hamming)


def simhash32_md5(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """32-bit SimHash with md5-derived token hashes — the oracle-
    checkable variant: every step (md5 hex → 32-bit int, per-bit vote,
    sign reassembly) is reproducible in ANSI SQL, so the banded
    blocking above can be differentially tested against a brute-force
    SQL ground truth bit-for-bit. The 64-bit xxhash64 variant
    (``simhash``) stays the production default."""
    from ..functions.text import tokens

    tok = df.select(F.col(id_col),
                    F.explode(tokens(F.col(text_col))).alias("t"))
    h = F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long")
    votes = tok.groupBy(id_col).agg(*[
        F.sum(F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1)
              .otherwise(-1)).alias(f"b{i}")
        for i in range(32)
    ])
    sim = None
    for i in range(32):
        bit = F.when(F.col(f"b{i}") > 0,
                     F.shiftleft(F.lit(1).cast("long"), i)) \
            .otherwise(F.lit(0).cast("long"))
        sim = bit if sim is None else sim.bitwiseXOR(bit)
    return votes.select(F.col(id_col), sim.alias("simhash"))


def simhash32_near_dup_pairs(df: DataFrame, text_col: str, id_col: str,
                             max_hamming: int = 3) -> DataFrame:
    """Banded near-dup pairs over the 32-bit md5 SimHash (4 bands of
    8 bits — complete for Hamming ≤ 3 by pigeonhole)."""
    return _banded_hamming_pairs(simhash32_md5(df, text_col, id_col),
                                 id_col, n_bands=4, band_bits=8,
                                 max_hamming=max_hamming)


# ---------------------------------------------------------------------------
# embedding cosine near-dup


def embedding_near_dup_pairs(df: DataFrame, vec_col: str, id_col: str,
                             threshold: float = 0.95) -> DataFrame:
    """Pairs of near-identical embeddings (cosine ≥ τ). Brute-force
    all-pairs join — the exact ground-truth tier used as the recall
    oracle for the bucketed path below; O(n²) pairs, so it is the
    default only below the auto crossover.

    Two shape choices keep the n² constant small: norm² is computed
    once per ROW before the join (float-identical to the per-pair
    expression, 3× fewer array passes — `cosine_from_norms`), and the
    left side is repartitioned to the session's parallelism because a
    cartesian inherits the left side's partitioning — a small parquet
    scan yields 1-2 partitions and would serialize the whole n² scan
    onto as many cores (measured: 128 s → ~4 s at 2k vectors × 32
    cores)."""
    from ..functions.vectors import cosine_from_norms, dot, l2_norm_sq

    base = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
                     l2_norm_sq(F.col(vec_col)).alias("_n"))
    par = df.sparkSession.sparkContext.defaultParallelism
    a = base.select(F.col("_id").alias("a"), F.col("_v").alias("va"),
                    F.col("_n").alias("na")).repartition(par)
    b = F.broadcast(base.select(F.col("_id").alias("b"),
                                F.col("_v").alias("vb"),
                                F.col("_n").alias("nb")))
    return (
        a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .select("a", "b",
                cosine_from_norms(dot(F.col("va"), F.col("vb")),
                                  F.col("na"), F.col("nb")).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def embedding_lsh_candidates(
        df: DataFrame, vec_col: str, id_col: str, dim: int = 64,
        n_planes: int = 2, n_tables: int = 20,
        seed: int = 42) -> DataFrame:
    """LSH candidate pairs (a < b) for the bucketed near-dup path:
    ids sharing a random-hyperplane bucket in ANY of ``n_tables``
    tables. Exposed separately so the candidate-set size — the thing
    that decides whether the plan survives a 100× scale-up — can be
    asserted directly in tests.

    Candidate generation and dedup run on (id, id) pairs ONLY — the
    vectors are joined back by the caller, so the dedup shuffle moves
    16 bytes per candidate instead of 2×dim doubles (measured 8×
    faster at 2k vectors; at corpus scale it is the difference
    between shuffling ids and shuffling the embedding table).
    The (id, table, bucket) assignment is materialized once: the frame
    is tiny (n_tables rows per vector, three scalar columns), but its
    projection carries n_tables × n_planes × dim literal multiplies —
    without the checkpoint the self-join would compile and execute
    that expression tree twice."""
    from ..functions.vectors import dot
    from .similarity import _seeded_planes

    # Planes as DATA (one-row broadcast tensor), not literal trees:
    # n_tables·n_planes·dim = 2560 Literal nodes at the defaults cost
    # seconds of analyzer time per query (see the same rewrite in
    # similarity.lsh_topk — measured bit-identical there). Bucket
    # bits stay IntegerType like the shiftleft they replace.
    all_planes = [_seeded_planes(dim, n_planes, seed + 1000 * t)
                  for t in range(n_tables)]
    pl = F.broadcast(df.sparkSession.createDataFrame(
        [(all_planes,)], "_pl array<array<array<double>>>"))
    tb = F.transform(
        F.sequence(F.lit(0), F.lit(n_tables - 1)),
        lambda t: F.struct(
            t.alias("table"),
            F.aggregate(
                F.sequence(F.lit(0), F.lit(n_planes - 1)),
                F.lit(0),
                lambda acc, i: acc.bitwiseXOR(
                    F.when(dot(F.col(vec_col),
                               F.element_at(
                                   F.element_at(F.col("_pl"), t + 1),
                                   i + 1)) >= 0,
                           F.pow(F.lit(2.0), i).cast("int"))
                    .otherwise(F.lit(0)))).alias("bucket")))

    hashed = df.crossJoin(pl).select(
        F.col(id_col),
        F.explode(tb).alias("tb"),
    ).select(id_col, "tb.table", "tb.bucket").localCheckpoint()
    a = hashed.alias("a")
    b = hashed.alias("b")
    return (
        a.join(b, ["table", "bucket"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("a"),
                F.col(f"b.{id_col}").alias("b"))
        .dropDuplicates(["a", "b"])
    )


def embedding_near_dup_pairs_bucketed(
        df: DataFrame, vec_col: str, id_col: str, threshold: float = 0.95,
        dim: int = 64, n_planes: int = 2, n_tables: int = 20,
        seed: int = 42) -> DataFrame:
    """Scale path for embedding near-dup: random-hyperplane LSH
    candidate generation + exact in-bucket cosine verify.

    Each of ``n_tables`` independent tables hashes a vector to the
    ``n_planes``-bit sign pattern of seeded Gaussian projections;
    candidates are pairs sharing a bucket in ANY table (equi-join on
    (table, bucket) — never an all-pairs join), then the exact cosine
    filter keeps true matches only, so precision is always 1 and
    recall is tuned by (n_planes, n_tables). Collision probability per
    table is (1 − θ/π)^n_planes: for a high τ (0.95 → θ≈18°) deep
    12-plane tables are selective; the shallow 2-plane/20-table
    default covers low-τ settings (τ=0.4 → θ≈66°, per-table collision
    ≈0.4, 20-table miss ≈ 0.6^20 ≈ 4e-5).

    The shuffle key is (table, bucket) — 12 bytes — and the verify
    join moves vectors only for co-bucketed pairs. All expressions are
    JVM-side HOF arithmetic (no UDFs); norm² is computed once per row
    before the verify join (float-identical, 3× fewer array passes per
    candidate — see `cosine_from_norms`)."""
    from ..functions.vectors import cosine_from_norms, dot, l2_norm_sq

    cand_ids = embedding_lsh_candidates(df, vec_col, id_col, dim=dim,
                                        n_planes=n_planes,
                                        n_tables=n_tables, seed=seed)
    base = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
                     l2_norm_sq(F.col(vec_col)).alias("_n"))
    va = base.select(F.col("_id").alias("a"), F.col("_v").alias("va"),
                     F.col("_n").alias("na"))
    vb = base.select(F.col("_id").alias("b"), F.col("_v").alias("vb"),
                     F.col("_n").alias("nb"))
    return (
        cand_ids.join(va, "a").join(vb, "b")
        .select("a", "b",
                cosine_from_norms(dot(F.col("va"), F.col("vb")),
                                  F.col("na"), F.col("nb")).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def embedding_near_dup_pairs_auto(
        df: DataFrame, vec_col: str, id_col: str, threshold: float = 0.95,
        dim: int = 64, n_planes: int = 2, n_tables: int = 20,
        seed: int = 42, brute_below: int = 10_000,
        rowcount: int | None = None) -> DataFrame:
    """Near-dup pairs with the brute/bucketed crossover applied (same
    rationale as ``similarity.lsh_topk_auto``): below ``brute_below``
    corpus rows the exact all-pairs join is strictly cheaper than
    bucketed candidate generation — at low τ the shallow buckets admit
    nearly every pair anyway, so the LSH pass just prepends two joins
    and a dedup to the same exact-cosine work. Above the crossover the
    bucketed equi-join path is mandatory (all-pairs is O(n²) rows).
    Both tiers produce the identical exact pair set.

    ``brute_below`` is deliberately conservative: the measurement
    behind the crossover was taken at 2k vectors, and the brute tier's
    cost is quadratic (10k rows ≈ 5·10⁷ pairs, ~5 MB broadcast) — a
    100k default would extrapolate 50× to a ~51 MB broadcast and
    5·10⁹ pairs. Pass ``rowcount`` when the caller already knows the
    size (skips the ``count()`` action, which is a full job whenever
    ``df`` is anything but a bare file scan)."""
    if (rowcount if rowcount is not None else df.count()) <= brute_below:
        return embedding_near_dup_pairs(df, vec_col, id_col, threshold)
    return embedding_near_dup_pairs_bucketed(
        df, vec_col, id_col, threshold, dim=dim, n_planes=n_planes,
        n_tables=n_tables, seed=seed)


def connected_components(pairs: DataFrame, universe: DataFrame,
                         id_col: str, max_iterations: int = 25) -> DataFrame:
    """Duplicate-cluster assignment: every id in ``universe`` gets the
    MINIMUM id reachable through ``pairs`` (a, b) edges — i.e. its
    connected component's canonical representative. Singletons map to
    themselves.

    Iterative min-label propagation: each round every node takes the
    min of its own label and its neighbors' labels; converged when no
    label changes (≤ graph-diameter rounds — near-dup clusters are
    shallow, so 2-3 rounds in practice). Each round checkpoints
    the labels so the plan stays O(1) deep instead of growing with
    iterations — the standard Spark shape for iterative algorithms
    (same reason GraphX/GraphFrames checkpoint between supersteps).
    """
    # Materialize the edge list once — every round joins it, and an
    # expensive upstream pair-generation lineage (LSH, shingling) must
    # not be re-executed per iteration. Repartitioned by src and
    # checkpointed with its hashpartitioning kept (r14, guide §2.4), so
    # EVERY round's propagation join skips the edge-side exchange+sort.
    # Same for the labels: each round's checkpoint comes out of a join
    # keyed by id, so the next round's left join skips the label-side
    # exchange. The job that pins a round's labels also answers whether
    # any changed.
    edges, _ = checkpoint(
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(
            pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .repartition("src"))
    labels, _ = checkpoint(universe.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("label"))
        .repartition("id"))
    converged = False
    for _ in range(max_iterations):
        nbr_min = (
            edges.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        updated, got = checkpoint(
            labels.join(nbr_min, "id", "left")
            .select("id",
                    F.least("label", F.coalesce("nbr_label", "label"))
                    .alias("label"),
                    (F.coalesce("nbr_label", "label") < F.col("label"))
                    .alias("_changed")),
            changed=F.bool_or("_changed"))
        labels = updated.drop("_changed")
        if not got["changed"]:  # NULL over no labels: nothing changed
            converged = True
            break
    if not converged:
        # Returning part-propagated labels would silently assign wrong
        # cluster ids (and keep_canonical would then drop the wrong
        # docs) — fail loudly instead. Hit only on a component whose
        # diameter exceeds max_iterations (e.g. a >25-hop chain).
        raise RuntimeError(
            f"connected_components did not converge within "
            f"{max_iterations} iterations; the graph has a component "
            f"with diameter > {max_iterations} — raise max_iterations")
    return labels.select(F.col("id").alias(id_col),
                         F.col("label").alias("cluster_id"))


def keep_canonical(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Drop every doc that appears as the 'b' side of a dup pair —
    i.e. keep the lowest-id representative of each dup cluster
    (transitive closure approximated by min-id propagation, one
    iteration; exact for pairwise clusters)."""
    losers = pairs.select(F.col("b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")
