"""DSIR-style importance weighting over hashed n-gram features.

Data Selection via Importance Resampling (Xie et al., NeurIPS 2023)
scores raw documents by how target-like their hashed bag-of-ngrams
features are: build unigram+bigram counts hashed into a FIXED number
of buckets for the raw corpus and for a target slice, then weight each
document by the per-feature target/raw probability ratio. Documents
are then resampled proportionally to the weight — the standard
pretraining-data curation step between dedup and mixing.

Engine mapping (Spark-first):
- feature extraction is one explode + one (doc, bucket) partial
  aggregate — shuffle volume ∝ distinct (doc, bucket) pairs, capped
  by ``n_buckets`` per doc;
- the raw and target distributions are aggregates over a FIXED
  ``n_buckets``-row key space, so unlike a token vocabulary
  (Heaps-law, VERDICT r6) they are broadcast-safe BY CONSTRUCTION at
  any corpus size — hashing is what makes the broadcast legal;
- the per-document score folds its ≤``n_buckets`` feature
  contributions in bucket order (`F.aggregate` over an array_sort),
  the bit-reproducible float-sum idiom shared with
  ``operators/search.py``; the ratio is add-1-smoothed and log-free
  so a SQL oracle reproduces the raw doubles exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX


def hashed_ngram_features(docs: DataFrame, n_buckets: int = 8192,
                          id_col: str = "doc_id",
                          text_col: str = "text",
                          salt: str = "dsir") -> DataFrame:
    """(doc_id, bucket, cnt): md5-hashed unigram+bigram counts.

    Word unigrams and adjacent-pair bigrams (the DSIR feature set)
    are bucketed with the shared :func:`md5_bucket` primitive so any
    md5-capable engine reproduces membership bit-for-bit. One
    shuffle, keyed on (doc, bucket); the map-side partial aggregate
    collapses repeated features before the exchange."""
    toks = TX.tokens(F.lower(F.col(text_col)))
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit("_"), b))
    feats = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.concat(toks, bigrams)).alias("feat"))
    return (
        feats.select("doc_id",
                     TX.md5_bucket(F.col("feat"), n_buckets, salt=salt)
                     .alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_importance(docs: DataFrame, target_pred: Column,
                    n_buckets: int = 8192,
                    id_col: str = "doc_id", text_col: str = "text",
                    salt: str = "dsir") -> DataFrame:
    """Per-document DSIR importance score against a target slice.

    ``score(d) = C · Σ_f cnt_d(f) · (tgt_n(f)+1)/(raw_n(f)+1)`` with
    the fold in bucket order and the corpus-level constant
    ``C = (raw_total + B)/(tgt_total + B)`` applied once at the end —
    an add-1-smoothed, log-free monotone analogue of the DSIR
    log-likelihood ratio, chosen because ``ln`` is not bit-identical
    across engines (measured: ~4 % of inputs differ in the last ulp
    between libm and the JVM).

    Scale shape: the two distribution tables have AT MOST
    ``n_buckets`` rows each — fixed at config time, independent of
    corpus size — so both ride one broadcast into the per-doc feature
    frame; the only data-sized shuffles are the (doc, bucket) partial
    aggregates. Returns (doc_id, is_target, n_feats, score)."""
    feats = hashed_ngram_features(docs, n_buckets, id_col, text_col, salt)
    # Distinct: a doc_id repeated among the target rows would fan out
    # both doc-keyed joins below (feats already merges its rows).
    target_ids = docs.filter(target_pred).select(
        F.col(id_col).alias("doc_id")).distinct()

    # BOTH distribution tables from ONE pass over feats (r14, guide
    # §2.4): the raw/tgt pair evaluated the tokenize+hash+explode
    # feature subtree twice and shuffled on bucket twice; a target
    # flag attached by one doc-keyed join feeds raw_n and tgt_n as
    # conditional sums in a single bucket aggregation. Sums are exact
    # longs over the same rows → dist is identical (tgt_n of a bucket
    # with no target rows coalesces to 0 exactly as the old left
    # join's missing-row case did).
    flagged = feats.join(target_ids.withColumn("_t", F.lit(1)),
                         "doc_id", "left_outer")
    dist = (flagged.groupBy("bucket")
            .agg(F.sum("cnt").alias("raw_n"),
                 F.coalesce(F.sum(F.when(F.col("_t") == 1, F.col("cnt"))),
                            F.lit(0)).alias("tgt_n")))
    totals = dist.agg(
        F.sum("raw_n").alias("raw_total"),
        F.sum("tgt_n").alias("tgt_total"))

    contrib = (
        feats.join(F.broadcast(dist), "bucket")
        .withColumn(
            "c",
            F.col("cnt").cast("double")
            * ((F.col("tgt_n").cast("double") + F.lit(1.0))
               / (F.col("raw_n").cast("double") + F.lit(1.0))))
    )
    scored = (
        contrib.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_feats"),
             F.array_sort(F.collect_list(F.struct("bucket", "c")))
             .alias("bc"))
        .select("doc_id", "n_feats",
                F.aggregate(F.col("bc"), F.lit(0.0),
                            lambda acc, s: acc + s["c"]).alias("raw_score"))
    )
    b = float(n_buckets)
    return (
        scored.crossJoin(F.broadcast(totals))
        .join(target_ids.withColumn("is_target", F.lit(True)),
              "doc_id", "left_outer")
        .select(
            "doc_id",
            F.coalesce("is_target", F.lit(False)).alias("is_target"),
            "n_feats",
            (((F.col("raw_total").cast("double") + F.lit(b))
              / (F.col("tgt_total").cast("double") + F.lit(b)))
             * F.col("raw_score")).alias("score"))
    )
