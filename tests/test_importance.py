"""DSIR importance-weighting semantics (operators/importance.py).

The oracle gate (`dsir_importance_weights`) pins bit-exactness; these
tests pin the SEMANTICS the hash-differential can't see: the feature
extraction really is unigrams+adjacent-bigrams, scoring really
discriminates target-like documents, and salting really decorrelates
the bucketing.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from library_data_warehouse_and_business_analytics_system_spark.operators.importance import (
    dsir_importance, hashed_ngram_features,
)
from library_data_warehouse_and_business_analytics_system_spark.sources.catalog import (
    load_table,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


def test_feature_counts_are_unigrams_plus_bigrams(spark):
    # n tokens -> n unigrams + (n-1) bigrams; a 1-token doc has no
    # bigram; counts collapse repeated features.
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "solo"), (3, "x x x")], ["doc_id", "text"])
    feats = hashed_ngram_features(df, n_buckets=1 << 20)
    totals = {r["doc_id"]: r["total"] for r in
              feats.groupBy("doc_id").agg(F.sum("cnt").alias("total"))
              .collect()}
    assert totals == {1: 5, 2: 1, 3: 5}
    # doc 3: features {x:3, x_x:2} -> two distinct buckets w.h.p.
    d3 = {r["cnt"] for r in feats.filter(F.col("doc_id") == 3).collect()}
    assert d3 == {3, 2}


def test_target_slice_scores_higher_on_average(docs):
    """On the shared-vocabulary testdata corpus the English slice
    must still come out ahead (direction), even if the margin is
    small — languages there draw from overlapping token pools."""
    scored = dsir_importance(docs, F.col("lang") == "en",
                             n_buckets=4096)
    rows = (scored.groupBy("is_target")
            .agg(F.avg(F.col("score") / F.col("n_feats")).alias("m"))
            .collect())
    means = {r["is_target"]: r["m"] for r in rows}
    assert means[True] > means[False]


def test_disjoint_vocabularies_separate_sharply(spark):
    """When target and raw styles genuinely differ, the ratio must
    discriminate hard: two disjoint vocabularies -> every target doc
    outscores every non-target doc (normalized)."""
    rows = []
    for i in range(20):
        rows.append((i, " ".join(f"alpha{(i + j) % 7}" for j in range(30)),
                     "tgt"))
        rows.append((100 + i,
                     " ".join(f"omega{(i + j) % 7}" for j in range(30)),
                     "other"))
    df = spark.createDataFrame(rows, ["doc_id", "text", "style"])
    scored = (dsir_importance(df, F.col("style") == "tgt",
                              n_buckets=1 << 16)
              .withColumn("norm", F.col("score") / F.col("n_feats")))
    worst_tgt = (scored.filter("is_target")
                 .agg(F.min("norm")).first()[0])
    best_other = (scored.filter("NOT is_target")
                  .agg(F.max("norm")).first()[0])
    assert worst_tgt > best_other * 1.5


def test_salt_changes_buckets_not_totals(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], ["doc_id", "text"])
    a = hashed_ngram_features(df, n_buckets=1 << 20, salt="s1")
    b = hashed_ngram_features(df, n_buckets=1 << 20, salt="s2")
    assert (a.agg(F.sum("cnt")).first()[0]
            == b.agg(F.sum("cnt")).first()[0] == 7)
    assert ({r["bucket"] for r in a.collect()}
            != {r["bucket"] for r in b.collect()})


def test_score_is_deterministic_across_partitionings(docs):
    one = dsir_importance(docs.repartition(1), F.col("lang") == "en",
                          n_buckets=1024)
    many = dsir_importance(docs.repartition(16), F.col("lang") == "en",
                           n_buckets=1024)
    l, r = (sorted(x.collect(), key=lambda t: t["doc_id"])
            for x in (one, many))
    assert l == r


def test_repeated_target_doc_id_counts_each_feature_once(spark):
    """A doc_id repeated among the target rows must not fan out the
    doc-keyed target joins: raw_n/tgt_n (and so every score) equal a
    plain pandas count over the same feature rows, one row per doc."""
    df = spark.createDataFrame(
        [(1, "alpha beta", "tgt"), (1, "gamma beta", "tgt"),
         (2, "alpha gamma", "raw"), (3, "beta delta alpha", "tgt")],
        ["doc_id", "text", "style"])
    n_buckets = 1 << 16
    feats = hashed_ngram_features(df, n_buckets=n_buckets).toPandas()
    is_tgt = feats["doc_id"].isin([1, 3])
    raw_n = feats.groupby("bucket")["cnt"].sum()
    tgt_n = (feats[is_tgt].groupby("bucket")["cnt"].sum()
             .reindex(raw_n.index, fill_value=0))
    c = ((raw_n.sum() + n_buckets) / (tgt_n.sum() + n_buckets))
    ratio = (tgt_n + 1) / (raw_n + 1)
    expected = {
        d: c * sum(cnt * ratio[b] for b, cnt in
                   sorted(zip(g["bucket"], g["cnt"])))
        for d, g in feats.groupby("doc_id")}

    out = dsir_importance(df, F.col("style") == "tgt",
                          n_buckets=n_buckets).collect()
    assert sorted(r["doc_id"] for r in out) == [1, 2, 3]
    for r in out:
        assert r["is_target"] == (r["doc_id"] in (1, 3))
        assert r["score"] == pytest.approx(expected[r["doc_id"]], rel=1e-12)
