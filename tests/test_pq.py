"""Product-quantization semantics (operators/quantize.py PQ section).

The recall gate (`pq_ann_topk`) pins the end-to-end ANN quality; these
pin the pieces: encode really is per-subspace argmin, ADC really sums
the right table entries, and the shortlist degrades to brute force
bit-exactly when it covers the corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from library_data_warehouse_and_business_analytics_system_spark.operators import similarity
from library_data_warehouse_and_business_analytics_system_spark.operators.quantize import (
    pq_encode, pq_fit, pq_topk,
)
from library_data_warehouse_and_business_analytics_system_spark.sources.catalog import (
    load_table,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def books(emb):
    return pq_fit(emb, "embedding", dim=64, m=4, ksub=16, iters=2)


def _sqd(a, b):
    s = 0.0
    for x, y in zip(a, b):
        s += (x - y) * (x - y)
    return s


def test_encode_is_per_subspace_argmin(emb, books):
    rows = (pq_encode(emb.limit(20), "embedding", books)
            .select("vec_id", "embedding", "pq_code").collect())
    for r in rows:
        v = list(r["embedding"])
        for j, book in enumerate(books):
            sub = v[j * 16:(j + 1) * 16]
            dists = [_sqd(sub, c) for c in book]
            assert dists[r["pq_code"][j]] == min(dists)


def test_codes_are_bounded_and_complete(emb, books):
    coded = pq_encode(emb, "embedding", books)
    bad = coded.filter(
        (F.size("pq_code") != 4)
        | F.exists("pq_code", lambda c: (c < 0) | (c >= 16))).count()
    assert bad == 0
    assert coded.count() == emb.count()


def test_rerank_covering_corpus_equals_brute_force(emb, books):
    """Pigeonhole: an ADC shortlist larger than the corpus re-ranked
    exactly IS brute force — ranks, ids, and raw cosines identical."""
    queries = emb.filter(F.col("vec_id") < 4)
    n = emb.count()
    pq = pq_topk(emb, queries, "embedding", "vec_id", books,
                 k=10, rerank=n + 1)
    bf = similarity.brute_force_topk(emb, queries, "embedding",
                                     "vec_id", k=10)
    a = sorted(map(tuple, pq.select("query_id", "rank", "neighbor_id",
                                    "cos").collect()))
    b = sorted(map(tuple, bf.select("query_id", "rank", "neighbor_id",
                                    "cos").collect()))
    assert a == b


def test_fit_is_deterministic(emb):
    b1 = pq_fit(emb, "embedding", dim=64, m=2, ksub=8, iters=2)
    b2 = pq_fit(emb, "embedding", dim=64, m=2, ksub=8, iters=2)
    assert b1 == b2


def test_fit_empty_cell_keeps_its_centroid(spark):
    """Vectors 0 and 1 seed both cells with the same subvectors; every
    point ties and joins cell 0, so cell 1 is empty after the first
    iteration and must keep its seed instead of vanishing."""
    emb = spark.createDataFrame(
        [(0, [0.0] * 4), (1, [0.0] * 4), (2, [4.0] * 4)],
        "vec_id int, embedding array<double>")
    books = pq_fit(emb, "embedding", dim=4, m=2, ksub=2, iters=1)
    assert [book[1] for book in books] == [[0.0, 0.0], [0.0, 0.0]]
    assert [book[0] for book in books] == [[4.0 / 3, 4.0 / 3]] * 2


def test_fit_rejects_indivisible_dim(emb):
    with pytest.raises(ValueError):
        pq_fit(emb, "embedding", dim=64, m=5)
