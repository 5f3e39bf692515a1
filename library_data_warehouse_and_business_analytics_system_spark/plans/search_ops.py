"""Round-7 extension surface: ranked text retrieval (BM25 / TF-IDF),
distributed k-means assignment, CDC changelog apply, telemetry
compaction, and a cross-table data-quality expectation report.

All oracle-matched: DuckDB expresses every one of these exactly (the
k-means distance folds in index order on both sides, so even the
float distances are bit-identical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import (
    cdc,
    clustering,
    graph,
    sampling,
    search,
    similarity,
    validate,
)
from ..sources.catalog import load_table
from .registry import gate_root, register

# ---------------------------------------------------------------------------
# BM25-style ranked retrieval. The reference has no text-search
# surface; a corpus engine needs one (triage, query-based
# decontamination, boosted sampling). Scale note: the posting list is
# filtered to the query's terms BEFORE any shuffle — see
# operators/search.py. Determinism: rational odds-ratio idf (no ln —
# libm and the JVM disagree in the last ulp) and a sorted-term fold
# for the per-doc sum, so the raw double scores are bit-exact.

_BM25_TERMS = ["spark", "query", "join"]
_K1, _B = 1.2, 0.75

_TERMS_SQL = "(" + ", ".join(f"'{t}'" for t in sorted(_BM25_TERMS)) + ")"


@register(
    "bm25_search_topk",
    rf"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term,
             len(regexp_split_to_array(trim(text), '\s+')) AS dl
      FROM documents
    ), post AS (
      SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
      FROM toks WHERE term IN {_TERMS_SQL}
      GROUP BY doc_id, term
    ), stats AS (
      SELECT COUNT(*) AS n_docs,
             SUM(len(regexp_split_to_array(trim(text), '\s+')))::DOUBLE
               / COUNT(*) AS avgdl
      FROM documents
    ), dfq AS (
      SELECT term, COUNT(*) AS df FROM post GROUP BY term
    ), weighted AS (
      -- all fractional literals cast to DOUBLE: DuckDB parses bare
      -- decimal-point literals as DECIMAL, and the mixed
      -- DECIMAL x DOUBLE path lands 1 ulp off the JVM's
      -- double-only arithmetic (measured; see operators/search.py)
      SELECT p.doc_id, p.term,
             ((s.n_docs::DOUBLE - d.df + 0.5::DOUBLE)
                / (d.df + 0.5::DOUBLE))
               * (p.tf * ({_K1}::DOUBLE + 1.0::DOUBLE))
               / (p.tf + {_K1}::DOUBLE
                  * ((1.0::DOUBLE - {_B}::DOUBLE)
                     + {_B}::DOUBLE * p.dl / s.avgdl))
               AS w
      FROM post p JOIN dfq d USING (term) CROSS JOIN stats s
    ), scored AS (
      SELECT doc_id,
             list_reduce(list_prepend(0.0, list(w ORDER BY term)),
                         (acc, x) -> acc + x) AS score
      FROM weighted GROUP BY doc_id
    )
    SELECT doc_id, score,
           ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
    FROM scored
    QUALIFY rank <= 10
    ORDER BY rank
    """,
    operators=("SEARCH-BM25", "A1", "W4"),
)
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        search.bm25_topk(docs, _BM25_TERMS, k=10, k1=_K1, b=_B)
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# TF-IDF-style top terms per document (rational odds-ratio idf — see
# operators/search.py determinism note). The document-frequency join
# spans the full (Heaps-law) vocabulary, so it shuffles on the term
# key — deliberately NO broadcast hint (VERDICT r6 "What's wrong" #1).


@register(
    "tfidf_top_terms",
    r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term,
             len(regexp_split_to_array(trim(text), '\s+')) AS dl
      FROM documents
    ), post AS (
      SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
      FROM toks GROUP BY doc_id, term
    ), dfq AS (
      SELECT term, COUNT(*) AS df FROM post GROUP BY term
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT p.doc_id, p.term, p.tf,
             (p.tf::DOUBLE / p.dl)
               * ((n.n_docs::DOUBLE - d.df + 0.5::DOUBLE)
                  / (d.df + 0.5::DOUBLE)) AS weight
      FROM post p JOIN dfq d USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, weight, term_rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY weight DESC, term) AS term_rank
      FROM scored
    )
    WHERE term_rank <= 3
    ORDER BY doc_id, term_rank
    """,
    operators=("SEARCH-TFIDF", "A1", "W2"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        search.tfidf_top_terms(docs, per_doc=3)
        .orderBy("doc_id", "term_rank")
    )


# ---------------------------------------------------------------------------
# Distributed k-means: the oracle gates the assignment step (fixed
# centroids = the 8 lowest-id embeddings) bit-exactly — distances
# fold in index order on both engines, so even the doubles match.
# The iterative fit is pinned against numpy in pytest
# (tests/test_search_ops.py) since re-estimated centroids involve
# order-dependent float means no cross-engine oracle can share.

_SQDIST = ("list_reduce(list_transform(range(1, 65), "
           "i -> (e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)"
           " * (e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)), "
           "(acc, x) -> acc + x)")


@register(
    "kmeans_assign_sizes",
    f"""
    WITH c AS (
      SELECT vec_id AS cluster_id, embedding FROM embeddings
      WHERE vec_id < 8
    ), scored AS (
      SELECT e.vec_id, c.cluster_id, {_SQDIST} AS dist
      FROM embeddings e, c
    ), best AS (
      SELECT vec_id, cluster_id, dist,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dist, cluster_id) AS rn
      FROM scored
    )
    SELECT cluster_id,
           COUNT(*) AS n_members,
           CAST(ROUND(SUM(CAST(dist AS DECIMAL(30,15))), 6) AS DOUBLE)
             AS sum_dist
    FROM best WHERE rn = 1
    GROUP BY cluster_id
    ORDER BY cluster_id
    """,
    operators=("KMEANS-ASSIGN", "A1", "J5"),
)
def kmeans_assign_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = (
        emb.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("cluster_id"),
                F.col("embedding").alias("centroid"))
    )
    assigned = clustering.assign_clusters(emb, centroids)
    return (
        assigned.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_members"),
             F.round(F.sum(F.col("dist").cast("decimal(30,15)")), 6)
             .cast("double").alias("sum_dist"))
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 lexical top-100 fused with exact-cosine
# vector top-100 by reciprocal-rank fusion (Cormack et al. 2009) —
# the standard hybrid-search composition. documents.doc_id and
# embeddings.vec_id share an id space, so the fusion joins the two
# lists directly. Deterministic end-to-end: rational-idf BM25,
# index-order-folded cosines, and a fixed-order two-term RRF sum.

_QDOT = ("list_reduce(list_prepend(0.0::DOUBLE, "
         "list_transform(range(1, 65), "
         "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)), (acc, x) -> acc + x)")


@register(
    "hybrid_rrf_search",
    rf"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term,
             len(regexp_split_to_array(trim(text), '\s+')) AS dl
      FROM documents
    ), post AS (
      SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
      FROM toks WHERE term IN {_TERMS_SQL}
      GROUP BY doc_id, term
    ), stats AS (
      SELECT COUNT(*) AS n_docs,
             SUM(len(regexp_split_to_array(trim(text), '\s+')))::DOUBLE
               / COUNT(*) AS avgdl
      FROM documents
    ), dfq AS (
      SELECT term, COUNT(*) AS df FROM post GROUP BY term
    ), weighted AS (
      SELECT p.doc_id, p.term,
             ((s.n_docs::DOUBLE - d.df + 0.5::DOUBLE)
                / (d.df + 0.5::DOUBLE))
               * (p.tf * ({_K1}::DOUBLE + 1.0::DOUBLE))
               / (p.tf + {_K1}::DOUBLE
                  * ((1.0::DOUBLE - {_B}::DOUBLE)
                     + {_B}::DOUBLE * p.dl / s.avgdl))
               AS w
      FROM post p JOIN dfq d USING (term) CROSS JOIN stats s
    ), bscored AS (
      SELECT doc_id,
             list_reduce(list_prepend(0.0::DOUBLE, list(w ORDER BY term)),
                         (acc, x) -> acc + x) AS score
      FROM weighted GROUP BY doc_id
    ), bm AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
      FROM bscored QUALIFY rank <= 100
    ), qv AS (
      SELECT embedding AS q FROM embeddings WHERE vec_id = 0
    ), ascored AS (
      SELECT e.vec_id,
             {_QDOT.format(a='qv.q', b='e.embedding')}
               / nullif(sqrt({_QDOT.format(a='qv.q', b='qv.q')})
                        * sqrt({_QDOT.format(a='e.embedding',
                                             b='e.embedding')}), 0) AS cos
      FROM embeddings e, qv WHERE e.vec_id <> 0
    ), ann AS (
      SELECT vec_id,
             ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS rank
      FROM ascored QUALIFY rank <= 100
    ), fused AS (
      SELECT COALESCE(bm.doc_id, ann.vec_id) AS doc_id,
             COALESCE(1.0::DOUBLE / (60 + bm.rank), 0.0::DOUBLE)
               + COALESCE(1.0::DOUBLE / (60 + ann.rank), 0.0::DOUBLE)
               AS rrf
      FROM bm FULL JOIN ann ON bm.doc_id = ann.vec_id
    )
    SELECT doc_id, rrf,
           ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS fused_rank
    FROM fused QUALIFY fused_rank <= 20
    ORDER BY fused_rank
    """,
    operators=("SEARCH-HYBRID", "SEARCH-BM25", "ANN-BRUTE", "J2", "W4"),
)
def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    bm = (search.bm25_topk(docs, _BM25_TERMS, k=100, k1=_K1, b=_B)
          .select("doc_id", "rank"))
    ann = (
        similarity.brute_force_topk(
            emb, emb.filter(F.col("vec_id") == 0), "embedding", "vec_id",
            k=100)
        .select(F.col("neighbor_id").alias("doc_id"), "rank")
    )
    return search.rrf_fuse(bm, ann, topn=20).orderBy("fused_rank")


# ---------------------------------------------------------------------------
# PageRank over the part co-purchase graph (parts sharing an order,
# both directions). The other classic iterative fixpoint next to
# dedup_clusters' connected components: each iteration is one
# rank→edge equi-join plus one per-destination sorted fold, so even
# the iterated rank doubles are bit-exact against the oracle's
# replicated two iterations.

_PR_EDGES = """
    edges AS (
      SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
      FROM lineitem l1
      JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
                      AND l1.l_partkey <> l2.l_partkey
    ), nodes AS (
      SELECT src AS id FROM edges UNION SELECT dst FROM edges
    ), nn AS (SELECT COUNT(*) AS n FROM nodes),
    outdeg AS (SELECT src, COUNT(*) AS odeg FROM edges GROUP BY src)
"""

_PR_ITER = """
    c{i} AS (
      SELECT e.dst AS id, e.src, p.pr / o.odeg AS c
      FROM edges e
      JOIN pr{prev} p ON p.id = e.src
      JOIN outdeg o ON o.src = e.src
    ), s{i} AS (
      SELECT id,
             list_reduce(list_prepend(0.0::DOUBLE, list(c ORDER BY src)),
                         (acc, x) -> acc + x) AS s
      FROM c{i} GROUP BY id
    ), pr{i} AS (
      SELECT nodes.id,
             ((1.0::DOUBLE - 0.85::DOUBLE) / nn.n)
               + 0.85::DOUBLE * COALESCE(s{i}.s, 0.0::DOUBLE) AS pr
      FROM nodes CROSS JOIN nn LEFT JOIN s{i} ON s{i}.id = nodes.id
    )
"""


@register(
    "copurchase_pagerank",
    f"""
    WITH {_PR_EDGES},
    pr0 AS (SELECT id, 1.0::DOUBLE / nn.n AS pr FROM nodes CROSS JOIN nn),
    {_PR_ITER.format(i=1, prev=0)},
    {_PR_ITER.format(i=2, prev=1)}
    SELECT id AS part_id, pr,
           ROW_NUMBER() OVER (ORDER BY pr DESC, id) AS pr_rank
    FROM pr2 QUALIFY pr_rank <= 25
    ORDER BY pr_rank
    """,
    operators=("GRAPH-PAGERANK", "J1", "A1", "W4"),
)
def copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey")
    # Basket-grouped pair generation (r13, guide §2.4): ONE exchange
    # (groupBy order) + a JVM HOF pair expansion replaces the
    # self-join's two shuffled sides. Fan-out is still bounded by
    # basket size squared (collect_set per ORDER, never per part),
    # and the distinct-edge set is identical — verified bit-exact
    # against the join form and the DuckDB oracle at sf0.1
    # (2,392,000 edges; derivation 3.1 s → 2.4 s warm).
    edges = (
        li.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
        .select(F.explode(F.flatten(F.transform(
            F.col("ps"), lambda a: F.transform(
                F.filter(F.col("ps"), lambda b: b != a),
                lambda b: F.struct(a.alias("src"), b.alias("dst")))))
        ).alias("e"))
        .select("e.src", "e.dst")
        # no .distinct() here: pagerank() distincts its edge input
        # itself — the doubled distinct was a full extra shuffle of
        # the 2.4M-pair set (r13, guide §2.4).
    )
    pr = graph.pagerank(edges, iters=2, damping=0.85)
    w = Window.orderBy(F.col("pr").desc(), F.col("id"))
    return (
        pr.withColumn("pr_rank", F.row_number().over(w))
        .filter(F.col("pr_rank") <= 25)
        .select(F.col("id").alias("part_id"), "pr", "pr_rank")
        .orderBy("pr_rank")
    )


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023): k-means clusters bound the quadratic
# near-dup pairwise stage to within-cluster equi-joins; and the
# D4-style prototypicality ranking (Tirumala et al. 2023) over the
# same assignment. Both oracles replicate BOTH stages — assignment
# distances and cosines fold in index order, so everything is
# bit-exact including the raw doubles.

_DOT64 = ("list_reduce(list_prepend(0.0::DOUBLE, "
          "list_transform(range(1, 65), "
          "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)), (acc, x) -> acc + x)")

_ASSIGN_CTE = f"""
    c AS (
      SELECT vec_id AS cluster_id, embedding FROM embeddings
      WHERE vec_id < 64
    ), scored AS (
      SELECT e.vec_id, c.cluster_id, {_SQDIST} AS dist
      FROM embeddings e, c
    ), assigned AS (
      SELECT vec_id, cluster_id, dist FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cluster_id) AS rn
        FROM scored
      ) WHERE rn = 1
    )
"""


@register(
    "semantic_dedup_pairs",
    f"""
    WITH {_ASSIGN_CTE},
    pairs AS (
      SELECT a.cluster_id, a.vec_id AS a, b.vec_id AS b,
             {_DOT64.format(a='ea.embedding', b='eb.embedding')}
               / nullif(sqrt({_DOT64.format(a='ea.embedding', b='ea.embedding')})
                        * sqrt({_DOT64.format(a='eb.embedding', b='eb.embedding')}),
                        0) AS cos
      FROM assigned a
      JOIN assigned b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
    )
    SELECT cluster_id, a, b, cos FROM pairs
    WHERE cos >= 0.4::DOUBLE
    ORDER BY a, b
    """,
    operators=("SEMDEDUP", "KMEANS-ASSIGN", "J1", "J5"),
)
def semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = (
        emb.filter(F.col("vec_id") < 64)
        .select(F.col("vec_id").alias("cluster_id"),
                F.col("embedding").alias("centroid"))
    )
    return (
        clustering.semantic_dedup_pairs(emb, centroids, threshold=0.4)
        .orderBy("a", "b")
    )


@register(
    "cluster_prototype_prune",
    f"""
    WITH {_ASSIGN_CTE}
    SELECT cluster_id, vec_id, dist, proto_rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                                   ORDER BY dist, vec_id) AS proto_rank
      FROM assigned
    )
    WHERE proto_rank <= 5
    ORDER BY cluster_id, proto_rank
    """,
    operators=("PROTO-PRUNE", "KMEANS-ASSIGN", "W2"),
)
def cluster_prototype_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = (
        emb.filter(F.col("vec_id") < 64)
        .select(F.col("vec_id").alias("cluster_id"),
                F.col("embedding").alias("centroid"))
    )
    return (
        clustering.prototype_prune(emb, centroids, per_cluster=5)
        .orderBy("cluster_id", "proto_rank")
    )


# ---------------------------------------------------------------------------
# CDC changelog apply: a deterministic I/U/D feed derived from
# orders (insert everything; status-correct every key ≡ 3 mod 10;
# delete every key ≡ 7 mod 100), collapsed latest-wins per key.
# This is the reference's key-scoped MERGE generalized to a
# changelog stream (07_SubsequentLoading.sql's delta loads), and the
# batch half of streaming/warehouse_ingest.py.


@register(
    "cdc_orders_snapshot",
    """
    WITH log AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS seq, 'I' AS op
      FROM orders
      UNION ALL
      SELECT o_orderkey, 'X' AS o_orderstatus, o_totalprice, 2 AS seq,
             'U' AS op
      FROM orders WHERE o_orderkey % 10 = 3
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice, 3 AS seq, 'D' AS op
      FROM orders WHERE o_orderkey % 100 = 7
    ), applied AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                     ORDER BY seq DESC) AS rn
        FROM log
      ) WHERE rn = 1 AND op <> 'D'
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_price
    FROM applied
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    operators=("CDC-APPLY", "S5", "W2", "A1"),
)
def cdc_orders_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    inserts = orders.select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.lit(1).alias("seq"), F.lit("I").alias("op"))
    updates = (
        orders.filter(F.col("o_orderkey") % 10 == 3)
        .select("o_orderkey", F.lit("X").alias("o_orderstatus"),
                "o_totalprice", F.lit(2).alias("seq"),
                F.lit("U").alias("op"))
    )
    deletes = (
        orders.filter(F.col("o_orderkey") % 100 == 7)
        .select("o_orderkey", "o_orderstatus", "o_totalprice",
                F.lit(3).alias("seq"), F.lit("D").alias("op"))
    )
    log = inserts.unionByName(updates).unionByName(deletes)
    snap = cdc.apply_changelog(log, ["o_orderkey"])
    return (
        snap.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
             .cast("double").alias("total_price"))
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Telemetry compaction: collapse consecutive repeats of the same
# event_type per user (keep a run's first event). LAG partitioned by
# user — high-cardinality partitions, bounded per-partition size.


@register(
    "events_collapse_consecutive",
    """
    WITH marked AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS kept_events
    FROM marked
    WHERE prev_type IS NULL OR event_type <> prev_type
    GROUP BY event_type
    ORDER BY event_type
    """,
    operators=("W1", "A1", "EVENTS-COMPACT"),
)
def events_collapse_consecutive(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.withColumn("prev_type", F.lag("event_type").over(w))
    return (
        marked.filter(F.col("prev_type").isNull()
                      | (F.col("event_type") != F.col("prev_type")))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("kept_events"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement: priority sampling (Duffield
# et al. 2007) with md5-derived uniforms — u/w priorities need no
# pow(), so unlike exponential keys the whole draw is bit-exact
# across engines. Weight = document length in chars (longer docs
# proportionally likelier).


@register(
    "weighted_doc_sample",
    """
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             (CAST('0x' || substr(md5('ps:' || CAST(doc_id AS VARCHAR)),
                                  1, 13) AS BIGINT)::DOUBLE
              / 4503599627370496.0::DOUBLE) / n_chars::DOUBLE AS priority
      FROM documents
    )
    SELECT doc_id, source, n_chars, priority, sample_rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY priority, doc_id)
               AS sample_rank
      FROM keyed
    )
    WHERE sample_rank <= 50
    ORDER BY sample_rank
    """,
    operators=("SAMPLE-WEIGHTED", "W4"),
)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars")
    return (
        sampling.priority_sample(docs, F.col("n_chars"), k=50,
                                 id_col="doc_id")
        .select("doc_id", "source", "n_chars", "priority", "sample_rank")
        .orderBy("sample_rank")
    )


# ---------------------------------------------------------------------------
# Transactional-layer reads under the driver hash: time travel and
# incremental aggregate maintenance. Like merge_parts_orders, these
# run the REAL write path against a staged txlog table and gate the
# OUTCOME bit-exactly — the oracle states what the result must equal
# in terms of the source table, not a translation of the code.


@register(
    "txlog_time_travel",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE year(o_orderdate) <= 1997
    GROUP BY year(o_orderdate)
    ORDER BY o_year
    """,
    operators=("TX-TIME-TRAVEL", "S1", "A1"),
)
def txlog_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three yearly commits, then a LATER overwrite that perturbs
    every price and a checkpoint — and an ``as_of`` read back to
    commit 2 that must still see exactly the first two years'
    original rows. A green row certifies that historical snapshots
    survive both subsequent overwrites and checkpointing.
    Reference parity: Oracle flashback query (AS OF SCN) over the
    loaded warehouse; format-level the Delta time-travel contract.
    """
    from ..sources.txlog import tx_checkpoint, tx_read, tx_write

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year"),
        F.col("o_totalprice").cast("decimal(18,4)").alias("tp"))
    root = gate_root("txtt_gate_")
    t = f"{root}/orders_tl"
    tx_write(orders.filter(F.col("o_year") <= 1996), t, mode="append")
    c2 = tx_write(orders.filter(F.col("o_year") == 1997), t, mode="append")
    tx_write(orders.filter(F.col("o_year") >= 1998), t, mode="append")
    # history-rewriting overwrite + checkpoint AFTER the target commit
    tx_write(orders.withColumn("tp", F.col("tp") + 1), t,
             mode="overwrite")
    tx_checkpoint(t)
    return (
        tx_read(spark, t, as_of=c2)
        .groupBy("o_year")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("tp"), 2).cast("double").alias("total_price"))
        .select(F.col("o_year").cast("int").alias("o_year"),
                "n_orders", "total_price")
        .orderBy("o_year")
    )


@register(
    "optimize_zorder_orders",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_custs,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    GROUP BY year(o_orderdate)
    ORDER BY o_year
    """,
    operators=("TX-OPTIMIZE", "ZORDER", "A1", "A3"),
)
def optimize_zorder_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ... ZORDER BY under the driver hash: write orders as
    a year-partitioned txlog table, rewrite it Z-ordered on
    (o_custkey, totalprice), and aggregate the optimized snapshot.
    The oracle is the rollup over the raw table — a green row proves
    the layout rewrite is row-identical (Delta's OPTIMIZE contract).
    Footer-stat clustering and time-travel preservation are pinned in
    tests/test_optimize_parts.py."""
    from ..sources.txlog import (
        tx_optimize_parts,
        tx_read_parts,
        tx_write_parts,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year"),
        "o_custkey", F.col("o_totalprice").cast("decimal(18,4)").alias("tp"))
    root = gate_root("txopt_gate_")
    t = f"{root}/orders_opt"
    tx_write_parts(orders, t, "o_year", mode="overwrite")
    tx_optimize_parts(spark, t, "o_year", ["o_custkey", "tp"], n_files=8)
    return (
        tx_read_parts(spark, t)
        .groupBy("o_year")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.countDistinct("o_custkey").alias("n_custs"),
             F.round(F.sum("tp"), 2).cast("double").alias("total_price"))
        .select(F.col("o_year").cast("int").alias("o_year"),
                "n_orders", "n_custs", "total_price")
        .orderBy("o_year")
    )


@register(
    "incremental_agg_orders",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_tp,
           COUNT(*) AS n_rows
    FROM orders
    GROUP BY year(o_orderdate)
    ORDER BY o_year
    """,
    operators=("INCR-AGG", "TX-CDF", "A1", "S5"),
)
def incremental_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-aggregate maintenance from the change feed: build
    the per-year rollup on ~6/7 of orders, append the last bucket as
    a delta commit, then ``refresh_sum_aggregate`` catches the
    aggregate up from ``tx_diff_parts`` alone (cost ∝ the changed
    partitions, never a rescan). The oracle is the rollup over ALL
    orders — a green row proves incremental ≡ full recompute
    bit-exactly (sums ride DECIMAL, so order-independent).
    """
    from ..functions.text import md5_bucket
    from ..operators.incremental_agg import (
        build_sum_aggregate,
        refresh_sum_aggregate,
    )
    from ..sources.txlog import tx_read, tx_write_parts

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year"),
        F.col("o_totalprice").cast("decimal(18,4)").alias("tp"))
    bkt = md5_bucket(F.col("o_orderkey").cast("string"), 7, salt="ia:")
    root = gate_root("txia_gate_")
    fact, aggt = f"{root}/fact_orders", f"{root}/agg_orders"
    tx_write_parts(orders.where(bkt != 0), fact, "o_year",
                   mode="overwrite")
    v0 = build_sum_aggregate(spark, fact, aggt, ["o_year"], ["tp"])
    tx_write_parts(orders.where(bkt == 0), fact, "o_year", mode="append")
    refresh_sum_aggregate(spark, fact, aggt, ["o_year"], ["tp"],
                          since_version=v0)
    return (
        tx_read(spark, aggt)
        .select(F.col("o_year").cast("int").alias("o_year"),
                F.round(F.col("sum_tp"), 2).cast("double").alias("sum_tp"),
                F.col("n_rows"))
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# Cross-table data-quality expectation report — the audit a warehouse
# runs after every load: CHECK-style domain rules (one aggregate pass
# per table) plus referential integrity (anti-join orphan counts),
# unioned into one summary. Mirrors the reference's CHECK constraints
# and FK declarations (01_Create.sql) as a batch audit instead of
# write-time rejection.


@register(
    "dq_expectations_summary",
    """
    WITH checks AS (
      SELECT 'customer.unique_custkey' AS check_name,
             (SELECT COUNT(*) FROM customer) AS n_checked,
             (SELECT COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer)
               AS n_violations
      UNION ALL
      SELECT 'documents.nonempty_text',
             (SELECT COUNT(*) FROM documents),
             (SELECT COUNT(*) FILTER (
                WHERE NOT (text IS NOT NULL AND trim(text) <> ''))
              FROM documents)
      UNION ALL
      SELECT 'lineitem.fk_orderkey',
             (SELECT COUNT(*) FROM lineitem),
             (SELECT COUNT(*) FROM lineitem l
              WHERE l.l_orderkey IS NOT NULL
                AND NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey))
      UNION ALL
      SELECT 'orders.fk_custkey',
             (SELECT COUNT(*) FROM orders),
             (SELECT COUNT(*) FROM orders o
              WHERE o.o_custkey IS NOT NULL
                AND NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey))
      UNION ALL
      SELECT 'orders.positive_totalprice',
             (SELECT COUNT(*) FROM orders),
             (SELECT COUNT(*) FILTER (WHERE NOT (o_totalprice > 0))
              FROM orders)
      UNION ALL
      SELECT 'supplier.fk_nationkey',
             (SELECT COUNT(*) FROM supplier),
             (SELECT COUNT(*) FROM supplier s
              WHERE s.s_nationkey IS NOT NULL
                AND NOT EXISTS (SELECT 1 FROM nation n
                                WHERE n.n_nationkey = s.s_nationkey))
    )
    SELECT check_name, CAST(n_checked AS BIGINT) AS n_checked,
           CAST(n_violations AS BIGINT) AS n_violations,
           n_violations = 0 AS passed
    FROM checks
    ORDER BY check_name
    """,
    operators=("DQ-AUDIT", "S2", "J3", "A1"),
)
def dq_expectations_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    docs = load_table(spark, sf_dir, "documents")

    uniq = (
        customer.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_checked"),
            (F.count(F.lit(1)) - F.countDistinct("c_custkey"))
            .cast("bigint").alias("n_violations"))
        .select(F.lit("customer.unique_custkey").alias("check_name"),
                "n_checked", "n_violations",
                (F.col("n_violations") == 0).alias("passed"))
    )
    reports = [
        uniq,
        validate.expectation_report(
            docs, "documents",
            [("nonempty_text", "text IS NOT NULL AND trim(text) <> ''")]),
        validate.fk_report(lineitem, "l_orderkey", orders, "o_orderkey",
                           "lineitem.fk_orderkey"),
        validate.fk_report(orders, "o_custkey", customer, "c_custkey",
                           "orders.fk_custkey"),
        validate.expectation_report(
            orders, "orders", [("positive_totalprice", "o_totalprice > 0")]),
        validate.fk_report(supplier, "s_nationkey", nation, "n_nationkey",
                           "supplier.fk_nationkey"),
    ]
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.orderBy("check_name")


# ---------------------------------------------------------------------------
# RESTORE / shallow-clone / consistent-read gates: like
# txlog_time_travel, these run the REAL transactional write paths
# against staged tables and gate the OUTCOME bit-exactly — the oracle
# states what the final snapshot must equal in terms of the source
# table, never a translation of the code.


@register(
    "restore_orders_version",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    GROUP BY year(o_orderdate)
    ORDER BY o_year
    """,
    operators=("TX-RESTORE", "S1", "A1"),
)
def restore_orders_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE under the driver hash: two good yearly commits,
    a price-corrupting overwrite, ``tx_restore`` back past it, then
    normal appends CONTINUING on the restored table. The final
    snapshot must equal the original orders in full — the corrupting
    commit gone, the post-restore appends present. Reference parity:
    Oracle FLASHBACK TABLE ... TO SCN; format-level Delta's
    RESTORE ... TO VERSION AS OF (a metadata-only commit — the
    zero-copy property is pinned in tests/test_restore_clone.py).
    """
    from ..sources.txlog import tx_read, tx_restore, tx_write

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year"),
        F.col("o_totalprice").cast("decimal(18,4)").alias("tp"))
    root = gate_root("txrs_gate_")
    t = f"{root}/orders_rs"
    tx_write(orders.filter(F.col("o_year") <= 1996), t, mode="append")
    c2 = tx_write(orders.filter(F.col("o_year") == 1997), t, mode="append")
    # corrupting overwrite, then roll it back
    tx_write(orders.filter(F.col("o_year") <= 1997)
             .withColumn("tp", F.col("tp") + 1), t, mode="overwrite")
    tx_restore(t, c2)
    # life goes on after the restore
    tx_write(orders.filter(F.col("o_year") >= 1998), t, mode="append")
    return (
        tx_read(spark, t)
        .groupBy("o_year")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("tp"), 2).cast("double").alias("total_price"))
        .select(F.col("o_year").cast("int").alias("o_year"),
                "n_orders", "total_price")
        .orderBy("o_year")
    )


@register(
    "clone_orders_isolated",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE year(o_orderdate) <= 1997
    GROUP BY year(o_orderdate)
    ORDER BY o_year
    """,
    operators=("TX-CLONE", "S1", "A1"),
)
def clone_orders_isolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow clone under the driver hash: clone a loaded orders
    table (zero bytes copied — pinned in tests/test_restore_clone.py),
    then OVERWRITE the source with corrupted prices and append extra
    years to it. The clone must still read exactly the years-≤1997
    snapshot it pinned — writes to the source never leak into a
    clone. Format-level: Delta's CREATE TABLE ... SHALLOW CLONE.
    """
    from ..sources.txlog import tx_clone, tx_read, tx_write

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year"),
        F.col("o_totalprice").cast("decimal(18,4)").alias("tp"))
    root = gate_root("txcl_gate_")
    src, dst = f"{root}/orders_src", f"{root}/orders_clone"
    tx_write(orders.filter(F.col("o_year") <= 1997), src, mode="append")
    tx_clone(src, dst)
    # mutate the SOURCE after the clone: overwrite + append
    tx_write(orders.withColumn("tp", F.col("tp") * 2), src,
             mode="overwrite")
    tx_write(orders.filter(F.col("o_year") >= 1998), src, mode="append")
    return (
        tx_read(spark, dst)
        .groupBy("o_year")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("tp"), 2).cast("double").alias("total_price"))
        .select(F.col("o_year").cast("int").alias("o_year"),
                "n_orders", "total_price")
        .orderBy("o_year")
    )


@register(
    "warehouse_consistent_read",
    """
    SELECT n.n_name AS nation,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS total_price
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE year(o.o_orderdate) <= 1997
    GROUP BY n.n_name
    ORDER BY nation
    """,
    operators=("TX-MANIFEST", "J1", "A1"),
)
def warehouse_consistent_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table snapshot isolation under the driver hash: load a
    two-table mini-warehouse (customer dim + orders fact) and publish
    a manifest; then run a SECOND load that commits a corrupted dim
    AND new fact years but CRASHES before its manifest. The
    consistent read must resolve the first manifest and see the
    first load exactly — original dim, years ≤1997 — never the torn
    dims-advanced/facts-stale state the raw per-table reads would
    show. This is the multi-table transaction layer single-table
    formats (Delta/Iceberg) lack; sources/txmulti.py.
    """
    from ..sources.txlog import tx_write
    from ..sources.txmulti import (
        publish_manifest, read_consistent, snapshot_current,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.year("o_orderdate").alias("o_year"),
        F.col("o_totalprice").cast("decimal(18,4)").alias("tp"))
    root = gate_root("txwc_gate_")
    # load 1: complete, manifested
    tx_write(cust, f"{root}/dim_customer", mode="overwrite")
    tx_write(orders.filter(F.col("o_year") <= 1997),
             f"{root}/fact_orders", mode="overwrite")
    publish_manifest(root, snapshot_current(
        root, ["dim_customer", "fact_orders"]))
    # load 2: commits both tables but "crashes" before its manifest
    tx_write(cust.withColumn("c_nationkey",
                             (F.col("c_nationkey") + 1) % 25),
             f"{root}/dim_customer", mode="overwrite")
    tx_write(orders.filter(F.col("o_year") >= 1998),
             f"{root}/fact_orders", mode="append")
    snap = read_consistent(spark, root,
                           plain=["dim_customer", "fact_orders"],
                           partitioned=[])
    return (
        snap["fact_orders"]
        .join(snap["dim_customer"],
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("tp"), 2).cast("double").alias("total_price"))
        .orderBy("nation")
    )


@register(
    "mor_delete_orders",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE (year(o_orderdate) <= 1997 AND o_orderkey % 7 <> 0)
       OR year(o_orderdate) >= 1998
    GROUP BY year(o_orderdate)
    ORDER BY o_year
    """,
    operators=("TX-MOR-DELETE", "S6", "A1"),
)
def mor_delete_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE under the driver hash: load years ≤1997,
    issue a DELETE ... WHERE (o_orderkey % 7 = 0) that stages ONLY
    the deleted keys (Iceberg equality-delete semantics — the
    no-rewrite property is pinned in tests/test_mor_deletes.py),
    then APPEND years ≥1998 — whose %7 keys must SURVIVE, because an
    equality delete applies only to older data commits. The final
    MoR read must equal the WHERE-filtered source exactly.
    Reference parity: 02_OLTP_Screens.sql's DELETE screens, at a
    scale where rewriting the fact is not an option."""
    from ..sources.mor import tx_delete_where, tx_read_mor
    from ..sources.txlog import tx_write

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year"),
        F.col("o_totalprice").cast("decimal(18,4)").alias("tp"))
    root = gate_root("txmd_gate_")
    t = f"{root}/orders_mor"
    tx_write(orders.filter(F.col("o_year") <= 1997), t, mode="append")
    tx_delete_where(spark, t, F.col("o_orderkey") % 7 == 0,
                    ["o_orderkey"])
    tx_write(orders.filter(F.col("o_year") >= 1998), t, mode="append")
    return (
        tx_read_mor(spark, t)
        .groupBy("o_year")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("tp"), 2).cast("double").alias("total_price"))
        .select(F.col("o_year").cast("int").alias("o_year"),
                "n_orders", "total_price")
        .orderBy("o_year")
    )


@register(
    "stats_skipping_orders",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE year(o_orderdate) BETWEEN 1996 AND 1997
    GROUP BY year(o_orderdate)
    ORDER BY o_year
    """,
    operators=("TX-SKIPPING", "S1", "P2", "A1"),
)
def stats_skipping_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-dir data skipping under the driver hash: orders loaded
    as one commit per year with footer-harvested min/max stats on the
    year column, then a BETWEEN read that opens ONLY the two
    overlapping dirs (the open-count contract is spy-pinned in
    tests/test_skipping.py) plus the residual row filter. Delta's
    per-file stats skipping at the txlog's commit granularity — what
    keeps a "last 7 days" query on a 3-year fact from listing 1000
    dirs. The oracle is the plain filtered rollup."""
    from ..sources.skipping import tx_read_pruned, tx_write_stats

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year"),
        F.col("o_totalprice").cast("decimal(18,4)").alias("tp"))
    root = gate_root("txsk_gate_")
    t = f"{root}/orders_sk"
    for y in [r["o_year"] for r in
              orders.select("o_year").distinct().collect()]:
        tx_write_stats(orders.filter(F.col("o_year") == y), t, ["o_year"])
    return (
        tx_read_pruned(spark, t, "o_year", lo=1996, hi=1997)
        .groupBy("o_year")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("tp"), 2).cast("double").alias("total_price"))
        .select(F.col("o_year").cast("int").alias("o_year"),
                "n_orders", "total_price")
        .orderBy("o_year")
    )


@register(
    "bucketed_join_revenue",
    """
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o_orderpriority
    """,
    operators=("BUCKET-JOIN", "J1", "A1"),
)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located bucketed join under the driver hash: lineitem and
    orders persisted bucketed+sorted on the order key, then joined
    WITHOUT a shuffle — the Exchange was paid once at write time and
    amortizes over every subsequent join (the zero-Exchange plan is
    contract-pinned in tests/test_layout_and_skew.py). This is the
    decision that stops a daily 100 TB fact-fact join from moving
    100 TB across the network; SURVEY.md §4.1."""
    import uuid

    from ..sources import warehouse as WH

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_extendedprice").cast("decimal(18,4)").alias("price"))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority")
    root = gate_root("bkt_gate_")
    lt, ot = WH.write_bucketed_pair(spark, li, orders, root,
                                    n_buckets=8,
                                    suffix=f"_g{uuid.uuid4().hex[:8]}")
    return (
        spark.table(lt)
        .join(spark.table(ot),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_items"),
             F.round(F.sum("price"), 2).cast("double").alias("revenue"))
        .orderBy("o_orderpriority")
    )


@register(
    "bloom_point_lookup",
    """
    WITH b AS (SELECT MIN(o_orderkey) AS kmin, MAX(o_orderkey) AS kmax
               FROM orders),
         mid AS (SELECT MIN(o_orderkey) AS kmid
                 FROM orders, b WHERE o_orderkey >= (kmin + kmax) // 2)
    SELECT o_orderkey, o_custkey,
           CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2) AS DOUBLE)
             AS total_price
    FROM orders, b, mid
    WHERE o_orderkey IN (kmin, kmax, kmid)
    ORDER BY o_orderkey
    """,
    operators=("TX-BLOOM", "S1", "P3"),
)
def bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-sidecar point lookups under the driver hash: orders
    split into four hash-disjoint commits, each with a deterministic
    md5 bloom filter on the order key (sources/skipping.py
    tx_write_bloom); three point reads (min / mid / max key) open
    only the dirs whose bloom admits the key — the open-count
    contract is spy-pinned in tests/test_skipping.py — and a probe
    for an absent key returns nothing. The oracle is the plain
    IN-list filter; bloom false positives cost only I/O, never the
    hash."""
    import functools

    from ..sources.skipping import tx_read_point, tx_write_bloom

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.year("o_orderdate").cast("int").alias("o_year"),
        F.col("o_totalprice").cast("decimal(18,4)").alias("tp"))
    root = gate_root("txbl_gate_")
    t = f"{root}/orders_bl"
    for b in range(4):
        tx_write_bloom(orders.filter(F.col("o_orderkey") % 4 == b),
                       t, ["o_orderkey"])
    row = orders.agg(F.min("o_orderkey").alias("kmin"),
                     F.max("o_orderkey").alias("kmax")).collect()[0]
    kmin, kmax = row["kmin"], row["kmax"]
    kmid = (orders.filter(F.col("o_orderkey") >= (kmin + kmax) // 2)
            .agg(F.min("o_orderkey")).collect()[0][0])
    hits = [tx_read_point(spark, t, "o_orderkey", k)
            for k in (kmin, kmid, kmax)]
    miss = tx_read_point(spark, t, "o_orderkey", kmax + 1)
    return (
        functools.reduce(lambda a, b2: a.unionByName(b2), hits + [miss])
        .select("o_orderkey", "o_custkey", "o_year",
                F.round("tp", 2).cast("double").alias("total_price"))
        .orderBy("o_orderkey")
    )


@register(
    "bpe_pair_stats",
    r"""
    WITH wf AS (
      SELECT word, COUNT(*) AS freq FROM (
        SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
        FROM documents)
      WHERE word <> '' GROUP BY word
    ), sy AS (
      SELECT freq,
             list_transform(range(1, length(word) + 1),
               i -> CASE WHEN i = length(word)
                         THEN substr(word, CAST(i AS INT), 1) || '</w>'
                         ELSE substr(word, CAST(i AS INT), 1) END) AS syms
      FROM wf
    ), pc AS (
      SELECT syms[CAST(i AS INT)] AS x,
             syms[CAST(i AS INT) + 1] AS y,
             CAST(SUM(freq) AS BIGINT) AS n
      FROM sy, unnest(range(1, len(syms))) AS u(i)
      GROUP BY 1, 2
    )
    SELECT x, y, n, pair_rank FROM (
      SELECT x, y, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, x, y) AS pair_rank
      FROM pc)
    WHERE pair_rank <= 20
    ORDER BY pair_rank
    """,
    operators=("BPE", "A1", "W4"),
)
def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pair-count stage of distributed BPE training
    (operators/bpe.py) under the driver hash: distinct-word
    frequencies (the ONE corpus-sized shuffle), char+EOW symbol
    expansion, frequency-weighted adjacent-pair counts, top-20 with
    the training tie-break (count DESC, pair ASC) — exactly the
    argmax each merge round computes, so the driver row pins what
    the pytest-verified iterative loop consumes. bpe_train itself is
    differential-tested against a pure-Python reference in
    tests/test_bpe.py (iterative training is not SQL-expressible)."""
    from ..operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    wf = bpe.word_freqs(docs)
    counts = bpe._pair_counts(bpe._to_symbols(wf).select("syms", "freq"))
    w = Window.orderBy(F.desc("n"), "x", "y")
    return (
        counts.withColumn("pair_rank", F.row_number().over(w))
        .filter(F.col("pair_rank") <= 20)
        .orderBy("pair_rank")
    )


@register(
    "incremental_minmax_orders",
    """
    SELECT CAST(o_custkey % 50 AS INT) AS cust_bkt,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_tp,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_tp,
           COUNT(*) AS n_rows
    FROM orders
    GROUP BY o_custkey % 50
    ORDER BY cust_bkt
    """,
    operators=("INCR-AGG", "TX-CDF", "A1", "S5"),
)
def incremental_minmax_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-tier MIN/MAX maintenance under the driver hash: the fact
    is seeded with INFLATED extremes (keys %13 get +1e5, keys %17 get
    -1e5 — group maxes/mins by construction), the aggregate is built,
    and a corrective merge restores the true values — deleting the
    current extremum of many groups, which the fast (delta-sized)
    path cannot handle; refresh_minmax_aggregate recomputes exactly
    those groups from the base (tier counts pytest-pinned in
    test_txlog_parts). Final aggregate ≡ the plain rollup over
    orders, doubles untouched."""
    from ..operators.incremental_agg import (
        build_minmax_aggregate,
        refresh_minmax_aggregate,
    )
    from ..sources.txlog import tx_merge_parts, tx_read, tx_write_parts

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year"),
        (F.col("o_custkey") % 50).cast("int").alias("cust_bkt"),
        F.col("o_totalprice").cast("double").alias("tp"))
    skew = F.when(F.col("o_orderkey") % 13 == 0, F.col("tp") + F.lit(1e5)) \
            .when(F.col("o_orderkey") % 17 == 0, F.col("tp") - F.lit(1e5)) \
            .otherwise(F.col("tp"))
    root = gate_root("txmm_gate_")
    fact, aggt = f"{root}/fact_orders", f"{root}/agg_orders"
    tx_write_parts(orders.withColumn("tp", skew), fact, "o_year",
                   mode="overwrite")
    v0 = build_minmax_aggregate(spark, fact, aggt, ["cust_bkt"], ["tp"])
    fix = orders.filter((F.col("o_orderkey") % 13 == 0)
                        | (F.col("o_orderkey") % 17 == 0))
    tx_merge_parts(spark, fact, fix, keys=["o_orderkey"],
                   part_col="o_year")
    refresh_minmax_aggregate(spark, fact, aggt, ["cust_bkt"], ["tp"],
                             since_version=v0)
    return (
        tx_read(spark, aggt)
        .select("cust_bkt",
                F.col("min_tp").alias("min_tp"),
                F.col("max_tp").alias("max_tp"),
                F.col("n_rows"))
        .orderBy("cust_bkt")
    )


@register(
    "parts_skipping_orders",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(month(o_orderdate) AS INT) AS o_month,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE year(o_orderdate) = 1996 AND month(o_orderdate) BETWEEN 4 AND 6
    GROUP BY 1, 2
    ORDER BY o_year, o_month
    """,
    operators=("TX-SKIPPING", "S1", "P2", "A1"),
)
def parts_skipping_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-tier partitioned skipping under the driver hash: orders
    written as a year-partitioned table in one commit per QUARTER
    (per-dir month stats from the footers), then a (year=1996,
    months 4-6) read that prunes to ONE dir — the year partitions at
    metadata level, the quarter dirs inside the year by stats (the
    open-count contract is spy-pinned in tests/test_skipping.py).
    The oracle is the plain filtered rollup."""
    from ..sources.skipping import tx_read_parts_pruned, tx_write_parts_stats

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("o_year"),
        F.month("o_orderdate").cast("int").alias("o_month"),
        F.col("o_totalprice").cast("decimal(18,4)").alias("tp"))
    root = gate_root("txps_gate_")
    t = f"{root}/orders_ps"
    for q in range(4):
        tx_write_parts_stats(
            orders.filter(F.floor((F.col("o_month") - 1) / 3) == q),
            t, "o_year", ["o_month"])
    return (
        tx_read_parts_pruned(spark, t, "o_month", lo=4, hi=6,
                             part_values=["1996"])
        .groupBy("o_year", "o_month")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("tp"), 2).cast("double").alias("total_price"))
        .orderBy("o_year", "o_month")
    )


# ---------------------------------------------------------------------------
# Schema evolution under the driver hash: the one transactional-layer
# axis with pytest coverage (tests/test_txlog.py / test_txlog_parts.py
# merge-schema appends) but no driver row until now. The gate runs
# the REAL write path — two appends with DIFFERENT schemas (the later
# one adds a column), then a merge_schema=True snapshot read where the
# pre-evolution generation surfaces the new column as NULL — and the
# oracle states the outcome as a UNION ALL with an explicit NULL
# column. Reference parity: ALTER TABLE ... ADD COLUMN on a loaded
# warehouse followed by a full scan; format-level, Delta's
# mergeSchema-on-read contract. Scale: schema evolution is
# metadata-only on write (no rewrite of old generations); the read
# pays one schema-union across file footers.


@register(
    "orders_schema_evolution",
    """
    WITH evolved AS (
      SELECT o_orderkey, o_totalprice,
             CAST(NULL AS VARCHAR) AS o_priority_class
      FROM orders WHERE year(o_orderdate) <= 1996
      UNION ALL
      SELECT o_orderkey, o_totalprice, substr(o_orderpriority, 1, 1)
      FROM orders WHERE year(o_orderdate) >= 1997
    )
    SELECT COALESCE(o_priority_class, '(pre-evolution)') AS priority_class,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_price
    FROM evolved
    GROUP BY COALESCE(o_priority_class, '(pre-evolution)')
    ORDER BY priority_class
    """,
    operators=("TX-SCHEMA-EVOLUTION", "S1", "A1"),
)
def orders_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append orders ≤1996 with the base schema, then ≥1997 with an
    extra o_priority_class column; a merge_schema=True read must
    surface the old generation with NULLs and aggregate across both.
    A green row certifies the schema-union read path bit-for-bit
    (rows, NULL fill, and the evolved column's values)."""
    import shutil

    from ..sources.txlog import tx_read, tx_write

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year"),
        F.col("o_totalprice").cast("decimal(18,4)").alias("tp"),
        "o_orderpriority")
    root = gate_root("txse_gate_")
    t = f"{root}/orders_se"
    tx_write(orders.filter(F.col("o_year") <= 1996)
             .select("o_orderkey", "tp"), t, mode="append")
    tx_write(orders.filter(F.col("o_year") >= 1997)
             .select("o_orderkey", "tp",
                     F.substring("o_orderpriority", 1, 1)
                     .alias("o_priority_class")),
             t, mode="append")
    # Eagerly pin the (few-row) aggregate off the temp table, then
    # reclaim it NOW: repeated bench iterations previously accumulated
    # one full table copy per call for the process lifetime (ADVICE
    # r10; gate_root's exit cleanup stays as crash cover).
    agg = (
        tx_read(spark, t, merge_schema=True)
        .groupBy(F.coalesce("o_priority_class", F.lit("(pre-evolution)"))
                 .alias("priority_class"))
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("tp"), 2).cast("double").alias("total_price"))
        .localCheckpoint()
    )
    shutil.rmtree(root, ignore_errors=True)
    return agg.orderBy("priority_class")


# ---------------------------------------------------------------------------
# The full table-maintenance cycle under the driver hash. Individual
# lifecycle steps each have a driver row (merge_parts_orders,
# optimize_zorder_orders, txlog_time_travel, mor_delete_orders ...)
# but their COMPOSITION — checkpoint → truncate the replayed log →
# expire old checkpoints → vacuum unreferenced generations, the
# nightly sequence plans/library/durable.maintain_warehouse runs — was
# pytest-only. Vacuum is the one step that deletes data files, so the
# gate reads the live snapshot AFTER the whole cycle: if truncation
# dropped replay state, if the checkpoint missed a partition, or if
# vacuum reclaimed a LIVE generation (instead of only the superseded
# pre-merge partition generations), the read crashes or the hash
# mismatches. Reference parity: the post-load housekeeping an Oracle
# DBA runs after 07_SubsequentLoading.sql (log/segment cleanup);
# format-level, Delta's CHECKPOINT + VACUUM contract.


@register(
    "orders_maintenance_cycle",
    """
    WITH b AS (
      SELECT *, CAST('0x' || substr(md5('maint:' || CAST(o_orderkey AS VARCHAR)),
                     1, 6) AS INTEGER) % 37 AS bkt
      FROM orders
    ), adj AS (
      SELECT o_orderkey, year(o_orderdate) AS o_year,
             CASE WHEN bkt = 0 THEN o_totalprice + 5.0
                  ELSE o_totalprice END AS tp
      FROM b
    )
    SELECT CAST(o_year AS INT) AS o_year, COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(tp AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_price
    FROM adj GROUP BY o_year ORDER BY o_year
    """,
    operators=("TX-MAINTAIN", "TX-VACUUM", "S5", "A1"),
)
def orders_maintenance_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-partitioned orders txlog table → partition-scoped merge
    (bucket-0 keys +5, superseding those years' generations) → the
    full maintenance cycle (checkpoint, truncate_log, expire
    checkpoints to 1, vacuum at retention 0) → aggregate the live
    snapshot. The oracle states the post-merge table directly; a green
    row certifies the cycle leaves the live generation bit-identical
    while the log shrinks to O(1) files and the superseded pre-merge
    partition dirs are reclaimed."""
    import shutil

    from ..functions.text import md5_bucket
    from ..sources.txlog import (
        tx_checkpoint,
        tx_expire_checkpoints,
        tx_merge_parts,
        tx_read_parts,
        tx_truncate_log,
        tx_vacuum,
        tx_write_parts,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year"),
        F.col("o_totalprice").alias("tp"))
    root = gate_root("txmc_gate_")
    t = f"{root}/orders_mc"
    tx_write_parts(orders, t, "o_year", mode="overwrite")

    bkt = md5_bucket(F.col("o_orderkey").cast("string"), 37, salt="maint:")
    upd = orders.where(bkt == 0).withColumn("tp", F.col("tp") + 5.0)
    tx_merge_parts(spark, t, upd, keys=["o_orderkey"], part_col="o_year",
                   update_cols=["tp"])

    tx_checkpoint(t)
    tx_truncate_log(t)
    tx_expire_checkpoints(t, keep=1)
    tx_vacuum(t, retention_sec=0.0)

    # Eager pin + immediate reclaim (ADVICE r10): this gate writes the
    # largest per-call footprint (full partitioned orders + merge
    # rewrite), so deferring cleanup to exit accumulated copies
    # across bench iterations. gate_root's exit cleanup stays as
    # crash cover.
    agg = (
        tx_read_parts(spark, t)
        .groupBy("o_year")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum(F.col("tp").cast("decimal(18,4)")), 2)
             .cast("double").alias("total_price"))
        .select(F.col("o_year").cast("int").alias("o_year"),
                "n_orders", "total_price")
        .localCheckpoint()
    )
    shutil.rmtree(root, ignore_errors=True)
    return agg.orderBy("o_year")
