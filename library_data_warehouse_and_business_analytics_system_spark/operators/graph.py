"""Iterative graph analytics over edge DataFrames: PageRank.

Complements the connected-components operator
(``operators/dedup.py dedup_clusters``) with the other classic
iterative fixpoint. Each iteration is one equi-join (ranks onto
edges by source) plus one grouped aggregate (contributions by
destination) — the standard Pregel-on-DataFrames shape: no driver
data movement, shuffle keyed by node id, iteration count fixed by
the caller.

Determinism: per-destination contribution sums fold in sorted-source
order (``array_sort(collect_list(...))`` + ``F.aggregate``), so the
resulting rank doubles are reproducible bit-for-bit — and match a
DuckDB oracle that folds ``list(x ORDER BY src)`` the same way.
A plain ``SUM`` over doubles would be addition-order-dependent and
could never hash-match across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import checkpoint


def pagerank(edges: DataFrame, iters: int = 2, damping: float = 0.85,
             src: str = "src", dst: str = "dst") -> DataFrame:
    """PageRank over a directed edge list (one row per distinct edge).

    Returns (id, pr) for every node appearing as a source or
    destination. Nodes without out-edges contribute nothing (their
    mass leaks, the simple non-redistributing variant); nodes
    without in-edges keep the base term. ``iters`` fixed-point
    iterations from a uniform start — each is one shuffle join plus
    one grouped fold, so cost is O(iters × |E|) with no growth in
    state.

    Each destination's contributions are summed as a sorted array, so
    the fold's array is sized by the node's in-degree: a hub with
    millions of in-edges holds them all in one reducer row.
    """
    # Materialize the (possibly expensive) distinct edge derivation
    # ONCE, with the out-degree already folded in: without this,
    # every iteration's join, the node universe, and the out-degree
    # table each re-execute the upstream lineage — for the
    # co-purchase gate that's the basket expansion running 5+ times
    # (measured 20.9s -> ~8s at sf0.1). The out-degree is a COUNT
    # OVER (PARTITION BY src) on the distinct edge set (r13, guide
    # §2.4) instead of a groupBy + join back: one window pass on the
    # exchange the iteration join needs anyway, and ONE materialized
    # edge frame where the join form staged the edge set twice (e,
    # then e⋈outdeg). Counts are the same per-src edge counts, so
    # pr / odeg divides the same doubles — ranks are bit-identical.
    from pyspark.sql import Window

    # The checkpoints keep their hashpartitioning: ew stays
    # hash(src)-partitioned and sorted — the exact distribution the
    # per-iteration contribution join requires, so the edge set is
    # shuffled ONCE total instead of once per iteration — and nodes and
    # each iteration's ranks stay hash(id)-partitioned for the next
    # left join. The sorted fold makes rank doubles
    # placement-independent.
    ew, _ = checkpoint(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .withColumn("odeg", F.count(F.lit(1)).over(Window.partitionBy("src"))))
    nodes, got = checkpoint(
        ew.select(F.col("src").alias("id"))
        .union(ew.select(F.col("dst").alias("id"))).distinct(),
        n=F.count(F.lit(1)))
    n_nodes = got["n"]  # fixes N for the base term

    base = (1.0 - damping) / n_nodes
    pr = nodes.select("id", (F.lit(1.0) / F.lit(n_nodes)).alias("pr"))
    for _ in range(iters):
        contrib = (
            ew.join(pr.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"), "src",
                    (F.col("pr") / F.col("odeg")).alias("c"))
        )
        summed = (
            contrib.groupBy("id")
            .agg(F.array_sort(F.collect_list(F.struct("src", "c")))
                 .alias("cs"))
            .select("id",
                    F.aggregate(F.col("cs"), F.lit(0.0),
                                lambda acc, s: acc + s["c"])
                    .alias("s"))
        )
        pr, _ = checkpoint(  # bound lineage: O(1) plan per iteration
            nodes.join(summed, "id", "left")
            .select("id",
                    (F.lit(base)
                     + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
                     ).alias("pr")))
    return pr


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts via degree-ordered
    orientation (the MapReduce-era Suri–Vassilvitskii / Cohen
    construction, re-expressed as three DataFrame joins).

    ``edges`` is an undirected distinct edge list (a, b), a ≠ b, one
    row per unordered pair. Each edge is oriented from its
    lower-(degree, id) endpoint to the higher one; every triangle then
    has EXACTLY ONE wedge at its minimum-rank vertex, so wedges =
    oriented ⋈ oriented on the source, and a triangle is a wedge whose
    far pair is itself an oriented edge. Why degree ordering matters
    at 100 TB: wedge count is Σ out-deg², and orientation caps
    out-degree at O(√|E|) even for a celebrity node — the naive
    a<b orientation leaves a low-id hub with out-degree ~N and a
    quadratic wedge set. Returns (node, n_triangles) for every node
    appearing in ``edges`` (zero-participation nodes included)."""
    # Materialize the (possibly expensive) edge derivation ONCE — the
    # co-purchase caller's basket self-join fed 20+ plan branches
    # through und/deg/ranked/oriented/tri and the initial physical
    # plan reached 538 Exchanges / 224 scans (r13; runtime stage reuse
    # recovers some of it, but planning+codegen of the exponential
    # tree alone cost seconds). Same contract as pagerank's edge
    # checkpoint below.
    ed = (edges.select(F.col("a").cast("long").alias("u"),
                       F.col("b").cast("long").alias("v"))
          .localCheckpoint())
    und = ed.unionByName(ed.select(F.col("v").alias("u"),
                                   F.col("u").alias("v")))
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    ranked = und.join(deg.withColumnRenamed("u", "v")
                     .withColumnRenamed("d", "dv"), "v") \
                .join(deg, "u")
    # Checkpointed: three downstream branches (both wedge sides and
    # the closing-edge probe) re-derived the double-join above.
    oriented = (ranked.filter(
        (F.col("d") < F.col("dv"))
        | ((F.col("d") == F.col("dv")) & (F.col("u") < F.col("v"))))
        .select("u", "v")).localCheckpoint()
    # Both orders of each wedge are generated; the closing edge is
    # oriented ONE way by the rank order of its endpoints, so the
    # pure equi-join below matches each triangle exactly once (an
    # OR-of-directions condition would force a nested-loop join).
    w1 = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    w2 = oriented.select(F.col("u").alias("x"), F.col("v").alias("z"))
    wedges = w1.join(w2, "x").filter(F.col("y") != F.col("z"))
    closing = oriented.select(
        F.col("u").alias("y"), F.col("v").alias("z"))
    tri = wedges.join(closing, ["y", "z"])
    # One explode instead of a 3-way union of tri: the union form
    # executed the wedge-close join three times (r13, guide §2.4);
    # exploding the corner array counts the same (node, triangle)
    # incidences in a single pass.
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles")))
    nodes = und.select(F.col("u").alias("node")).distinct()
    return (nodes.join(per_node, "node", "left_outer")
            .select("node",
                    F.coalesce("n_triangles", F.lit(0)).cast("bigint")
                    .alias("n_triangles")))
