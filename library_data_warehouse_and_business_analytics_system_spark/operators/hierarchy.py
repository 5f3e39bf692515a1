"""Hierarchical (CONNECT BY PRIOR) traversal as level-synchronous
iterative joins.

The reference uses Oracle's CONNECT BY only as a row generator
(``LQY_query2.txt:18``, ``05_InitialLoading.sql:165`` — covered as
S9/date-spine); this operator supplies the FULL hierarchical form —
``START WITH ... CONNECT BY PRIOR key = parent`` with LEVEL and
SYS_CONNECT_BY_PATH — as an engine extension, since a user of an
Oracle warehouse reaches for it the moment a dimension is a tree
(org charts, BOM explosions, category forests).

Spark-first shape: breadth-first frontier expansion — one equi-join
per LEVEL, each shuffling only the frontier and the children that
attach to it (never the whole edge set per row). Depth-D traversal
costs D joins; each level's checkpoint keeps lineage flat, and its job
also counts the level's rows, which is the emptiness check.
This is the same Pregel-on-DataFrames posture as
``operators/graph.py``'s PageRank. A ``max_depth`` guard bounds the
traversal: a deeper-than-expected chain raises instead of running
away. (Single-parent cycles need no guard — a cycle node has no
NULL-parent ancestor chain, so it is unreachable from the roots and
drops out exactly like an orphan; Oracle's ORA-01436 arises only in
the general CONNECT BY edge form, which can re-enter rows.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import checkpoint


def connect_by_prior(nodes: DataFrame, key: str, parent: str,
                     max_depth: int = 64,
                     path_sep: str = "/") -> DataFrame:
    """Traverse the forest in ``nodes`` (one row per node; roots have
    NULL ``parent``). Returns one row per node with its original
    columns plus:

    - ``lvl``     — 0 for roots (Oracle's LEVEL is this + 1),
    - ``root``    — the root key of the node's tree
      (CONNECT_BY_ROOT),
    - ``path``    — ``/root/child/.../key`` (SYS_CONNECT_BY_PATH).

    Raises ``ValueError`` if the frontier is still non-empty after
    ``max_depth`` levels (a cycle, or a genuinely deeper tree —
    raise the limit explicitly for the latter).
    """
    keyc = F.col(key)
    frontier, _ = checkpoint(
        nodes.filter(F.col(parent).isNull())
        .withColumn("lvl", F.lit(0))
        .withColumn("root", keyc)
        .withColumn("path", F.concat(F.lit(path_sep), keyc.cast("string"))))
    levels = [frontier]
    children = nodes.filter(F.col(parent).isNotNull())
    for _ in range(max_depth):
        parent_side = frontier.select(
            F.col(key).alias("_pk"),
            (F.col("lvl") + 1).alias("_lvl"),
            F.col("root").alias("_root"),
            F.col("path").alias("_path"))
        frontier, got = checkpoint(
            children.join(parent_side, F.col(parent) == F.col("_pk"))
            .withColumn("lvl", F.col("_lvl"))
            .withColumn("root", F.col("_root"))
            .withColumn("path", F.concat(F.col("_path"), F.lit(path_sep),
                                         keyc.cast("string")))
            .drop("_pk", "_lvl", "_root", "_path"),
            n=F.count(F.lit(1)))
        if not got["n"]:
            return _union_all(levels)
        levels.append(frontier)
    raise ValueError(
        f"connect_by_prior: hierarchy deeper than max_depth={max_depth} "
        "(cycle, or raise max_depth)")


def _union_all(frames: list[DataFrame]) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out
