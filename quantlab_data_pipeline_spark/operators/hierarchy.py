"""Hierarchy resolution: recursive parent-chain walking without
recursive SQL.

Org charts, industry-classification trees, holding-company structures,
bill-of-materials — all are child→parent forests that analytics needs
flattened to (node, root, depth). SQL engines express this with
``WITH RECURSIVE`` (the DuckDB oracle for the registry twin does);
Spark has no recursive CTE, so the Spark-first shape is **pointer
doubling**: keep, per node, the furthest known ancestor and the
distance to it, and each round substitute that ancestor with ITS
furthest known ancestor. The known distance doubles every round, so a
depth-d forest resolves in ceil(log2 d) + 1 keyed self-joins — not d
chained joins — which is the difference between 5 shuffles and 40 on
a deep tree. Each round is one equi-join of the (node, anc, depth)
frame with itself plus a pin (``localframe.pin``: lineage cut +
re-use; the previous round is unpinned; the same iterative discipline as connected_components and
pagerank in operators/graph.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..localframe import pin, unpin


def resolve_hierarchy(
    edges: DataFrame,
    child_col: str = "child",
    parent_col: str = "parent",
    max_rounds: int = 25,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """Flatten a child→parent forest to ``(node, root, depth)``.

    ``edges`` holds one row per non-root node; roots are the parents
    that never appear as a child (they come back with ``root = node``,
    ``depth = 0``). Pass ``nodes`` (a one-column frame of every node
    id) when the domain contains ISOLATED nodes that appear in no edge
    at all — they are roots of their own one-node trees and cannot be
    discovered from ``edges`` alone. Cycles make the walk
    non-convergent — after ``max_rounds`` doublings (supports depth up
    to 2^max_rounds) a ValueError is raised rather than looping
    forever.
    """
    g = pin(
        edges.select(
            F.col(child_col).alias("node"),
            F.col(parent_col).alias("anc"),
            F.lit(1).alias("depth"),
        )
    )
    for _ in range(max_rounds):
        g2 = g.select(
            F.col("node").alias("g_node"),
            F.col("anc").alias("g_anc"),
            F.col("depth").alias("g_depth"),
        )
        stepped = g.join(g2, g["anc"] == g2["g_node"], "left")
        if stepped.filter(F.col("g_anc").isNotNull()).limit(1).count() == 0:
            break
        prev, g = g, pin(
            stepped.select(
                "node",
                F.coalesce("g_anc", "anc").alias("anc"),
                (F.col("depth") + F.coalesce("g_depth", F.lit(0))).alias("depth"),
            )
        )
        unpin(prev)
    else:
        raise ValueError(
            f"hierarchy did not resolve in {max_rounds} doublings — "
            "cycle in the parent chain, or depth > 2^max_rounds"
        )
    root_ids = edges.select(F.col(parent_col).alias("node")).distinct()
    if nodes is not None:
        root_ids = root_ids.unionByName(
            nodes.select(F.col(nodes.columns[0]).alias("node"))
        ).distinct()
    roots = (
        root_ids.join(
            edges.select(F.col(child_col).alias("node")).distinct(),
            "node",
            "left_anti",
        )
        .select("node", F.col("node").alias("anc"), F.lit(0).alias("depth"))
    )
    return g.unionByName(roots).select(
        "node", F.col("anc").alias("root"), "depth"
    )
