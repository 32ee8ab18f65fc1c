"""Bridges — BFS spanning forest + XOR cycle tags.

Reference: gs::BridgeFlash
(/root/reference/analytical_engine/apps/flash/connectivity/bridge.h,
registry entry for flash_bridge): an edge is a bridge iff its removal
disconnects its component — equivalently, iff it lies on no cycle.

The reference computes low-links over a DFS tree — DFS is inherently
token-sequential, so the rebuild uses the standard data-parallel
formulation instead (same output):

  1. spanning forest: deterministic multi-root BFS (one root per WCC —
     the component's min vid, which IS the HashMin label), min-parent
     tie-break;
  2. every non-tree edge e gets a 64-bit tag h(e); both endpoints
     accumulate XOR of their incident non-tree tags;
  3. one leaf-to-root sweep (O(depth) rounds, bit_xor aggregations)
     gives each tree edge (parent(v), v) the XOR of all tags with
     exactly ONE endpoint below v — tags of edges fully inside the
     subtree cancel;
  4. tree edge is a bridge iff its subtree XOR is 0: no non-tree edge
     crosses it. Non-tree edges are never bridges (they close a cycle
     with the tree path).

Probabilistic: a non-empty crossing set XOR-ing to exactly 0 has
probability ~2^-64 per edge (the standard cycle-space hashing argument).
Defined on the simple undirected view (parallel edges are never
bridges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.graph import LinkGraph
from graphscope_spark.operators.wcc import wcc
from graphscope_spark.runtime.superstep import Truncator


def _bfs_forest(graph: LinkGraph, t: Truncator) -> tuple[DataFrame, int]:
    """Deterministic BFS spanning forest: (vid, depth, parent); roots
    (component min vid) have parent NULL. Returns (state, max_depth)."""
    und = graph.und_edges()  # graph-lifetime cached; do not persist/unpersist
    comp = wcc(graph)  # comp label = min vid of the component
    state = t(comp.select(
        "vid",
        F.when(F.col("vid") == F.col("comp"), F.lit(0)).alias("depth"),
        F.lit(None).cast("long").alias("parent")), "bfs")
    depth = 0
    while True:
        depth += 1
        frontier = state.filter(F.col("depth") == depth - 1).select("vid")
        cand = (
            und.join(frontier.withColumnRenamed("vid", "src"), "src")
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.min("src").alias("newpar"))
        )
        new_state = (
            state.join(cand, "vid", "left")
            .select(
                "vid",
                F.when(F.col("depth").isNotNull(), F.col("depth"))
                .when(F.col("newpar").isNotNull(), F.lit(depth)).alias("depth"),
                F.when(F.col("depth").isNotNull(), F.col("parent"))
                .when(F.col("newpar").isNotNull(), F.col("newpar")).alias("parent"),
                (F.col("depth").isNull() & F.col("newpar").isNotNull()).alias("chg"),
            )
        )
        new_state = t(new_state, "bfs")
        grew = new_state.agg(F.sum(F.col("chg").cast("long"))).first()[0] or 0
        state = new_state.drop("chg")
        if grew == 0:
            break
    return state, depth - 1


def bridges(graph: LinkGraph) -> DataFrame:
    """(src, dst) canonical (src < dst) bridge edges of the simple
    undirected view."""
    t = Truncator()
    tree, max_depth = _bfs_forest(graph, t)
    tree_edges = tree.filter(F.col("parent").isNotNull()).select(
        F.least("parent", "vid").alias("lo"),
        F.greatest("parent", "vid").alias("hi"),
        F.col("vid").alias("child"))
    canon = graph.und_edges().filter(F.col("src") < F.col("dst")) \
        .select(F.col("src").alias("lo"), F.col("dst").alias("hi"))
    non_tree = canon.join(tree_edges.select("lo", "hi"), ["lo", "hi"],
                          "left_anti") \
        .withColumn("h", F.xxhash64("lo", "hi"))
    # endpoint tags: XOR of incident non-tree edge hashes
    tags = (
        non_tree.select(F.col("lo").alias("vid"), "h")
        .unionByName(non_tree.select(F.col("hi").alias("vid"), "h"))
        .groupBy("vid").agg(F.bit_xor("h").alias("tag"))
    )
    state = t(
        tree.join(tags, "vid", "left")
        .select("vid", "depth", "parent",
                F.coalesce("tag", F.lit(0)).alias("sub")), "sweep")
    # leaf-to-root: fold each level's subtree XOR into its parent
    for d in range(max_depth, 0, -1):
        up = (
            state.filter(F.col("depth") == d)
            .groupBy(F.col("parent").alias("vid"))
            .agg(F.bit_xor("sub").alias("cx"))
        )
        state = t(
            state.join(up, "vid", "left")
            .select("vid", "depth", "parent",
                    F.when(F.col("cx").isNotNull(),
                           F.col("sub").bitwiseXOR(F.col("cx")))
                    .otherwise(F.col("sub")).alias("sub")),
            "sweep",
        )
    out = (
        state.filter(F.col("parent").isNotNull() & (F.col("sub") == 0))
        .select(F.least("parent", "vid").alias("src"),
                F.greatest("parent", "vid").alias("dst"))
    )
    out = t(out, "out")
    for slot in ("bfs", "sweep"):
        t.free(slot)
    return out
