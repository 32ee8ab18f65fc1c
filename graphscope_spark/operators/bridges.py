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

Both loops are ``FixpointJob``s: the BFS forest grows a frontier until
no vertex is reached; the sweep (``_sweep_up``, shared with bcc) runs
max_depth steps.

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
from graphscope_spark.runtime.superstep import (FixpointJob, SuperstepRunner,
                                                free_truncated, truncate)


def _bfs_forest(graph: LinkGraph) -> tuple[DataFrame, int]:
    """Deterministic BFS spanning forest: (vid, depth, parent, chg); roots
    (component min vid) have parent NULL. Returns (state, max_depth); the
    state is a ``truncate`` result the caller frees."""
    und = graph.und_edges()  # graph-lifetime cached; do not persist/unpersist
    comp = wcc(graph)  # comp label = min vid of the component

    def step(state: DataFrame, depth: int) -> DataFrame:
        frontier = state.filter(F.col("depth") == depth - 1).select("vid")
        cand = (
            und.join(frontier.withColumnRenamed("vid", "src"), "src")
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.min("src").alias("newpar"))
        )
        return (
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

    job = FixpointJob("bfs_forest", comp.select(
        "vid",
        F.when(F.col("vid") == F.col("comp"), F.lit(0)).alias("depth"),
        F.lit(None).cast("long").alias("parent")), step)
    runner = SuperstepRunner(graph.spark)
    state, _ = runner.run(job)
    # the last step grew nothing, so the deepest level is one step earlier
    return state, len(runner.history) - 1


def _non_tree_edges(graph: LinkGraph, tree: DataFrame) -> DataFrame:
    """(lo, hi) canonical simple edges outside the BFS forest ``tree``."""
    tree_edges = tree.filter(F.col("parent").isNotNull()).select(
        F.least("parent", "vid").alias("lo"),
        F.greatest("parent", "vid").alias("hi"))
    return (graph.und_edges().filter(F.col("src") < F.col("dst"))
            .select(F.col("src").alias("lo"), F.col("dst").alias("hi"))
            .join(tree_edges, ["lo", "hi"], "left_anti"))


def _sweep_up(name: str, state: DataFrame, max_depth: int,
              aggs: list, fold: dict) -> DataFrame:
    """Leaf-to-root sweep over a BFS-forest frame (vid, depth, parent,
    ...): step s folds level d = max_depth - s + 1 into its parents.
    ``aggs`` aggregate a level's rows per parent; ``fold`` maps a column
    to its new value over the row and those aggregates (null where no
    child folded in); ``chg`` marks the parents that got a fold. Every
    BFS level is non-empty, so the job runs exactly max_depth steps."""
    def step(st: DataFrame, s: int) -> DataFrame:
        up = (st.filter(F.col("depth") == max_depth - s + 1)
              .groupBy(F.col("parent").alias("vid"))
              .agg(*aggs, F.count("*").alias("_kids")))
        return st.join(up, "vid", "left").select(
            *[fold.get(c, F.col(c)).alias(c) for c in state.columns],
            F.col("_kids").isNotNull().alias("chg"))

    out, _ = SuperstepRunner(state.sparkSession).run(
        FixpointJob(name, state.withColumn("chg", F.lit(False)), step),
        max_steps=max_depth)
    return out


def bridges(graph: LinkGraph) -> DataFrame:
    """(src, dst) canonical (src < dst) bridge edges of the simple
    undirected view."""
    tree, max_depth = _bfs_forest(graph)
    non_tree = _non_tree_edges(graph, tree).withColumn(
        "h", F.xxhash64("lo", "hi"))
    # endpoint tags: XOR of incident non-tree edge hashes
    tags = (
        non_tree.select(F.col("lo").alias("vid"), "h")
        .unionByName(non_tree.select(F.col("hi").alias("vid"), "h"))
        .groupBy("vid").agg(F.bit_xor("h").alias("tag"))
    )
    # leaf-to-root: fold each level's subtree XOR into its parent
    state = _sweep_up(
        "bridges_xor",
        tree.join(tags, "vid", "left")
        .select("vid", "depth", "parent",
                F.coalesce("tag", F.lit(0)).alias("sub")),
        max_depth, [F.bit_xor("sub").alias("cx")],
        {"sub": F.when(F.col("cx").isNotNull(),
                       F.col("sub").bitwiseXOR(F.col("cx")))
         .otherwise(F.col("sub"))})
    free_truncated(tree)
    out = truncate(
        state.filter(F.col("parent").isNotNull() & (F.col("sub") == 0))
        .select(F.least("parent", "vid").alias("src"),
                F.greatest("parent", "vid").alias("dst")))
    free_truncated(state)
    return out
