"""Triangle counting — degree-ordered orientation + join intersection.

Reference: gs::Triangles
(/root/reference/analytical_engine/apps/clustering/triangles.h:43-158),
three supersteps over the simple undirected graph:
  1. broadcast degree (lines 49-54);
  2. orient: keep neighbor u of v iff deg(u) < deg(v), or deg(u) == deg(v)
     and gid(u) < gid(v) — i.e. each undirected edge is directed from its
     higher-(degree, id) endpoint to the lower (lines 70-94);
  3. for each v, u ∈ N⁺(v), w ∈ N⁺(u): if w ∈ N⁺(v) it's a triangle,
     counted exactly once, +1 at all three corners (lines 113-139).

Spark shape: the per-vertex adjacency-set intersection becomes a two-hop
self-join of the oriented edge table closed by a third join — the
orientation bounds the join fan-out exactly as it bounds the reference's
set intersections (max oriented out-degree is O(sqrt(E))). Per-vertex
counts = explode the three corners of each found triangle and count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.graph import LinkGraph


def oriented_edges(graph: LinkGraph) -> DataFrame:
    """Degree-ordered orientation of the simple undirected view: edge
    src→dst kept iff (deg(dst), dst) < (deg(src), src). Graph-lifetime
    cached (see LinkGraph.oriented_edges)."""
    return graph.oriented_edges()


def triangle_list(graph: LinkGraph) -> DataFrame:
    """All triangles, each exactly once, as (a, b, c) where a→b, b→c, a→c
    in the degree-ordered orientation."""
    o = oriented_edges(graph)  # graph-lifetime cached view
    e1 = o.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = o.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = o.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    wedges = e1.join(e2, "b")
    return wedges.join(e3, ["a", "c"]).select("a", "b", "c")


def triangle_count(graph: LinkGraph) -> int:
    """Global triangle count (FLASH variant
    /root/reference/analytical_engine/apps/flash/subgraph/triangle.h:41-73)."""
    return triangle_list(graph).count()


def triangles(graph: LinkGraph) -> DataFrame:
    """Per-vertex triangle counts (vid, tricnt); vertices in no triangle
    get 0, matching the reference's zero-initialized tricnt array."""
    # one pass over the triangle list: a union of its three columns would
    # plan (and run) the three-join enumeration once per corner
    corners = triangle_list(graph).select(
        F.explode(F.array("a", "b", "c")).alias("vid"))
    cnt = corners.groupBy("vid").agg(F.count("*").alias("tricnt"))
    return graph.vertices.select("vid").join(cnt, "vid", "left").select(
        "vid", F.coalesce("tricnt", F.lit(0)).cast("long").alias("tricnt")
    )


def triangle_count_approx(graph: LinkGraph, p: int = 4,
                          hash_fn: str = "sha2", seed: int = 42) -> int:
    """DOULION-style sparsified triangle count (Tsourakakis et al.,
    KDD'09): keep each undirected edge with probability 1/p, count
    triangles on the sparsified graph, extrapolate by p^3 — the
    standard scale path when the exact count's oriented join is still
    too heavy (expected work drops by ~p^3 on the join side while the
    estimator stays unbiased).

    The coin flip is a deterministic hash of the canonical undirected
    edge key (same ``_hash60`` family as the dedup/ANF operators):
    replayable in any engine — ``hash_fn="sha2"`` lets a SQL oracle
    recompute the exact sample — and stable across partitionings."""
    from graphscope_spark.functions.dedup import _hash60

    if p <= 1:
        return triangle_count(graph)
    und = graph.und_edges()
    canon = F.concat_ws(
        ":", F.least("src", "dst"), F.greatest("src", "dst"), F.lit(seed))
    kept = und.filter(_hash60(canon, hash_fn) % p == 0)
    sub = LinkGraph(graph.spark, kept, vertices=graph.vertices,
                    directed=False)
    try:
        return triangle_list(sub).count() * p ** 3
    finally:
        # count() is terminal — free the throwaway subgraph's caches
        sub.unpersist_all()


def triangles_incremental(graph: LinkGraph, new_edges: DataFrame,
                          counts: DataFrame = None) -> DataFrame:
    """Incremental per-vertex triangle maintenance under edge INSERTS —
    the warm-start sibling of wcc/sssp/pagerank warm starts: given
    ``counts`` = triangles(graph) and a batch of new undirected edges,
    return the updated (vid, tricnt) for graph + new_edges by counting
    ONLY triangles that touch at least one new edge.

    The delta enumeration reuses the degree-ordered oriented join on the
    COMBINED graph with a per-edge is-new flag; triangles entirely
    inside the old graph are filtered out before the corner explode, so
    the incremental cost tracks the new batch's wedge count, not the
    full graph's. With ``counts=None`` the base counts are computed
    fresh (then the result simply equals triangles(combined))."""
    if counts is None:
        counts = triangles(graph)
    base = (graph.und_edges() if graph.directed else
            graph.edges.select("src", "dst")
            .filter(F.col("src") != F.col("dst")).distinct())
    ns = new_edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    # an "insert" of an edge already present must not re-count its
    # triangles — they are in the old counts
    nsym = (ns.union(ns.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst"))).distinct()
            .join(base, ["src", "dst"], "left_anti"))
    # combined simple undirected view + degree-ordered orientation built
    # INLINE (no throwaway persisted LinkGraph — one-shot plan)
    und = base.withColumn("_new", F.lit(False)) \
        .unionByName(nsym.withColumn("_new", F.lit(True)))
    deg = und.groupBy("src").agg(F.count("*").alias("deg"))
    o = (und.join(deg, "src")
         .join(deg.select(F.col("src").alias("dst"),
                          F.col("deg").alias("_dd")), "dst")
         .filter((F.col("_dd") < F.col("deg"))
                 | ((F.col("_dd") == F.col("deg"))
                    & (F.col("dst") < F.col("src"))))
         .select("src", "dst", "_new"))
    e1 = o.select(F.col("src").alias("a"), F.col("dst").alias("b"),
                  F.col("_new").alias("n1"))
    e2 = o.select(F.col("src").alias("b"), F.col("dst").alias("c"),
                  F.col("_new").alias("n2"))
    e3 = o.select(F.col("src").alias("a"), F.col("dst").alias("c"),
                  F.col("_new").alias("n3"))
    tris = (e1.join(e2, "b").join(e3, ["a", "c"])
            .filter(F.col("n1") | F.col("n2") | F.col("n3")))
    corners = tris.select(F.explode(F.array("a", "b", "c")).alias("vid"))
    delta = corners.groupBy("vid").agg(F.count("*").alias("_d"))
    verts = und.select(F.col("src").alias("vid")).distinct() \
        .unionByName(graph.vertices.select("vid")).distinct()
    return (verts
            .join(counts.select("vid", F.col("tricnt").alias("_old")),
                  "vid", "left")
            .join(delta, "vid", "left")
            .select("vid",
                    (F.coalesce("_old", F.lit(0))
                     + F.coalesce("_d", F.lit(0)))
                    .cast("long").alias("tricnt")))
