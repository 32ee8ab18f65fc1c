"""Betweenness centrality — batched multi-source Brandes.

Reference: gs::BetweennessCentrality
(/root/reference/analytical_engine/apps/centrality/betweenness/
betweenness_centrality.h:40-80+): per-source Forward phase (BFS levels,
shortest-path counts sigma) then Backward phase (dependency
accumulation), summed over sources — the Brandes algorithm. The rebuild
batches ALL sources through each phase simultaneously: pair-state
(source, vid, depth, sigma) advances one BFS level per superstep
(cross-source work shares one shuffle), then dependencies sweep back one
depth level per superstep.

``sources=None`` samples ``num_pivots`` hash-chosen pivots (the standard
Brandes-subset approximation — the only mode that survives at scale);
pass ``sources="all"`` explicitly for exact betweenness on small graphs,
or an explicit pivot list. Normalization follows NetworkX: directed
1/((n−1)(n−2)), undirected 2/((n−1)(n−2)), endpoint exclusion as in
Brandes; with a proper pivot subset the estimate is extrapolated by
n/k exactly like NetworkX's ``k=`` sampling (its ``_rescale`` applies
n/k whenever scale is non-None, i.e. normalized or undirected).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.graph import LinkGraph
from graphscope_spark.operators.traversal import resolve_sources
from graphscope_spark.runtime.superstep import Truncator


def betweenness_centrality(graph: LinkGraph,
                           sources: list[int] | str | None = None,
                           normalized: bool = True,
                           num_pivots: int = 16, seed: int = 42) -> DataFrame:
    """(vid, betweenness). Sampled-pivot estimate by default; exact with
    ``sources="all"``."""
    sources = resolve_sources(graph, sources, num_pivots, seed)
    delta, edges, _t = _brandes_delta(graph, sources)
    return _finish_vertex(graph, delta, edges, sources, normalized)


def _brandes_delta(graph: LinkGraph, sources: list[int]):
    """Batched Brandes forward+backward: the per-(source, vid) state
    table (source, vid, depth, sigma, delta) all betweenness flavors
    post-process, plus the persisted traversal edges."""
    spark = graph.spark
    t = Truncator()
    # undirected LinkGraphs store both orientations (factory-enforced;
    # sym_edges() returns them as-is) — the conditional only matters for
    # directed graphs, where we traverse out-edges only
    edges = (graph.edges if graph.directed else graph.sym_edges()) \
        .select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)

    src_df = spark.createDataFrame([(int(s),) for s in sources], "source LONG")
    # ---- forward: levels with path counts --------------------------------
    # state rows: (source, vid, depth, sigma)
    settled = t(src_df.select(
        "source", F.col("source").alias("vid"),
        F.lit(0).alias("depth"), F.lit(1.0).alias("sigma")), "settled")
    frontier = settled
    depth = 0
    while True:
        depth += 1
        nxt = (
            edges.join(frontier.withColumnRenamed("vid", "src"), "src")
            .groupBy("source", F.col("dst").alias("vid"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(settled.select("source", "vid"), ["source", "vid"], "left_anti")
            .select("source", "vid", F.lit(depth).alias("depth"), "sigma")
        )
        nxt = t(nxt, "frontier")
        if nxt.isEmpty():
            break
        settled = t(settled.unionByName(nxt), "settled")
        frontier = nxt
    max_depth = depth - 1

    # ---- backward: dependency accumulation, deepest level first ----------
    # delta(v) = Σ_{w ∈ succ(v)} sigma(v)/sigma(w) · (1 + delta(w))
    delta = t(settled.select(
        "source", "vid", "depth", "sigma", F.lit(0.0).alias("delta")), "delta")
    t.free("settled")
    t.free("frontier")
    for d in range(max_depth, 0, -1):
        lower = delta.filter(F.col("depth") == d).select(
            "source", F.col("vid").alias("w"),
            ((1.0 + F.col("delta")) / F.col("sigma")).alias("contrib_per_sigma"))
        # successors of v at depth d-1 are its out-neighbors at depth d
        contribs = (
            edges.join(lower.withColumnRenamed("w", "dst"),
                       "dst")
            .select("source", F.col("src").alias("vid"), "contrib_per_sigma")
            .groupBy("source", "vid").agg(F.sum("contrib_per_sigma").alias("c"))
        )
        delta = t(
            delta.join(contribs, ["source", "vid"], "left")
            .select(
                "source", "vid", "depth", "sigma",
                F.when(F.col("depth") == d - 1,
                       F.col("delta") + F.col("sigma") * F.coalesce("c", F.lit(0.0)))
                .otherwise(F.col("delta")).alias("delta"),
            ),
            "delta",
        )
    return delta, edges, t


def _finish_vertex(graph: LinkGraph, delta, edges, sources,
                   normalized: bool) -> DataFrame:
    n = graph.num_vertices
    bc = (
        delta.filter(F.col("vid") != F.col("source"))
        .groupBy("vid").agg(F.sum("delta").alias("betweenness"))
    )
    out = graph.vertices.select("vid").join(bc, "vid", "left") \
        .select("vid", F.coalesce("betweenness", F.lit(0.0)).alias("betweenness"))
    if not graph.directed:
        out = out.select("vid", (F.col("betweenness") / 2.0).alias("betweenness"))
    if normalized and n > 2:
        scale = (1.0 if graph.directed else 2.0) / ((n - 1) * (n - 2))
        out = out.select("vid", (F.col("betweenness") * scale).alias("betweenness"))
    # NetworkX k-sample extrapolation: n/k whenever a scale applied
    # (normalized, or the undirected 1/2) and sources is a proper subset
    if 0 < len(sources) < n and (normalized or not graph.directed):
        out = out.select(
            "vid",
            (F.col("betweenness") * (n / len(sources))).alias("betweenness"))
    edges.unpersist()
    return out


def edge_betweenness_centrality(graph: LinkGraph,
                                sources: list[int] | str | None = None,
                                normalized: bool = True,
                                num_pivots: int = 16,
                                seed: int = 42) -> DataFrame:
    """(src, dst, betweenness) — Brandes EDGE betweenness over the same
    batched forward/backward tables as the vertex flavor: the edge
    (v, w) with depth(w) = depth(v)+1 in source s's shortest-path DAG
    carries sigma_s(v)/sigma_s(w) * (1 + delta_s(w)), summed over
    sources (Brandes 2001 §4; NetworkX edge_betweenness_centrality
    semantics, including its _rescale_e: normalized -> 1/(n(n-1)),
    unnormalized undirected -> 1/2, and the n/k subset extrapolation
    whenever a scale applies). Undirected graphs report each edge once
    with src < dst; directed graphs keep the stored orientation.

    No extra supersteps: the edge sums are ONE additional 3-way join +
    aggregate over the final per-(source, vid) state — the traversal
    cost is shared with (and identical to) the vertex operator."""
    n = graph.num_vertices
    sources = resolve_sources(graph, sources, num_pivots, seed)
    delta, edges, _t = _brandes_delta(graph, sources)
    lo = delta.select("source", F.col("vid").alias("src"),
                      F.col("depth").alias("_dlo"),
                      F.col("sigma").alias("_sv"))
    hi = delta.select("source", F.col("vid").alias("dst"),
                      F.col("depth").alias("_dhi"),
                      F.col("sigma").alias("_sw"),
                      F.col("delta").alias("_dw"))
    ec = (edges.join(lo, "src").join(hi, ["source", "dst"])
          .filter(F.col("_dhi") == F.col("_dlo") + 1)
          .select("src", "dst",
                  (F.col("_sv") / F.col("_sw")
                   * (1.0 + F.col("_dw"))).alias("_c")))
    if graph.directed:
        out = ec.groupBy("src", "dst").agg(F.sum("_c").alias("betweenness"))
        base = graph.edges.select("src", "dst").distinct()
    else:
        out = (ec.select(F.least("src", "dst").alias("src"),
                         F.greatest("src", "dst").alias("dst"), "_c")
               .groupBy("src", "dst").agg(F.sum("_c").alias("betweenness")))
        base = (graph.edges.select(F.least("src", "dst").alias("src"),
                                   F.greatest("src", "dst").alias("dst"))
                .distinct())
    out = base.join(out, ["src", "dst"], "left").select(
        "src", "dst", F.coalesce("betweenness", F.lit(0.0)).alias("betweenness"))
    scale = None
    if normalized and n > 1:
        scale = 1.0 / (n * (n - 1))
    elif not graph.directed:
        scale = 0.5
    if scale is not None:
        if 0 < len(sources) < n:
            scale = scale * (n / len(sources))
        out = out.select("src", "dst",
                         (F.col("betweenness") * scale).alias("betweenness"))
    edges.unpersist()
    return out
