"""Louvain community detection + modularity.

Reference: the ``louvain`` builtin (registry .gs_conf.yaml:206) is a
Pregel implementation
(/root/reference/analytical_engine/apps/pregel/louvain/louvain_app_base.h,
342 LoC; vertex-centric Louvain per the Giraph port): local-move rounds
(each vertex joins the neighbor community with max modularity gain),
then graph aggregation into super-vertices, repeated per level. Like the
reference, the result is a high-modularity partition, not a canonical
one — the reference's own tests don't byte-compare Louvain output; ours
assert determinism, partition validity, and modularity quality.

Determinism choices (the reference's async order-dependence replaced):
synchronous rounds; argmax gain with min-community-id tie-break; per
round only vertices with (vid+round) % 2 == 0 move (the standard
bipartite-oscillation damping used by Giraph-style Louvain).

Scale shape per local round: one join of the (stable) weighted edge
table against the community state + two aggregations (community totals,
per-vertex×community weights). Aggregation phases shrink the graph
geometrically, so higher levels are cheap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.graph import LinkGraph
from graphscope_spark.runtime.superstep import (FixpointJob, SuperstepRunner,
                                                free_truncated, truncate)


def _sym_weighted(graph: LinkGraph, weight_col: str | None) -> DataFrame:
    """Symmetric weighted edge list (u, v, w), self-loops dropped."""
    if weight_col is None:
        e = (graph.und_edges() if graph.directed
             else graph.edges.select("src", "dst").filter(F.col("src") != F.col("dst")))
        return e.select("src", "dst", F.lit(1.0).alias("w"))
    e = graph.edges.select("src", "dst", F.col(weight_col).cast("double").alias("w")) \
        .filter(F.col("src") != F.col("dst"))
    if graph.directed:
        e = e.unionByName(e.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst"), "w"))
    return e


def modularity(edges_sym: DataFrame, labels: DataFrame,
               label_col: str = "comm") -> float:
    """Newman modularity of a partition over a symmetric weighted edge
    list (src, dst, w): Q = Σ_c [ in_c/m2 − (tot_c/m2)² ], m2 = Σw."""
    lab = labels.select("vid", F.col(label_col).alias("_c"))
    e = (
        edges_sym.join(lab.withColumnRenamed("vid", "src")
                       .withColumnRenamed("_c", "_cs"), "src")
        .join(lab.withColumnRenamed("vid", "dst").withColumnRenamed("_c", "_cd"), "dst")
    )
    m2 = e.agg(F.sum("w")).first()[0]
    if not m2:
        return 0.0
    per_comm = e.groupBy("_cs").agg(
        F.sum(F.when(F.col("_cs") == F.col("_cd"), F.col("w")).otherwise(0.0)).alias("inw"),
        F.sum("w").alias("tot"),
    )
    row = per_comm.agg(
        F.sum(F.col("inw") / m2 - (F.col("tot") / m2) ** 2).alias("q")).first()
    return float(row["q"] or 0.0)


def _local_moves(edges: DataFrame, comm: DataFrame, m2: float,
                 max_rounds: int) -> DataFrame:
    """Synchronous local-move phase; returns the runner's final
    (vid, comm, chg) state, a ``truncate`` result."""
    # vertex strength k_i INCLUDES self-loop weight (a super-vertex's
    # self-loop is its community's internal mass — the aggregated
    # symmetric edge (c,c) already carries both directions); only the
    # move-candidate edges (w_ic terms) exclude self-loops, since that
    # weight moves with the vertex and cancels in the argmax
    k = edges.groupBy("src").agg(F.sum("w").alias("k")) \
        .withColumnRenamed("src", "vid").persist(StorageLevel.MEMORY_AND_DISK)
    edges = edges.filter(F.col("src") != F.col("dst"))

    def step(state: DataFrame, rnd: int) -> DataFrame:
        lab = state.select("vid", "comm")
        cs = lab.withColumnRenamed("vid", "src").withColumnRenamed("comm", "cs")
        cd = lab.withColumnRenamed("vid", "dst").withColumnRenamed("comm", "cd")
        e = edges.join(cs, "src").join(cd, "dst")
        # community totals Σ k_i
        tot = (lab.join(k, "vid")
               .groupBy("comm").agg(F.sum("k").alias("tot")))
        # per-vertex weight into each neighboring community
        wic = e.groupBy("src", "cd").agg(F.sum("w").alias("wic"))
        cand = (
            wic.join(tot.withColumnRenamed("comm", "cd"), "cd")
            .join(k.withColumnRenamed("vid", "src"), "src")
            .join(cs.select("src", "cs").distinct(), "src")
            # tot excluding i itself when i ∈ candidate community
            .withColumn("tot_x", F.when(F.col("cd") == F.col("cs"),
                                        F.col("tot") - F.col("k"))
                        .otherwise(F.col("tot")))
            .withColumn("gain", F.col("wic") - F.col("k") * F.col("tot_x") / F.lit(m2))
        )
        # also allow "stay alone in own community" (wic=0 to own comm when
        # no self-community neighbors): candidate staying is included when
        # i has neighbors in cs; if not, staying gain is -k*  (tot_cs-k)/m2 with wic 0
        stay = (
            cs.select("src", "cs").distinct()
            .join(tot.withColumnRenamed("comm", "cs"), "cs")
            .join(k.withColumnRenamed("vid", "src"), "src")
            .select("src", F.col("cs").alias("cd"),
                    (F.lit(0.0) - F.col("k") * (F.col("tot") - F.col("k")) / F.lit(m2)).alias("gain"),
                    F.col("cs"))
        )
        allc = cand.select("src", "cd", "gain", "cs").unionByName(stay)
        best = (
            allc.groupBy("src")
            .agg(F.max(F.struct(F.col("gain"), (-F.col("cd")).alias("negc"))).alias("b"),
                 F.first("cs", ignorenulls=True).alias("cs"))
            .select("src", (-F.col("b.negc")).alias("best_c"), F.col("b.gain").alias("best_g"), "cs")
        )
        moves = best.filter(
            (F.col("best_c") != F.col("cs"))
            & (F.pmod(F.col("src") + F.lit(rnd), F.lit(2)) == 0)
        ).select(F.col("src").alias("vid"), F.col("best_c").alias("newc"))
        return (lab.join(moves, "vid", "left")
                .select("vid", F.coalesce("newc", F.col("comm")).alias("comm"),
                        F.col("newc").isNotNull().alias("chg")))

    comm, _ = SuperstepRunner(edges.sparkSession).run(
        FixpointJob("louvain_local_moves", comm, step), max_steps=max_rounds)
    k.unpersist()
    return comm


def louvain(graph: LinkGraph, weight_col: str | None = None,
            max_levels: int = 5, max_rounds: int = 10,
            min_gain: float = 1e-6) -> DataFrame:
    """(vid, community) — community relabeled to the min member vid for
    determinism. Multi-level: local moves → aggregate → repeat while
    modularity improves by > min_gain."""
    edges = _sym_weighted(graph, weight_col).persist(StorageLevel.MEMORY_AND_DISK)
    m2 = edges.agg(F.sum("w")).first()[0]
    if not m2:
        return graph.vertices.select("vid", F.col("vid").alias("community"))
    # mapping original vid → current community (composed across levels)
    mapping = truncate(
        graph.vertices.select("vid", F.col("vid").alias("comm")))
    lvl_edges = edges
    prev_q = modularity(edges, mapping)
    for _level in range(max_levels):
        verts = lvl_edges.select(F.col("src").alias("vid")).distinct()
        comm = _local_moves(lvl_edges, verts.select("vid", F.col("vid").alias("comm")),
                            m2, max_rounds)
        # compose onto the original mapping (manual frees — on the
        # no-improvement break the OLD mapping may be the keeper)
        new_mapping = truncate(
            mapping.join(comm.select(F.col("vid").alias("comm"),
                                     F.col("comm").alias("c2")),
                         "comm", "left")
            .select("vid", F.coalesce("c2", F.col("comm")).alias("comm"))
        )
        q = modularity(edges, new_mapping)
        if q - prev_q <= min_gain:
            # this level did not improve — keep the previous partition
            if q > prev_q:
                free_truncated(mapping)
                mapping = new_mapping
            else:
                free_truncated(new_mapping)
            free_truncated(comm)
            break
        free_truncated(mapping)
        mapping = new_mapping
        prev_q = q
        # aggregate: communities become vertices (keep self-loops — they
        # carry the internal weight needed by the next level)
        cs = comm.withColumnRenamed("vid", "src").withColumnRenamed("comm", "ns")
        cd = comm.withColumnRenamed("vid", "dst").withColumnRenamed("comm", "nd")
        nxt = truncate(
            lvl_edges.join(cs, "src").join(cd, "dst")
            .groupBy(F.col("ns").alias("src"), F.col("nd").alias("dst"))
            .agg(F.sum("w").alias("w"))
        )
        free_truncated(lvl_edges)  # a no-op on level 0's persisted edges
        lvl_edges = nxt
        free_truncated(comm)
    # deterministic labels: min original vid per community
    rep = mapping.groupBy("comm").agg(F.min("vid").alias("community"))
    out = mapping.join(rep, "comm").select("vid", "community")
    edges.unpersist()
    free_truncated(lvl_edges)
    return out


def leiden_refine(graph: LinkGraph, assignment: DataFrame,
                  vid_col: str = "vid",
                  comm_col: str = "community") -> DataFrame:
    """(vid, community): split every community of ``assignment`` into
    its CONNECTED components — the refinement guarantee Leiden (Traag,
    Waltman & van Eck 2019, "From Louvain to Leiden") adds over Louvain,
    whose local moves can leave a community internally disconnected
    (§3/Fig. 2 of the paper). Refined labels are the min member vid of
    each component, so they stay deterministic and disjoint across
    communities without a relabeling pass.

    Spark shape: restrict the symmetric edge list to intra-community
    edges (two hash joins against the assignment), then HashMin WCC on
    that subgraph — every machine piece already exists and scales
    (operators/wcc.py); the refinement adds no new state class."""
    from graphscope_spark.operators.wcc import wcc

    a = assignment.select(F.col(vid_col).alias("src"),
                          F.col(comm_col).alias("_ca"))
    b = assignment.select(F.col(vid_col).alias("dst"),
                          F.col(comm_col).alias("_cb"))
    sym = (graph.sym_edges() if not graph.directed else graph.und_edges()) \
        .select("src", "dst")
    intra = (sym.join(a, "src").join(b, "dst")
             .filter(F.col("_ca") == F.col("_cb"))
             .select("src", "dst"))
    sub = LinkGraph(graph.spark, intra,
                    vertices=assignment.select(F.col(vid_col).alias("vid")),
                    directed=False)
    try:
        # wcc's supersteps are eager and its result is checkpointed by
        # the runner, so the throwaway subgraph's caches free safely
        return wcc(sub).select("vid", F.col("comp").alias("community"))
    finally:
        sub.unpersist_all()


def leiden(graph: LinkGraph, weight_col: str | None = None,
           max_levels: int = 5, max_rounds: int = 10,
           min_gain: float = 1e-6) -> DataFrame:
    """Louvain local moves + Leiden connectivity refinement: the
    returned communities are guaranteed internally connected."""
    return leiden_refine(
        graph, louvain(graph, weight_col, max_levels, max_rounds,
                       min_gain))
