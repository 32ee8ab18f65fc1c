"""Matching / independent-set / cover family (FLASH matching suite).

Reference semantics (synchronous, deterministic rebuilds):
- mis: gs::MISFlash
  (/root/reference/analytical_engine/apps/flash/matching/mis.h:42-80):
  Luby-style with priority r = deg·n + vid (LOWEST r wins); each round
  the local-minimum vertices among undecided neighbors join the set and
  their neighbors become excluded. The rebuild orders by the STRUCT
  (deg, vid) ascending — identical to r for the reference's dense ids
  in [0, n), and still strictly unique (vid is unique) when vids are
  sparse (e.g. after induce_subgraph), where the scalar form could tie
  two adjacent vertices and stall the election.
- maximal_matching: gs::MMFlash
  (/root/reference/analytical_engine/apps/flash/matching/mm.h:42-75):
  each unmatched vertex proposes to its MAX-id unmatched neighbor;
  mutual proposals match; repeat until maximal.
- min_edge_cover: gs::MinEdgeCoverFlash
  (/root/reference/analytical_engine/apps/flash/matching/
  min-edge-cover.h:41-90): a maximal matching plus, for every unmatched
  non-isolated vertex, one incident edge (its min-(deg, vid) neighbor —
  the reference's min-degree preference), giving |MM| + |unmatched|
  edges.
- min_vertex_cover (greedy): gs::MinCoverFlash
  (/root/reference/analytical_engine/apps/flash/matching/min-cover.h:
  40-80, first phase): threshold-halving greedy — rounds with
  nowd = n/2, n/4, …: vertices whose REMAINING degree ≥ nowd join the
  cover and their covered edges are discounted; final sweep adds one
  endpoint of any still-uncovered edge. (The reference's refinement
  phase prunes redundant vertices; the rebuild keeps the greedy phase +
  validity sweep — the output is a valid cover either way and neither
  is canonical.)
- min_dominating_set: gs::MinDominatingSetFlash
  (/root/reference/analytical_engine/apps/flash/matching/
  min-dominating-set.h:45-90): rounds of 2-hop (degree, vid)-max
  election among undominated vertices; winners join the set and
  dominate their neighborhoods.

Spark shape per round (all): one or two joins of the stable symmetric
edge table against the shrinking active-vertex state + an aggregation;
the active set shrinks geometrically (Luby's argument), so O(log V)
rounds w.h.p.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.graph import LinkGraph
from graphscope_spark.runtime.superstep import (FixpointJob, StepMetrics,
                                                SuperstepRunner, free_truncated,
                                                truncate)


def _sym(graph: LinkGraph) -> DataFrame:
    return (graph.sym_edges() if graph.directed
            else graph.edges.select("src", "dst")).filter(
        F.col("src") != F.col("dst"))


def mis(graph: LinkGraph) -> DataFrame:
    """(vid, in_mis) — a maximal independent set, priority (deg, vid)
    ascending (deterministic; strictly unique even for sparse vids)."""
    sym = _sym(graph).select("src", "dst").distinct() \
        .persist(StorageLevel.MEMORY_AND_DISK)
    deg = sym.groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("deg"))
    init = (
        graph.vertices.select("vid").join(deg, "vid", "left")
        .select("vid",
                F.struct(F.coalesce("deg", F.lit(0)).alias("deg"),
                         F.col("vid").alias("vid")).alias("r"),
                F.lit(False).alias("in_mis"), F.lit(False).alias("excluded")))

    def step(state: DataFrame, step_no: int) -> DataFrame:
        active = state.filter(~F.col("in_mis") & ~F.col("excluded"))
        # min active-neighbor priority per active vertex
        nbr_min = (
            sym.join(active.select(F.col("vid").alias("src"),
                                   F.col("r").alias("rs")), "src")
            .groupBy(F.col("dst").alias("vid")).agg(F.min("rs").alias("mr"))
        )
        winners = (
            active.join(nbr_min, "vid", "left")
            .filter(F.col("mr").isNull() | (F.col("r") < F.col("mr")))
            .select("vid")
        )
        losers = (
            sym.join(winners.withColumnRenamed("vid", "src"), "src", "left_semi")
            .select(F.col("dst").alias("vid")).distinct()
        )
        in_mis = F.col("in_mis") | F.col("_w").isNotNull()
        excluded = F.col("excluded") | (F.col("_l").isNotNull() & F.col("_w").isNull())
        return (
            state
            .join(winners.withColumn("_w", F.lit(True)), "vid", "left")
            .join(losers.withColumn("_l", F.lit(True)), "vid", "left")
            .select("vid", "r", in_mis.alias("in_mis"),
                    excluded.alias("excluded"),
                    (~in_mis & ~excluded).alias("chg"))
        )

    runner = SuperstepRunner(graph.spark)

    def no_progress(m: StepMetrics) -> None:
        # unique priorities guarantee progress
        if len(runner.history) > 1 and runner.history[-2].scalars == m.scalars:
            raise RuntimeError("mis() made no progress — priority collision?")

    state, _ = runner.run(FixpointJob("mis", init, step), on_step=no_progress)
    sym.unpersist()
    return state.select("vid", "in_mis")


def maximal_matching(graph: LinkGraph,
                     max_rounds: int | None = None) -> DataFrame:
    """(vid, mate) — mate NULL when unmatched; mutual-max-proposal
    rounds until maximal (or until ``max_rounds``, giving a deterministic
    partial matching — the bounded-round contract variant)."""
    sym = _sym(graph).select("src", "dst").distinct() \
        .persist(StorageLevel.MEMORY_AND_DISK)

    def step(state: DataFrame, step_no: int) -> DataFrame:
        un = state.filter(F.col("mate").isNull()).select("vid")
        live = (
            sym.join(un.withColumnRenamed("vid", "src"), "src", "left_semi")
            .join(un.withColumnRenamed("vid", "dst"), "dst", "left_semi")
        )
        props = live.groupBy(F.col("src").alias("vid")) \
            .agg(F.max("dst").alias("p"))
        mutual = (
            props.alias("a")
            .join(props.alias("b"),
                  (F.col("a.p") == F.col("b.vid")) & (F.col("b.p") == F.col("a.vid")))
            .select(F.col("a.vid").alias("vid"), F.col("a.p").alias("newmate"))
        )
        return (state.join(mutual, "vid", "left")
                .select("vid", F.coalesce("newmate", "mate").alias("mate"),
                        F.col("newmate").isNotNull().alias("chg")))

    init = graph.vertices.select("vid", F.lit(None).cast("long").alias("mate"))
    state, _ = SuperstepRunner(graph.spark).run(
        FixpointJob("maximal_matching", init, step),
        max_steps=1_000_000 if max_rounds is None else max_rounds)
    sym.unpersist()
    return state.select("vid", "mate")


def min_edge_cover(graph: LinkGraph,
                   max_rounds: int | None = None) -> DataFrame:
    """(src, dst) canonical edges of an edge cover: maximal-matching
    edges + one incident edge per unmatched non-isolated vertex (its
    min-(deg, vid) neighbor)."""
    mm = maximal_matching(graph, max_rounds=max_rounds)
    matched_edges = (
        mm.filter(F.col("mate").isNotNull())
        .select(F.least("vid", "mate").alias("src"),
                F.greatest("vid", "mate").alias("dst"))
        .distinct()
    )
    sym = _sym(graph).select("src", "dst").distinct()
    deg = sym.groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("deg"))
    un = mm.filter(F.col("mate").isNull()).select("vid")
    pendant = (
        sym.join(un.withColumnRenamed("vid", "src"), "src", "left_semi")
        .join(deg.select(F.col("vid").alias("dst"), F.col("deg").alias("ddeg")),
              "dst")
        .groupBy("src")
        .agg(F.min(F.struct(F.col("ddeg"), F.col("dst"))).alias("m"))
        .select(F.least(F.col("src"), F.col("m.dst")).alias("src"),
                F.greatest(F.col("src"), F.col("m.dst")).alias("dst"))
    )
    return matched_edges.unionByName(pendant).distinct()


def min_vertex_cover(graph: LinkGraph) -> DataFrame:
    """(vid) — greedy threshold-halving vertex cover + validity sweep.

    Vertex state (vid, in_cover, chg): ``chg`` marks a vertex with an
    uncovered edge, so the uncovered edges are exactly the edges between
    two live vertices. Step s picks at threshold nowd = nowd_0 >> (s-1)
    while that exceeds 1; the next step is the sweep, which covers every
    remaining edge, so the job ends there."""
    edges = truncate(_sym(graph).select("src", "dst").distinct())
    nowd0 = max(2, graph.num_vertices // 2)

    def step(st: DataFrame, s: int) -> DataFrame:
        live = st.filter(F.col("chg")).select("vid")
        rest = (edges.join(live.withColumnRenamed("vid", "src"), "src", "left_semi")
                .join(live.withColumnRenamed("vid", "dst"), "dst", "left_semi"))
        nowd = nowd0 >> (s - 1)
        if nowd > 1:
            # a vertex of remaining degree >= nowd is picked; one stays
            # live if it is not and has a neighbor that is not either
            deg = rest.groupBy(F.col("dst").alias("vid")).agg(
                F.count("*").alias("ddeg"))
            per = (rest.join(deg.withColumnRenamed("vid", "dst"), "dst")
                   .groupBy(F.col("src").alias("vid"))
                   .agg((F.count("*") >= nowd).alias("_pick"),
                        F.max(F.col("ddeg") < nowd).alias("_open")))
            live = ~F.col("_pick") & F.col("_open")
        else:
            # validity sweep: every remaining edge gets its min endpoint
            # (covers all residual edges in one pass)
            per = rest.groupBy(F.col("src").alias("vid")).agg(
                F.max(F.col("src") < F.col("dst")).alias("_pick"))
            live = F.lit(False)
        return st.join(per, "vid", "left").select(
            "vid", (F.col("in_cover") | F.coalesce("_pick", F.lit(False)))
            .alias("in_cover"), F.coalesce(live, F.lit(False)).alias("chg"))

    state, _ = SuperstepRunner(graph.spark).run(FixpointJob(
        "min_vertex_cover", graph.vertices.select(
            "vid", F.lit(False).alias("in_cover"), F.lit(True).alias("chg")),
        step))
    free_truncated(edges)
    return state.filter(F.col("in_cover")).select("vid")


def min_dominating_set(graph: LinkGraph,
                       max_rounds: int | None = None) -> DataFrame:
    """(vid) — parallel greedy dominating set: 2-hop (deg, vid)-max
    election among undominated vertices per round (``max_rounds`` caps
    the rounds for the deterministic bounded contract variant).

    Per the reference's ``local2`` (min-dominating-set.h:85-90) the
    election priority is the RESIDUAL count of still-undominated
    neighbors, recomputed each round — at round 1 nothing is dominated,
    so the residual count equals the full degree the reference's ``init``
    uses, making per-round recomputation uniformly correct.

    Vertex state (vid, in_set, chg): ``chg`` marks a vertex not yet
    dominated; the job ends once every vertex is."""
    sym = _sym(graph).select("src", "dst").distinct() \
        .persist(StorageLevel.MEMORY_AND_DISK)

    def step(st: DataFrame, _s: int) -> DataFrame:
        active = st.filter(F.col("chg")).select("vid")
        loops = active.select(F.col("vid").alias("src"), F.col("vid").alias("dst"))
        # edges with BOTH endpoints undominated, plus a self-loop per
        # undominated vertex: its closed neighborhood, over which the
        # residual degree and the two max-propagation hops range
        closed = (
            sym.join(active.withColumnRenamed("vid", "src"), "src", "left_semi")
            .join(active.withColumnRenamed("vid", "dst"), "dst", "left_semi")
            .unionByName(loops))
        cur = closed.groupBy("src").agg(F.count("*").alias("n")).select(
            F.col("src").alias("vid"), F.struct(
                (F.col("n") - 1).alias("deg"), F.col("src").alias("mid")).alias("m"))
        for _ in range(2):
            cur = (closed.join(cur.withColumnRenamed("vid", "src"), "src")
                   .groupBy(F.col("dst").alias("vid")).agg(F.max("m").alias("m")))
        winners = cur.filter(F.col("m.mid") == F.col("vid")) \
            .select(F.col("vid").alias("src"))
        # a winner dominates its neighbors and itself (_w true)
        hit = (sym.unionByName(st.select(F.col("vid").alias("src"),
                                         F.col("vid").alias("dst")))
               .join(winners, "src")
               .groupBy(F.col("dst").alias("vid"))
               .agg(F.max(F.col("src") == F.col("dst")).alias("_w")))
        return st.join(hit, "vid", "left").select(
            "vid", (F.col("in_set") | F.coalesce("_w", F.lit(False))).alias("in_set"),
            (F.col("chg") & F.col("_w").isNull()).alias("chg"))

    state, _ = SuperstepRunner(graph.spark).run(
        FixpointJob("min_dominating_set", graph.vertices.select(
            "vid", F.lit(False).alias("in_set"), F.lit(True).alias("chg")),
            step), max_steps=1_000_000 if max_rounds is None else max_rounds)
    sym.unpersist()
    return state.filter(F.col("in_set")).select("vid")
