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
from graphscope_spark.runtime.superstep import Truncator


def _sym(graph: LinkGraph) -> DataFrame:
    return (graph.sym_edges() if graph.directed
            else graph.edges.select("src", "dst")).filter(
        F.col("src") != F.col("dst"))


def mis(graph: LinkGraph) -> DataFrame:
    """(vid, in_mis) — a maximal independent set, priority (deg, vid)
    ascending (deterministic; strictly unique even for sparse vids)."""
    t = Truncator()
    sym = _sym(graph).select("src", "dst").distinct() \
        .persist(StorageLevel.MEMORY_AND_DISK)
    deg = sym.groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("deg"))
    state = t(
        graph.vertices.select("vid").join(deg, "vid", "left")
        .select("vid",
                F.struct(F.coalesce("deg", F.lit(0)).alias("deg"),
                         F.col("vid").alias("vid")).alias("r"),
                F.lit(False).alias("in_mis"), F.lit(False).alias("excluded")),
        "state")
    prev_remaining = -1
    while True:
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
        new_state = (
            state
            .join(winners.withColumn("_w", F.lit(True)), "vid", "left")
            .join(losers.withColumn("_l", F.lit(True)), "vid", "left")
            .select(
                "vid", "r",
                (F.col("in_mis") | F.col("_w").isNotNull()).alias("in_mis"),
                (F.col("excluded")
                 | (F.col("_l").isNotNull() & F.col("_w").isNull())).alias("excluded"),
                (F.col("_w").isNotNull() | F.col("_l").isNotNull()).alias("chg"),
            )
        )
        new_state = t(new_state, "state")
        remaining = new_state.filter(~F.col("in_mis") & ~F.col("excluded")).count()
        state = new_state.drop("chg")
        if remaining == 0:
            break
        if remaining == prev_remaining:  # unique priorities guarantee progress
            raise RuntimeError("mis() made no progress — priority collision?")
        prev_remaining = remaining
    sym.unpersist()
    return state.select("vid", "in_mis")


def maximal_matching(graph: LinkGraph,
                     max_rounds: int | None = None) -> DataFrame:
    """(vid, mate) — mate NULL when unmatched; mutual-max-proposal
    rounds until maximal (or until ``max_rounds``, giving a deterministic
    partial matching — the bounded-round contract variant)."""
    t = Truncator()
    sym = _sym(graph).select("src", "dst").distinct() \
        .persist(StorageLevel.MEMORY_AND_DISK)
    state = t(graph.vertices.select(
        "vid", F.lit(None).cast("long").alias("mate")), "state")
    rnd = 0
    while max_rounds is None or rnd < max_rounds:
        rnd += 1
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
        matched = mutual.count()
        if matched == 0:
            break
        state = t(
            state.join(mutual, "vid", "left")
            .select("vid", F.coalesce("newmate", "mate").alias("mate")),
            "state")
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
    """(vid) — greedy threshold-halving vertex cover + validity sweep."""
    t = Truncator()
    n = graph.num_vertices
    edges = t(_sym(graph).select("src", "dst").distinct(), "edges")
    cover = None
    nowd = max(2, n // 2)
    while True:
        if nowd > 1:
            deg = edges.groupBy(F.col("src").alias("vid")).agg(
                F.count("*").alias("deg"))
            picked = t(deg.filter(F.col("deg") >= nowd).select("vid"), "picked")
            if not picked.isEmpty():
                cover = picked if cover is None else cover.unionByName(picked)
                cover = t(cover, "cover")
                edges = t(
                    edges.join(picked.withColumnRenamed("vid", "src"), "src",
                               "left_anti")
                    .join(picked.withColumnRenamed("vid", "dst"), "dst",
                          "left_anti"),
                    "edges")
            if edges.isEmpty():
                break
            nowd //= 2
        else:
            # validity sweep: every remaining edge gets its min endpoint
            # (covers all residual edges in one pass)
            rest = edges.filter(F.col("src") < F.col("dst")) \
                .select(F.col("src").alias("vid")).distinct()
            cover = t(rest if cover is None else cover.unionByName(rest), "cover")
            break
    out = (cover.distinct() if cover is not None
           else graph.spark.createDataFrame([], "vid LONG"))
    out = t(out, "out")
    for slot in ("edges", "picked", "cover"):
        t.free(slot)
    return out


def min_dominating_set(graph: LinkGraph,
                       max_rounds: int | None = None) -> DataFrame:
    """(vid) — parallel greedy dominating set: 2-hop (deg, vid)-max
    election among undominated vertices per round (``max_rounds`` caps
    the rounds for the deterministic bounded contract variant).

    Per the reference's ``local2`` (min-dominating-set.h:85-90) the
    election priority is the RESIDUAL count of still-undominated
    neighbors, recomputed each round — at round 1 nothing is dominated,
    so the residual count equals the full degree the reference's ``init``
    uses, making per-round recomputation uniformly correct."""
    t = Truncator()
    sym = _sym(graph).select("src", "dst").distinct() \
        .persist(StorageLevel.MEMORY_AND_DISK)
    state = t(
        graph.vertices.select(
            "vid", F.lit(False).alias("dominated"), F.lit(False).alias("in_set")),
        "state")
    rnd = 0
    while max_rounds is None or rnd < max_rounds:
        rnd += 1
        active = state.filter(~F.col("dominated")).select("vid")
        if active.isEmpty():
            break
        # edges with BOTH endpoints undominated: used for the residual
        # degree and for the two max-propagation hops
        act_edges = t(
            sym.join(active.withColumnRenamed("vid", "src"), "src", "left_semi")
            .join(active.withColumnRenamed("vid", "dst"), "dst", "left_semi"),
            "act")
        rdeg = act_edges.groupBy(F.col("src").alias("vid")).agg(
            F.count("*").alias("deg"))
        cur = (
            active.join(rdeg, "vid", "left")
            .select("vid", F.struct(
                F.coalesce("deg", F.lit(0)).alias("deg"),
                F.col("vid").alias("mid")).alias("m"))
        )
        for _ in range(2):
            nbr = (
                act_edges.join(cur.withColumnRenamed("vid", "src"), "src")
                .groupBy(F.col("dst").alias("vid")).agg(F.max("m").alias("nm"))
            )
            cur = (
                cur.join(nbr, "vid", "left")
                .select("vid", F.greatest("m", F.coalesce("nm", "m")).alias("m"))
            )
        winners = cur.filter(F.col("m.mid") == F.col("vid")).select("vid")
        winners = t(winners, "winners")
        dominated = (
            sym.join(winners.withColumnRenamed("vid", "src"), "src", "left_semi")
            .select(F.col("dst").alias("vid")).distinct()
            .unionByName(winners).distinct()
        )
        state = t(
            state
            .join(winners.withColumn("_w", F.lit(True)), "vid", "left")
            .join(dominated.withColumn("_d", F.lit(True)), "vid", "left")
            .select("vid",
                    (F.col("dominated") | F.col("_d").isNotNull()).alias("dominated"),
                    (F.col("in_set") | F.col("_w").isNotNull()).alias("in_set")),
            "state")
    sym.unpersist()
    out = t(state.filter(F.col("in_set")).select("vid"), "out")
    for slot in ("winners", "act", "state"):
        t.free(slot)
    return out
