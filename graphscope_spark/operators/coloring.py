"""Greedy graph coloring + fluid communities.

Reference:
- color: gs::ColorFlash
  (/root/reference/analytical_engine/apps/flash/clustering/color.h:43-84):
  iterate: every vertex collects the colors of its HIGHER-((degree, id))
  ordered neighbors and takes the mex (minimum excluded color); repeat
  until fixpoint. Higher-ordered vertices stabilize first, so the loop
  terminates in ≤ longest-decreasing-path rounds — the Jones–Plassmann
  schedule with a deterministic priority.
- fluid_community: gs::FluidCommunityFlash
  (/root/reference/analytical_engine/apps/flash/clustering/
  fluid-community.h:42-105): s seed vertices found communities; each
  round a vertex adopts the community with max density sum
  Σ 1/|community| over itself + neighbors, with strict-improvement
  hysteresis (1e-10). The reference seeds with rand_r(time(NULL)) and
  updates asynchronously; the rebuild hash-samples seeds deterministically
  and runs synchronous rounds (documented divergence — the reference's
  own output is run-dependent, so its tests can't byte-compare either).

Spark shape per round (both): one join of the stable edge table against
the label state + one aggregation; mex is computed with array functions
(sequence/array_except) — no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.graph import LinkGraph
from graphscope_spark.operators.traversal import sample_pivots
from graphscope_spark.operators.triangles import oriented_edges
from graphscope_spark.runtime.superstep import Truncator


def color(graph: LinkGraph, max_rounds: int = 10_000) -> DataFrame:
    """(vid, color) — deterministic greedy coloring; adjacent vertices
    always differ; colors are dense small ints per neighborhood."""
    t = Truncator()
    # oriented src→dst has src ≻ dst: group by dst = collect higher nbrs
    hi = oriented_edges(graph)  # graph-lifetime cached view
    state = t(graph.vertices.select("vid", F.lit(0).alias("c")), "state")
    for _ in range(max_rounds):
        nbr_colors = (
            hi.join(state.withColumnRenamed("vid", "src")
                    .withColumnRenamed("c", "sc"), "src")
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.collect_set("sc").alias("used"))
        )
        # mex = min of (0..|used|) minus used
        mex = F.array_min(F.array_except(
            F.sequence(F.lit(0), F.size("used")), F.col("used")))
        newc = F.when(F.col("used").isNull(), F.lit(0)).otherwise(mex)
        new_state = (
            state.join(nbr_colors, "vid", "left")
            .select("vid", newc.alias("c"), (newc != F.col("c")).alias("chg"))
        )
        new_state = t(new_state, "state")
        changed = new_state.agg(F.sum(F.col("chg").cast("long"))).first()[0] or 0
        state = new_state.drop("chg")
        if changed == 0:
            break
    else:
        # returning a mid-iteration state could violate the properness
        # guarantee in the docstring — fail loudly like msf/core_numbers
        raise RuntimeError(
            f"color() did not converge within {max_rounds} rounds")
    return state.select("vid", F.col("c").alias("color"))


def fluid_community(graph: LinkGraph, num_communities: int = 10,
                    max_rounds: int = 100, seed: int = 42,
                    seeds: list[int] | None = None) -> DataFrame:
    """(vid, community) — community = seed index 0..s-1, NULL for
    vertices no community reached (disconnected from every seed).
    ``seeds`` overrides the hash-sampled pivots with explicit seed
    vertices (index = position in the sorted list)."""
    t = Truncator()
    if seeds is None:
        seeds = sample_pivots(graph, num_communities, seed)
    spark = graph.spark
    seed_df = spark.createDataFrame(
        [(int(v), i) for i, v in enumerate(sorted(seeds))], "vid LONG, lab INT")
    sym = (graph.sym_edges() if graph.directed
           else graph.edges.select("src", "dst"))
    state = t(
        graph.vertices.select("vid").join(F.broadcast(seed_df), "vid", "left"),
        "state")
    for _ in range(max_rounds):
        cnt = state.filter(F.col("lab").isNotNull()) \
            .groupBy("lab").agg(F.count("*").alias("cnt"))
        labeled = state.filter(F.col("lab").isNotNull()) \
            .join(F.broadcast(cnt), "lab") \
            .select("vid", "lab", (F.lit(1.0) / F.col("cnt")).alias("d"))
        nbr = (
            sym.join(labeled.withColumnRenamed("vid", "src"), "src")
            .select(F.col("dst").alias("vid"), "lab", "d")
        )
        dens = labeled.select("vid", "lab", "d").unionByName(nbr) \
            .groupBy("vid", "lab").agg(F.sum("d").alias("d"))
        # argmax density, smallest label on ties (the reference scans
        # labels ascending and requires strict improvement)
        best = (
            dens.groupBy("vid")
            .agg(F.max(F.struct(F.col("d"), (-F.col("lab")).alias("nl"))).alias("b"))
            .select("vid", (-F.col("b.nl")).cast("int").alias("blab"),
                    F.col("b.d").alias("bd"))
        )
        # current density of own label (for the strict-improvement check)
        own = dens.select(F.col("vid").alias("_v"), F.col("lab").alias("_l"),
                          F.col("d").alias("own_d"))
        newlab = F.when(
            F.col("blab").isNotNull()
            & (F.col("oldlab").isNull()
               | (F.col("bd") > F.coalesce("own_d", F.lit(0.0)) + 1e-10)),
            F.col("blab"),
        ).otherwise(F.col("oldlab"))
        new_state = (
            state.withColumnRenamed("lab", "oldlab")
            .join(best, "vid", "left")
            .join(own, (F.col("vid") == F.col("_v"))
                  & (F.col("oldlab") == F.col("_l")), "left")
            .select(
                "vid", newlab.alias("lab"),
                (F.coalesce(newlab, F.lit(-1))
                 != F.coalesce(F.col("oldlab"), F.lit(-1))).alias("chg"),
            )
        )
        new_state = t(new_state, "state")
        changed = new_state.agg(F.sum(F.col("chg").cast("long"))).first()[0] or 0
        state = new_state.drop("chg")
        if changed == 0:
            break
    return state.select("vid", F.col("lab").alias("community"))
