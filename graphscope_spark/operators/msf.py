"""Minimum spanning forest — distributed Borůvka.

Reference: gs::MSFFlash
(/root/reference/analytical_engine/apps/flash/measurement/msf.h:34-66)
computes the MSF weight by local Kruskal + a sequential merge reduction —
a shape that caps out at one worker's memory. The rebuild uses Borůvka
rounds instead, the textbook data-parallel MSF: every component picks its
minimum outgoing edge (one aggregation), the picked edges join the
forest, and components contract by pointer doubling over the picked-edge
pseudo-forest (exactly one pick per component, cycles only of length 2 —
rooted at the smaller member — so doubling reaches every root in
O(log depth) inner rounds) → O(log V) outer rounds of O(E) work, with
termination tests riding the materializations as observed metrics.

Determinism / correctness: edges are totally ordered by
(weight, min_endpoint, max_endpoint), so equal weights cannot form
cycles (the classic tie-breaking argument) and the forest is unique.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.graph import LinkGraph
from graphscope_spark.runtime.superstep import Truncator


def minimum_spanning_forest(graph: LinkGraph,
                            weight_col: str | None = None) -> DataFrame:
    """(src, dst, weight) rows of the minimum spanning forest (one tree
    per connected component; src < dst canonical). ``weight_col=None``
    means unit weights (any spanning forest is minimal; the
    tie-break-ordered one is returned)."""
    t = Truncator()
    if weight_col is None:
        e = graph.und_edges().filter(F.col("src") < F.col("dst")) \
            .select("src", "dst", F.lit(1.0).alias("w"))
    else:
        e = (
            graph.edges.filter(F.col("src") != F.col("dst"))
            .select(F.least("src", "dst").alias("src"),
                    F.greatest("src", "dst").alias("dst"),
                    F.col(weight_col).cast("double").alias("w"))
            .groupBy("src", "dst").agg(F.min("w").alias("w"))
        )
    edges = t(e, "edges")

    comp = t(graph.vertices.select("vid", F.col("vid").alias("comp")), "comp")
    forest = None
    guard = 0
    while True:
        guard += 1
        if guard > 64:
            raise RuntimeError("boruvka did not terminate")
        # relabel endpoints by current component; the cross-component edge
        # count rides the materialization as an observed metric, so the
        # termination test costs no extra job
        obs = Observation()
        ec = (
            edges.join(comp.select(F.col("vid").alias("src"),
                                   F.col("comp").alias("cs")), "src")
            .join(comp.select(F.col("vid").alias("dst"),
                              F.col("comp").alias("cd")), "dst")
            .filter(F.col("cs") != F.col("cd"))
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        ec = t(ec, "ec")
        if int(obs.get["n"]) == 0:
            break
        # min outgoing edge per component (total order kills weight ties);
        # the picking component c is kept — it seeds the parent pointers
        cand = F.struct("w", "src", "dst", "cs", "cd")
        picks = (
            ec.select(F.col("cs").alias("c"), cand.alias("e"))
            .unionByName(ec.select(F.col("cd").alias("c"), cand.alias("e")))
            .groupBy("c").agg(F.min("e").alias("e"))
            .select("c", "e.w", "e.src", "e.dst", "e.cs", "e.cd")
        )
        picks = t(picks, "picks")
        # mutual picks contribute the same edge twice — dedup for the forest.
        # Each round's piece is truncated ONCE and the pieces union lazily:
        # rewriting the accumulated forest every round would write O(k²)
        # rows over k rounds (and burn one extra job per round)
        piece = t(picks.select("src", "dst",
                               F.col("w").alias("weight")).distinct(),
                  f"piece{guard}")
        forest = piece if forest is None else forest.unionByName(piece)
        # contract via pointer doubling: each participating component's
        # parent is the far endpoint of its own pick.  The picked graph is
        # a functional pseudo-forest whose only cycles are 2-cycles
        # (mutual minimum edges — the total order forbids longer cycles),
        # so rooting the smaller member of each 2-cycle and then doubling
        # (p <- parent(p)) reaches every root in O(log depth) rounds —
        # exponentially faster than the one-hop-per-round HashMin this
        # replaces when contraction chains are long.
        par = picks.select(
            "c", F.when(F.col("cs") == F.col("c"), F.col("cd"))
                  .otherwise(F.col("cs")).alias("p"))
        # every parent is itself a picking component, so one total join
        # finds each row's grandparent; gp == c marks the 2-cycle members
        gp = par.select(F.col("c").alias("_jc"), F.col("p").alias("_jp"))
        par = t(
            par.join(gp, F.col("p") == F.col("_jc"))
            .select("c", F.when(F.col("_jp") == F.col("c"),
                                F.least("c", "p"))
                    .otherwise(F.col("p")).alias("p")),
            "par")
        while True:
            dobs = Observation()
            hop = par.select(F.col("c").alias("_pc"), F.col("p").alias("_pp"))
            par = t(
                par.join(hop, F.col("p") == F.col("_pc"))
                .observe(dobs, F.sum((F.col("_pp") != F.col("p"))
                                     .cast("long")).alias("chg"))
                .select("c", F.col("_pp").alias("p")),
                "par")
            if int(dobs.get["chg"] or 0) == 0:
                break
        comp = t(
            comp.join(par.withColumnRenamed("c", "comp"), "comp", "left")
            .select("vid", F.coalesce("p", F.col("comp")).alias("comp")),
            "comp",
        )
    out = t(forest, "out") if forest is not None else \
        graph.spark.createDataFrame([], "src LONG, dst LONG, weight DOUBLE")
    for slot in ("edges", "comp", "ec", "picks", "par",
                 *(f"piece{k}" for k in range(1, guard + 1))):
        t.free(slot)
    return out


def msf_weight(graph: LinkGraph, weight_col: str | None = None) -> float:
    """Total minimum-spanning-forest weight (the reference app's
    GlobalRes, msf.h:44)."""
    row = minimum_spanning_forest(graph, weight_col).agg(
        F.sum("weight").alias("s")).first()
    return float(row["s"] or 0.0)
