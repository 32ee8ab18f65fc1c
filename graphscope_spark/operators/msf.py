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

from functools import reduce

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from graphscope_spark.graph import LinkGraph
from graphscope_spark.runtime.superstep import (FixpointJob, SuperstepRunner,
                                                free_truncated, truncate)


def minimum_spanning_forest(graph: LinkGraph,
                            weight_col: str | None = None) -> DataFrame:
    """(src, dst, weight) rows of the minimum spanning forest (one tree
    per connected component; src < dst canonical). ``weight_col=None``
    means unit weights (any spanning forest is minimal; the
    tie-break-ordered one is returned)."""
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
    edges = truncate(e)

    comp = truncate(graph.vertices.select("vid", F.col("vid").alias("comp")))
    pieces = []
    while True:
        if len(pieces) >= 64:
            raise RuntimeError("boruvka did not terminate")
        # relabel endpoints by current component; the cross-component edge
        # count rides the materialization as an observed metric, so the
        # termination test costs no extra job
        obs = Observation()
        ec = truncate(
            edges.join(comp.select(F.col("vid").alias("src"),
                                   F.col("comp").alias("cs")), "src")
            .join(comp.select(F.col("vid").alias("dst"),
                              F.col("comp").alias("cd")), "dst")
            .filter(F.col("cs") != F.col("cd"))
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        if int(obs.get["n"]) == 0:
            free_truncated(ec)
            break
        # min outgoing edge per component (total order kills weight ties);
        # the picking component c is kept — it seeds the parent pointers
        cand = F.struct("w", "src", "dst", "cs", "cd")
        picks = truncate(
            ec.select(F.col("cs").alias("c"), cand.alias("e"))
            .unionByName(ec.select(F.col("cd").alias("c"), cand.alias("e")))
            .groupBy("c").agg(F.min("e").alias("e"))
            .select("c", "e.w", "e.src", "e.dst", "e.cs", "e.cd")
        )
        # mutual picks contribute the same edge twice — dedup for the forest.
        # Each round's piece is truncated ONCE and the pieces union lazily:
        # rewriting the accumulated forest every round would write O(k²)
        # rows over k rounds (and burn one extra job per round)
        pieces.append(truncate(picks.select(
            "src", "dst", F.col("w").alias("weight")).distinct()))
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

        def double(st: DataFrame, _s: int) -> DataFrame:
            hop = st.select(F.col("c").alias("_pc"), F.col("p").alias("_pp"))
            return st.join(hop, F.col("p") == F.col("_pc")).select(
                "c", F.col("_pp").alias("p"),
                (F.col("_pp") != F.col("p")).alias("chg"))

        par, _ = SuperstepRunner(graph.spark).run(FixpointJob(
            "msf_pointer_doubling",
            par.join(gp, F.col("p") == F.col("_jc"))
            .select("c", F.when(F.col("_jp") == F.col("c"), F.least("c", "p"))
                    .otherwise(F.col("p")).alias("p")), double))
        nxt = truncate(
            comp.join(par.select(F.col("c").alias("comp"), "p"), "comp", "left")
            .select("vid", F.coalesce("p", F.col("comp")).alias("comp")))
        for df in (ec, picks, par, comp):
            free_truncated(df)
        comp = nxt
    out = truncate(reduce(DataFrame.unionByName, pieces)) if pieces else \
        graph.spark.createDataFrame([], "src LONG, dst LONG, weight DOUBLE")
    for df in (edges, comp, *pieces):
        free_truncated(df)
    return out


def msf_weight(graph: LinkGraph, weight_col: str | None = None) -> float:
    """Total minimum-spanning-forest weight (the reference app's
    GlobalRes, msf.h:44)."""
    row = minimum_spanning_forest(graph, weight_col).agg(
        F.sum("weight").alias("s")).first()
    return float(row["s"] or 0.0)
