"""k-truss decomposition — iterative edge-support peeling.

Beyond the reference's registry (its cohesive-subgraph family stops at
k-core/k-shell/onion, apps/flash/core/*), k-truss is the edge-level
analogue every large-graph toolkit pairs with it: the maximal subgraph in
which every edge closes at least k-2 triangles *within the subgraph*
(Cohen 2008). The peel loop reuses the triangle-counting shape the
reference uses for gs::Triangles
(/root/reference/analytical_engine/apps/clustering/triangles.h:70-139):
each round degree-orders the surviving edge set, lists triangles by a
two-hop join closed by a third, credits each triangle to its three edges,
and drops edges with support < k-2 until a fixpoint.

Scale shape: the orientation bounds the wedge-join fan-out to
O(sqrt(E)) per vertex exactly as in triangle counting; each round is two
joins + one aggregation over a strictly shrinking edge set; the
driver-side loop truncates lineage per round (stats-reset ``truncate`` —
the house rule for driver loops, see runtime/superstep.py) so plan cost
stays flat however many peel rounds the graph needs.

Support counts are orientation-independent, so a SQL oracle can replay a
bounded number of rounds with the simpler canonical (src<dst)
orientation and match values exactly (the ktruss_4_2r contract query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from graphscope_spark.graph import LinkGraph
from graphscope_spark.runtime.superstep import Truncator, truncate


def _canonical_edges(graph: LinkGraph) -> DataFrame:
    """Each undirected edge once, as (src, dst) with src < dst."""
    e = graph.und_edges().select("src", "dst")
    return e.filter(F.col("src") < F.col("dst"))


def _edge_support(edges: DataFrame) -> DataFrame:
    """(src, dst, support) for a canonical (src<dst) simple edge set:
    support = number of triangles the edge participates in.

    Degree-ordered orientation first (higher-(degree,id) endpoint →
    lower), so the wedge join's per-vertex fan-out is O(sqrt(E)) on any
    degree distribution — the same hub bound the reference gets from its
    ordered set intersections."""
    deg = (
        edges.select(F.col("src").alias("vid"))
        .unionAll(edges.select(F.col("dst").alias("vid")))
        .groupBy("vid").agg(F.count("*").alias("deg"))
    )
    ds = deg.select(F.col("vid").alias("src"), F.col("deg").alias("sdeg"))
    dd = deg.select(F.col("vid").alias("dst"), F.col("deg").alias("ddeg"))
    ed = edges.join(ds, "src").join(dd, "dst")
    fwd = (F.col("sdeg") < F.col("ddeg")) | (
        (F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst")))
    o = ed.select(
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("src"),
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("dst"))

    e1 = o.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = o.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = o.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tris = e1.join(e2, "b").join(e3, ["a", "c"])

    # credit each triangle to its three edges, re-canonicalized
    sides = tris.select(
        F.array(
            F.struct(F.least("a", "b").alias("s"), F.greatest("a", "b").alias("d")),
            F.struct(F.least("b", "c").alias("s"), F.greatest("b", "c").alias("d")),
            F.struct(F.least("a", "c").alias("s"), F.greatest("a", "c").alias("d")),
        ).alias("es")
    ).select(F.explode("es").alias("e")).select(
        F.col("e.s").alias("src"), F.col("e.d").alias("dst"))
    sup = sides.groupBy("src", "dst").agg(F.count("*").alias("support"))
    return edges.join(sup, ["src", "dst"], "left").select(
        "src", "dst",
        F.coalesce("support", F.lit(0)).cast("long").alias("support"))


def ktruss(graph: LinkGraph, k: int, max_rounds: int | None = None) -> DataFrame:
    """Edges of the k-truss → (src, dst, support), src < dst; ``support``
    is the edge's triangle count at the last evaluated round.

    ``max_rounds`` bounds the peel (useful for bounded-round oracles and
    for incremental passes); ``None`` runs to the fixpoint."""
    if k < 3:
        raise ValueError(f"k-truss requires k >= 3 (got {k})")
    t = Truncator()
    edges = t(_canonical_edges(graph), "edges")
    rounds = 0
    try:
        while True:
            supported = t(_edge_support(edges), "sup")
            n_before = supported.count()
            survivors = supported.filter(F.col("support") >= k - 2)
            n_after = survivors.count()
            rounds += 1
            if n_after == n_before or n_after == 0 or (
                    max_rounds is not None and rounds >= max_rounds):
                # final state still referenced by the caller: truncate a
                # copy OUT of the Truncator (independent block set) so
                # t.close() can free every loop checkpoint
                return truncate(survivors)
            edges = t(survivors.select("src", "dst"), "edges")
    finally:
        t.close()


def truss_number_max(graph: LinkGraph, k_start: int = 3) -> int:
    """Largest k (>= 2) with a non-empty k-truss — the graph's
    trussness. Returns 0 for an edgeless graph (every truss is empty).

    Any non-empty edge set is a non-empty 2-truss (the support
    condition k-2 = 0 is vacuous), so every reported level is VERIFIED
    non-empty: the scan only advances to k+1 after the (k+1)-truss peel
    leaves survivors. ``k_start > 3`` is a jump hint — one peel checks
    the (k_start-1)-truss directly; if the hint overshoots the true
    trussness (that peel empties), the scan falls back to the full
    ascending peel from k=2 instead of reporting the unverified
    k_start-1. The (k+1)-truss is a subgraph of the k-truss, so each
    ascent level peels the previous level's survivors, not the full
    graph."""
    t = Truncator()
    try:
        base = t(_canonical_edges(graph), "edges")
        if base.count() == 0:
            return 0

        def peel(edges: DataFrame, k: int) -> DataFrame | None:
            """k-truss of ``edges`` (threshold k-2, to fixpoint), or
            None when it is empty."""
            while True:
                supported = t(_edge_support(edges), "sup")
                survivors = supported.filter(F.col("support") >= k - 2)
                n_before, n_after = supported.count(), survivors.count()
                if n_after == 0:
                    return None
                edges = t(survivors.select("src", "dst"), "edges")
                if n_after == n_before:
                    return edges

        k, edges = 2, base
        if k_start > 3:
            jump = peel(base, k_start - 1)
            if jump is not None:
                k, edges = k_start - 1, jump
        while True:
            nxt = peel(edges, k + 1)
            if nxt is None:
                return k
            k, edges = k + 1, nxt
    finally:
        t.close()
