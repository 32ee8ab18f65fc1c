"""SimRank — structural-context similarity on the pair graph.

Jeh & Widom, "SimRank: A Measure of Structural-Context Similarity"
(KDD'02): s(a,a) = 1 and, for a != b,

    s(a,b) = C / (|I(a)|·|I(b)|) · Σ_{i ∈ I(a), j ∈ I(b)} s(i,j)

with s(a,b) = 0 when either in-neighborhood is empty.  The reference has
no SimRank app (its registry covers PageRank-family and path measures);
this extends the link-graph similarity surface the same way anf.py and
ktruss.py do — beyond-reference, with the same superstep discipline.

Spark-first shape: the iterate IS a sparse matrix product over the pair
graph, so each round is two edge joins + one aggregate —

    S_{t+1}(a,b) = C/(d_a·d_b) · Σ S_t(i,j)   over (i→a), (j→b) edges

expressed as S ⋈ edges (i = src) ⋈ edges (j = src), groupBy (a, b),
sum, scaled by broadcast in-degrees, diagonal re-pinned to 1.  All
JVM-side; no UDFs.  State is the nonzero pair set only: S_0 is the
diagonal, and round t reaches exactly the pairs with a common-ancestor
path of length t — the co-citation closure, NOT V².

100 TB stance: the exact pair closure still grows toward the number of
co-reachable pairs, so the scale path is the standard truncated SimRank:
``min_score`` prunes pairs whose score falls under the threshold before
they fan out (the pruned mass is bounded by C·min_score per round, the
usual truncation argument), and hub vertices (huge |I(v)|) damp
themselves through the 1/(d_a·d_b) factor.  Each round is truncated by
the stats-resetting ``Truncator`` of runtime/superstep.py, identical to
the other driver-loop operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.graph import LinkGraph
from graphscope_spark.runtime.superstep import Truncator

__all__ = ["simrank"]


def simrank(graph: LinkGraph, c: float = 0.8, iterations: int = 3,
            min_score: float = 0.0) -> DataFrame:
    """(u, v, score) for every nonzero-similarity pair with u != v after
    ``iterations`` rounds (the diagonal is identically 1 and omitted).
    Pairs never reached stay at similarity 0 and are not emitted.

    ``min_score`` > 0 switches to truncated SimRank: a pair is dropped
    the round its score falls below the threshold (scale guard for the
    pair-closure growth)."""
    if not 0.0 < c < 1.0:
        raise ValueError(f"simrank: damping C must be in (0, 1); got {c}")
    # directed: classic in-neighbor recursion; undirected LinkGraphs
    # store both orientations, so in-neighbors == neighbors as expected
    edges = graph.edges.select("src", "dst") \
        .persist(StorageLevel.MEMORY_AND_DISK)
    indeg = edges.groupBy(F.col("dst").alias("vid")) \
        .agg(F.count("*").alias("deg"))
    t = Truncator()
    # sparse state: the diagonal (score 1) — off-diagonal zeros implicit
    state = t(graph.vertices.select(
        F.col("vid").alias("u"), F.col("vid").alias("v"),
        F.lit(1.0).alias("score")), "state")
    for _ in range(iterations):
        prod = (
            state
            .join(edges.select(F.col("src").alias("u"),
                               F.col("dst").alias("a")), "u")
            .join(edges.select(F.col("src").alias("v"),
                               F.col("dst").alias("b")), "v")
            .filter(F.col("a") != F.col("b"))
            .groupBy("a", "b").agg(F.sum("score").alias("ssum"))
            .join(indeg.select(F.col("vid").alias("a"),
                               F.col("deg").alias("da")), "a")
            .join(indeg.select(F.col("vid").alias("b"),
                               F.col("deg").alias("db")), "b")
            .select(F.col("a").alias("u"), F.col("b").alias("v"),
                    (F.lit(c) / (F.col("da") * F.col("db"))
                     * F.col("ssum")).alias("score"))
        )
        if min_score > 0.0:
            prod = prod.filter(F.col("score") >= min_score)
        state = t(graph.vertices.select(
            F.col("vid").alias("u"), F.col("vid").alias("v"),
            F.lit(1.0).alias("score")).unionByName(prod), "state")
    out = state.filter(F.col("u") != F.col("v"))
    edges.unpersist()
    return out
