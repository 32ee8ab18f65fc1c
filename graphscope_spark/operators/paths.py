"""Path utilities: sssp derivations, simple-path checks, voterank.

Reference:
- sssp_average_length / sssp_has_path / sssp_path (registry yaml:103-122,
  /root/reference/analytical_engine/apps/sssp/*): scalar/boolean/path
  derivations of the SSSP distance field.
- is_simple_path (/root/reference/analytical_engine/apps/simple_path/
  is_simple_path.h, yaml:270): NX semantics — the node list is a path in
  the graph with no repeated nodes.
- voterank (/root/reference/analytical_engine/apps/voterank/voterank.h,
  yaml:299): NX VoteRank — iterated election: score(v) = Σ voting
  ability of in-neighbors; elect argmax (min-vid tie-break), zero its
  ability, discount out-neighbors' ability by 1/⟨k⟩.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.graph import LinkGraph
from graphscope_spark.operators.traversal import sssp
from graphscope_spark.runtime.superstep import Truncator


def sssp_average_length(graph: LinkGraph, source: int,
                        weight_col: str | None = None) -> float:
    """Mean finite shortest-path distance from source (excl. the source
    itself; reference sssp_average_length.h)."""
    d = sssp(graph, source, weight_col)
    row = d.filter((F.col("dist") != float("inf")) & (F.col("vid") != source)) \
        .agg(F.avg("dist").alias("a")).first()
    return float(row["a"]) if row["a"] is not None else 0.0


def sssp_has_path(graph: LinkGraph, source: int, target: int,
                  weight_col: str | None = None) -> bool:
    d = sssp(graph, source, weight_col)
    row = d.filter(F.col("vid") == target).first()
    return row is not None and row["dist"] != float("inf")


def is_simple_path(graph: LinkGraph, path: list[int]) -> bool:
    """True iff ``path`` is a sequence of distinct vertices each
    consecutive pair of which is an edge (NX semantics: a single existing
    vertex is a simple path; empty is not)."""
    if len(path) == 0:
        return False
    if len(set(path)) != len(path):
        return False
    spark = graph.spark
    if len(path) == 1:
        return graph.vertices.filter(F.col("vid") == path[0]).count() == 1
    pairs = spark.createDataFrame(
        list(zip(path[:-1], path[1:])), "src LONG, dst LONG")
    found = pairs.join(graph.edges.select("src", "dst"), ["src", "dst"], "left_semi")
    return found.count() == len(path) - 1


def voterank(graph: LinkGraph, num_seeds: int = 10) -> list[int]:
    """NX VoteRank: returns the elected seed vertices in election order.
    Each round is one join+agg over the edge table; ``num_seeds`` rounds.
    Ties break to the smallest vid (NX's is dict-order; we fix it for
    determinism)."""
    spark = graph.spark
    sym = graph.sym_edges() if graph.directed else graph.edges.select("src", "dst")
    n = graph.num_vertices
    avg_k = (graph.und_degrees().agg(F.avg("deg")).first()[0] or 1.0)
    discount = 1.0 / avg_k
    t = Truncator()
    ability = graph.vertices.select(
        "vid", F.lit(1.0).alias("ability")).persist(StorageLevel.MEMORY_AND_DISK)
    elected: list[int] = []
    for _ in range(min(num_seeds, n)):
        score = (
            sym.join(ability.withColumnRenamed("vid", "src"), "src")
            .groupBy("dst").agg(F.sum("ability").alias("score"))
        )
        if elected:
            score = score.filter(~F.col("dst").isin(elected))
        top = score.orderBy(F.col("score").desc(), F.col("dst").asc()).first()
        if top is None or top["score"] <= 0:
            break
        winner = int(top["dst"])
        elected.append(winner)
        # zero the winner's ability; discount its out-neighbors
        nbrs = sym.filter(F.col("src") == winner).select(
            F.col("dst").alias("vid")).distinct()
        new_ability = (
            ability.join(nbrs.withColumn("_d", F.lit(discount)), "vid", "left")
            .select(
                "vid",
                F.when(F.col("vid") == winner, F.lit(0.0))
                .otherwise(F.greatest(
                    F.col("ability") - F.coalesce("_d", F.lit(0.0)), F.lit(0.0)))
                .alias("ability"),
            )
        )
        new_ability = t(new_ability, "ability")
        ability.unpersist()
        ability = new_ability
    ability.unpersist()
    t.close()
    return elected
