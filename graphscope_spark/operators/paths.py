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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.graph import LinkGraph
from graphscope_spark.operators.traversal import sssp
from graphscope_spark.runtime.superstep import (FixpointJob, SuperstepRunner,
                                                free_truncated)


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
    Each round is one aggregation over the out-neighbor lists;
    ``num_seeds`` rounds. Ties break to the smallest vid (NX's is
    dict-order; we fix it for determinism).

    Vertex state (vid, nbrs, ability, elected, chg) carries each
    vertex's out-neighbor list, so a round joins no edge table: the
    votes are the exploded lists, the election is in-plan, ``elected``
    holds the winner's round and ``chg`` marks it. The job ends at the
    first round with no winner (no unelected vertex with a positive
    score); one collect of the winners follows the run."""
    sym = graph.sym_edges() if graph.directed else graph.edges.select("src", "dst")
    avg_k = (graph.und_degrees().agg(F.avg("deg")).first()[0] or 1.0)
    discount = 1.0 / avg_k
    adj = sym.groupBy(F.col("src").alias("vid")).agg(F.collect_list("dst").alias("nbrs"))
    init = graph.vertices.select("vid").join(adj, "vid", "left").select(
        "vid", F.coalesce("nbrs", F.array().cast("array<long>")).alias("nbrs"),
        F.lit(1.0).alias("ability"), F.lit(None).cast("int").alias("elected"))

    def step(st: DataFrame, rnd: int) -> DataFrame:
        # score, elected-ness and the list per vertex in one aggregation
        # over the votes and the vertex's own row (ability 0)
        score = (
            st.select(F.explode("nbrs").alias("vid"), "ability")
            .unionByName(st.select("vid", "nbrs", F.lit(0.0).alias("ability"),
                                   F.col("elected").isNotNull().alias("_e")),
                         allowMissingColumns=True)
            .groupBy("vid").agg(F.sum("ability").alias("score"),
                                F.max("_e").alias("_e"), F.max("nbrs").alias("nbrs"))
        )
        win = score.filter(F.col("_e") == F.lit(False)) \
            .filter(F.col("score") > 0).agg(F.max(F.struct(
                "score", (-F.col("vid")).alias("nv"), "nbrs")).alias("m"))
        # the winner (position 0, _w true) and its distinct out-neighbors
        hit = win.select(F.posexplode(F.array_union(
            F.array(-F.col("m.nv")), F.col("m.nbrs")))) \
            .select(F.col("col").alias("vid"), (F.col("pos") == 0).alias("_w"))
        won = F.coalesce("_w", F.lit(False))
        return st.join(hit, "vid", "left").select(
            "vid", "nbrs",
            # zero the winner's ability; discount its out-neighbors
            F.when(won, F.lit(0.0)).otherwise(F.greatest(
                F.col("ability") - F.when(F.col("_w").isNotNull(), F.lit(discount))
                .otherwise(F.lit(0.0)), F.lit(0.0))).alias("ability"),
            F.when(won, F.lit(rnd)).otherwise(F.col("elected")).alias("elected"),
            won.alias("chg"))

    state, _ = SuperstepRunner(graph.spark).run(
        FixpointJob("voterank", init, step),
        max_steps=min(num_seeds, graph.num_vertices))
    won = state.filter(F.col("elected").isNotNull()).select("vid", "elected").collect()
    free_truncated(state)
    return [r["vid"] for r in sorted(won, key=lambda r: r["elected"])]
