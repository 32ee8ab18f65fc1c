"""k-center — greedy farthest-first traversal.

Reference: gs::KCenterFlash
(/root/reference/analytical_engine/apps/flash/measurement/k-center.h:
43-78): first center = max-degree vertex; repeat k times: BFS from the
newest center improving every vertex's distance-to-nearest-center, then
pick the farthest vertex as the next center. Result = per-vertex
distance to the nearest of the k centers (the classic 2-approximation of
the k-center objective). Unreached vertices keep the INT_MAX sentinel
(here: NULL → next-center candidates first, so disconnected components
get covered exactly like the reference).

Determinism: argmax ties break to the highest vid (the reference's
pair-max reduction compares (value, id))."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.graph import LinkGraph
from graphscope_spark.runtime.superstep import (FixpointJob, SuperstepRunner,
                                                free_truncated)


def k_center(graph: LinkGraph, k: int = 4) -> tuple[list[int], DataFrame]:
    """Returns (centers, (vid, dist)) — dist = hops to nearest center,
    NULL if unreachable from every center."""
    sym = (graph.sym_edges() if graph.directed
           else graph.edges.select("src", "dst"))
    first = graph.und_degrees().agg(
        F.max(F.struct(F.col("deg"), F.col("vid"))).alias("m")).first()["m"]
    centers = [int(first["vid"])]

    def step(state: DataFrame, depth: int) -> DataFrame:
        # BFS from the newest center, improving dis wherever depth < dis
        frontier = state.filter(F.col("chg")).select("vid")
        nxt = (
            sym.join(frontier.withColumnRenamed("vid", "src"), "src")
            .select(F.col("dst").alias("vid")).distinct()
        )
        better = (F.col("_r").isNotNull()
                  & (F.col("dis").isNull() | (F.col("dis") > depth)))
        return (
            state.join(nxt.withColumn("_r", F.lit(True)), "vid", "left")
            .select("vid",
                    F.when(better, F.lit(depth)).otherwise(F.col("dis")).alias("dis"),
                    F.coalesce(better, F.lit(False)).alias("chg"))
        )

    state = graph.vertices.select("vid", F.lit(None).cast("long").alias("dis"))
    for i in range(k):
        center = centers[-1]
        init = state.select(
            "vid",
            F.when(F.col("vid") == center, F.lit(0)).otherwise(F.col("dis"))
            .alias("dis"),
            (F.col("vid") == center).alias("chg"))
        prev = state
        state, _ = SuperstepRunner(graph.spark).run(
            FixpointJob("k_center_bfs", init, step))
        free_truncated(prev)
        if i == k - 1:
            break
        far = state.agg(F.max(F.struct(
            F.coalesce(F.col("dis"), F.lit(2 ** 62)).alias("d"),
            F.col("vid"))).alias("m")).first()["m"]
        centers.append(int(far["vid"]))
    return centers, state.select("vid", "dis").withColumnRenamed("dis", "dist")
