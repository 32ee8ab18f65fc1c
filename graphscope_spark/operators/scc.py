"""Strongly connected components — FLASH coloring algorithm.

Reference: gs::SCCFlash
(/root/reference/analytical_engine/apps/flash/connectivity/scc.h:30-80):
repeat over the unassigned set A:
  1. fid[v] = vid for v ∈ A;
  2. forward min-label fixpoint along OUT edges within A
     (fid[d] = min(fid[d], fid[s]));
  3. roots: fid == vid → scc = vid;
  4. backward sweep along IN edges within A: d joins the SCC of its fid
     when its forward-label root is backward-reachable
     (s.scc == d.fid ⇒ d.scc = d.fid);
  5. A = still unassigned.
Labels are the minimum vid of each SCC. Step 2 is WCC's HashMin run by
the superstep runner (``hashmin``, operators/wcc.py); step 4 is a
growing-frontier ``FixpointJob`` on the runner. The outer loop peels at
least the SCCs of every current minimum-fid root per pass; each pass's
SCCs are kept as one piece and the pieces are copied out once at the
end, and the remaining-vertex count rides the active set's
materialization as an observed metric.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.graph import LinkGraph
from graphscope_spark.operators.wcc import hashmin
from graphscope_spark.runtime.superstep import (FixpointJob, SuperstepRunner,
                                                free_truncated, truncate)


def _counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``truncate(df)`` with its row count observed on the same pass."""
    obs = Observation()
    return truncate(df.observe(obs, F.count(F.lit(1)).alias("n"))), obs


def _backward_sweep(re: DataFrame, fid: DataFrame) -> DataFrame:
    """(vid, scc, chg) members confirmed this pass: from the roots (fid
    == vid), a vertex joins scc = fid[v] when fid[v]'s root reaches it
    backward (along ``re``) through vertices of the same color."""
    flab = fid.withColumnRenamed("comp", "flab")

    def step(member: DataFrame, _s: int) -> DataFrame:
        cand = (
            re.join(member.filter(F.col("chg"))
                    .select(F.col("vid").alias("src"), "scc"), "src")
            .select(F.col("dst").alias("vid"), "scc").distinct()
            .join(member, "vid", "left_anti")
            # only vertices whose forward label equals the color join
            .join(flab, "vid")
            .filter(F.col("scc") == F.col("flab"))
            .select("vid", "scc", F.lit(True).alias("chg"))
        )
        return member.withColumn("chg", F.lit(False)).unionByName(cand)

    member, _ = SuperstepRunner(re.sparkSession).run(FixpointJob(
        "scc_backward", fid.filter(F.col("vid") == F.col("comp")).select(
            "vid", F.col("comp").alias("scc"), F.lit(True).alias("chg")),
        step))
    return member


def scc(graph: LinkGraph) -> DataFrame:
    """(vid, scc) — scc = min vid of the strongly connected component."""
    edges_all = graph.edges.select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
    pieces = []  # each pass's confirmed members
    active, obs = _counted(graph.vertices.select("vid"))
    while obs.get["n"]:
        if len(pieces) >= 10_000:
            raise RuntimeError("scc did not terminate")
        # restrict edges to the active set
        e = truncate(
            edges_all.join(active.withColumnRenamed("vid", "src"), "src", "left_semi")
            .join(active.withColumnRenamed("vid", "dst"), "dst", "left_semi"))
        # forward min-label fixpoint along the directed active edges
        fid = hashmin(e, active.select("vid", F.col("vid").alias("comp")))
        member = _backward_sweep(e.select(F.col("dst").alias("src"),
                                          F.col("src").alias("dst")), fid)
        pieces.append(member)
        nxt, obs = _counted(active.join(member.select("vid"), "vid", "left_anti"))
        for df in (active, e, fid):
            free_truncated(df)
        active = nxt
    edges_all.unpersist()
    free_truncated(active)
    out = truncate(reduce(DataFrame.unionByName, pieces).select("vid", "scc")) \
        if pieces else graph.spark.createDataFrame([], "vid LONG, scc LONG")
    for df in pieces:
        free_truncated(df)
    return out
