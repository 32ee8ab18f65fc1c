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
the superstep runner (``hashmin``, operators/wcc.py); the backward sweep
truncates its states with stats reset (``Truncator``) so estimation cost
stays constant. The outer loop peels at least the SCCs of every current
minimum-fid root per pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.graph import LinkGraph
from graphscope_spark.operators.wcc import hashmin
from graphscope_spark.runtime.superstep import Truncator, free_truncated


def scc(graph: LinkGraph) -> DataFrame:
    """(vid, scc) — scc = min vid of the strongly connected component."""
    edges_all = graph.edges.select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
    redges_all = edges_all.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    t = Truncator()
    assigned = None  # (vid, scc)
    active = t(graph.vertices.select("vid"), "active")
    guard = 0
    while active.count() > 0:
        guard += 1
        if guard > 10_000:
            raise RuntimeError("scc did not terminate")
        # restrict edges to the active set
        av = active
        e = t(
            edges_all.join(av.withColumnRenamed("vid", "src"), "src", "left_semi")
            .join(av.withColumnRenamed("vid", "dst"), "dst", "left_semi"), "e")
        re = t(
            redges_all.join(av.withColumnRenamed("vid", "src"), "src", "left_semi")
            .join(av.withColumnRenamed("vid", "dst"), "dst", "left_semi"), "re")
        # forward min-label fixpoint along the directed active edges
        fid = hashmin(e, active.select("vid", F.col("vid").alias("comp")))
        # backward sweep from roots: a vertex joins scc=fid[v] when fid[v]'s
        # root reaches it backward through vertices of the same color
        root = fid.filter(F.col("vid") == F.col("comp")) \
            .select("vid", F.col("comp").alias("scc"))
        member = t(root, "member")  # (vid, scc) confirmed this pass
        frontier = member
        while True:
            cand = (
                re.join(frontier.withColumnRenamed("vid", "src"), "src")
                .select(F.col("dst").alias("vid"), "scc").distinct()
                .join(member, "vid", "left_anti")
                # only vertices whose forward label equals the color join
                .join(fid.withColumnRenamed("comp", "flab"), "vid")
                .filter(F.col("scc") == F.col("flab"))
                .select("vid", "scc")
            )
            cand = t(cand, "cand")
            if cand.count() == 0:
                break
            member = t(member.unionByName(cand), "member")
            frontier = cand
        assigned = t(member if assigned is None
                     else assigned.unionByName(member), "assigned")
        active = t(active.join(member.select("vid"), "vid", "left_anti"), "active")
        free_truncated(fid)
    edges_all.unpersist()
    out = assigned.select("vid", "scc")
    for slot in ("active", "e", "re", "member", "cand"):
        t.free(slot)
    return out
