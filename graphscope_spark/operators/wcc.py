"""Connected components (WCC) — HashMin with frontier tracking.

Reference: gs::benchmarks::WCC
(/root/reference/analytical_engine/benchmarks/apps/wcc/wcc.h:59-176):
init ``comp[v] = gid(v)``; every modified vertex pushes min(comp) along
both outgoing and incoming edges (the graph is treated as undirected,
lines 76-94); atomic_min merge; a frontier (curr/next_modified
DenseVertexSet) restricts work to changed vertices; terminate when the
frontier is empty (lines 149-151, 170-174). Result: comp = min vertex id
in the component.

Spark shape per superstep: semi-restricted message join — edges joined
against the *frontier only* (the reference's core optimization; late
rounds have tiny frontiers, which AQE converts to broadcast joins) →
salted min by dst → left join onto state → `least` merge; the frontier is
folded into the state DataFrame as a ``changed`` flag so checkpoints
capture it and resume is exact.

``HashMinJob`` is the package's one min-label fixpoint (the reference
runs cc and SCC's forward colouring as the same FLASH EdgeMap loop):
``WCCJob`` feeds it the graph's symmetric edges, and ``hashmin`` runs it
for scc (directed edges), bcc (aux graph), ``dedup_keep_list`` (pair
graph) and ``IncrementalWCC`` (component-link graph).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from graphscope_spark.graph import LinkGraph
from graphscope_spark.runtime.salting import salted_min
from graphscope_spark.runtime.superstep import (BROADCAST_CAP_ROWS,
                                                SuperstepJob, SuperstepRunner,
                                                free_truncated, truncate)


class HashMinJob(SuperstepJob):
    """HashMin over ``msg_edges`` (src, dst) from initial ``labels``
    (vid, comp): each changed vertex pushes its comp along its out-edges
    until no label drops. Messages flow src→dst only, so undirected
    callers pass both orientations. ``num_vertices`` (the label count)
    scales the sparse/dense gate."""

    name = "hashmin"

    def __init__(self, msg_edges: DataFrame, labels: DataFrame,
                 num_vertices: int, salt: int = 0,
                 sparse_threshold: float = 0.05):
        self.msg_edges = msg_edges
        self.labels = labels
        self.num_vertices = num_vertices
        self.salt = salt
        # FLASH's EdgeMap dense/sparse switch (reference
        # apps/flash/api.h:358-380): a big frontier must not broadcast
        # (state-sized, serial build) — shuffle-hash join; a small late
        # frontier is cheapest broadcast against the edge table.
        self.sparse_threshold = sparse_threshold

    def config(self) -> dict:
        return {"algo": self.name, "salt": self.salt}

    def init(self, spark: SparkSession):
        state = self.labels.select("vid", "comp", F.lit(True).alias("changed"))
        return state, {"frontier": self.num_vertices,
                       "msgs": self.num_vertices}

    def step(self, state: DataFrame, step_no: int, scalars: dict):
        # sparse mode broadcasts the aggregated message table so the O(V)
        # state side joins with NO exchange — but the messages of a small
        # frontier of hubs can still be O(V) rows, so the gate needs BOTH
        # the frontier count and the previous step's observed message
        # volume under the threshold (plus an absolute row cap).
        thr = self.sparse_threshold * self.num_vertices
        sparse = (scalars["frontier"] < thr
                  and scalars.get("msgs", scalars["frontier"])
                  < min(thr, BROADCAST_CAP_ROWS))
        hint = "broadcast" if sparse else "shuffle_hash"
        frontier = state.filter(F.col("changed")).select("vid", "comp").hint(hint)
        msgs = self.msg_edges.join(
            frontier, self.msg_edges["src"] == frontier["vid"]
        ).select("dst", "comp", "src")
        mins = salted_min(msgs, "dst", "comp", salt=self.salt, salt_source="src")
        mins = mins.withColumnRenamed("comp", "mcomp").hint(hint)

        obs = Observation()
        new_state = (
            state.join(mins, state["vid"] == mins["dst"], "left")
            .select(
                state["vid"],
                F.least(state["comp"], F.coalesce("mcomp", state["comp"])).alias("comp"),
                (F.coalesce(F.col("mcomp") < state["comp"], F.lit(False))).alias("changed"),
                F.col("mcomp").isNotNull().alias("_rcv"),
            )
            .observe(obs, F.sum(F.col("changed").cast("long")).alias("c"),
                     F.sum(F.col("_rcv").cast("long")).alias("m"))
            .drop("_rcv")
        )

        def finalize(st: DataFrame):
            vals = obs.get
            changed = vals["c"] or 0
            return ({"frontier": int(changed),
                     "msgs": int(vals["m"] or 0)}, changed == 0)

        return new_state, finalize


class WCCJob(HashMinJob):
    name = "wcc"

    def __init__(self, graph: LinkGraph, salt: int = 0,
                 sparse_threshold: float = 0.05,
                 init_components: DataFrame | None = None):
        # Ingress-style warm start (reference
        # docs/analytical_engine/ingress.md:1-28 — monotone algorithms
        # restart from a previous run's state): (vid, comp) from a prior
        # run on a SUBGRAPH of this graph (grow-only updates). Every warm
        # comp value is a vid inside the same (merged) component, so the
        # HashMin fixpoint is identical to a cold run — it just starts
        # pre-propagated and converges in ~diameter-of-the-contracted
        # component graph supersteps instead of graph diameter. NOT valid
        # after edge deletions (use streaming/incremental.py for those).
        if init_components is None:
            labels = graph.vertices.select("vid", F.col("vid").alias("comp"))
        else:
            warm = init_components.select("vid", F.col("comp").alias("wcomp"))
            # least(vid, warm) keeps HashMin's monotone invariant even if
            # a caller passes labels from an unrelated graph; vertices new
            # to this graph (no warm row) start cold at their own vid
            labels = (
                graph.vertices.select("vid")
                .join(warm.hint("shuffle_hash"), "vid", "left")
                .select("vid", F.least(F.col("vid"), F.coalesce("wcomp", F.col("vid")))
                        .alias("comp"))
            )
        super().__init__(graph.sym_edges(), labels, graph.num_vertices,
                         salt=salt, sparse_threshold=sparse_threshold)


def hashmin(msg_edges: DataFrame, labels: DataFrame) -> DataFrame:
    """HashMin fixpoint of ``labels`` (vid, comp) over ``msg_edges``
    (src, dst) on a fresh ``SuperstepRunner``; returns (vid, comp).

    ``labels`` is materialized and counted once (the count scales the
    sparse/dense gate). The result is a ``truncate`` result: the caller
    frees it with ``free_truncated`` once consumed."""
    labels = truncate(labels.select("vid", "comp"))
    try:
        job = HashMinJob(msg_edges, labels, labels.count())
        state, _ = SuperstepRunner(labels.sparkSession).run(job)
    finally:
        free_truncated(labels)
    out = state.select("vid", "comp")
    out._gs_blocks = state._gs_blocks
    return out


def wcc(graph: LinkGraph, salt: int = 0,
        runner: SuperstepRunner | None = None, resume: bool = False,
        init_components: DataFrame | None = None) -> DataFrame:
    """Run HashMin connected components; returns (vid, comp).

    ``init_components``: optional (vid, comp) warm start from a previous
    run on a subgraph (ingress.md monotone restart) — same fixpoint as a
    cold run, fewer supersteps.
    """
    job = WCCJob(graph, salt=salt, init_components=init_components)
    runner = runner or SuperstepRunner(graph.spark)
    state, _ = runner.run(job, resume=resume)
    return state.select("vid", "comp")
