"""Traversal algorithms: BFS, SSSP, multi-source BFS (closeness / APSP).

Reference semantics:
- BFS: grape::BFS via python wrapper ``bfs(graph, src=0)``
  (/root/reference/python/graphscope/analytical/app/bfs.py:29); per-vertex
  depth from the source, following outgoing edges on directed graphs and
  the symmetric neighborhood on undirected; unreachable vertices keep the
  init value (we emit -1).
- SSSP: gs::SSSPProjected
  (/root/reference/analytical_engine/apps/projected/sssp_projected.h:63-181):
  init dist[src]=0 else +inf; iterate min-plus relaxation along outgoing
  edges until no distance changes (frontier empty); unweighted edges count
  1 per hop (python wrapper ``sssp(graph, src=0, weight=None)``,
  app/sssp.py:32). Unreachable → +inf (we emit NULL→-1 on export).

Spark shape per superstep (both): frontier semi-join against the edge
table (broadcast when the frontier is small — FLASH's sparse EdgeMap,
reference apps/flash/api.h:269-356) → min-aggregate by dst → left join
onto state; convergence metrics ride the state materialization as
observed metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from graphscope_spark.graph import LinkGraph
from graphscope_spark.runtime.superstep import (BROADCAST_CAP_ROWS,
                                                FixpointJob, SuperstepJob,
                                                SuperstepRunner)

_INF = float("inf")


def sample_pivots(graph: LinkGraph, k: int, seed: int = 42) -> list[int]:
    """Deterministic hash-sampled pivot vertices (k rows to the driver —
    never the full vertex set)."""
    n = graph.num_vertices
    return [
        r["vid"] for r in graph.vertices.select("vid")
        .withColumn("h", F.pmod(F.xxhash64(F.col("vid") + seed), F.lit(max(1, n))))
        .orderBy("h", "vid").limit(k).collect()
    ]


def resolve_sources(graph: LinkGraph, sources, num_pivots: int = 16,
                    seed: int = 42) -> list[int]:
    """Source-list policy shared by every multi-source algorithm:
    ``None`` → ``num_pivots`` sampled pivots (the scale-safe default);
    ``"all"`` → every vertex (explicit opt-in — collects O(V) ids and
    launches O(V·V) pair-state work, small graphs only); else the given
    list."""
    if isinstance(sources, str):
        if sources != "all":
            raise ValueError(f"sources must be a list, None, or 'all'; got {sources!r}")
        return [r["vid"] for r in graph.vertices.select("vid").collect()]
    if sources is None:
        return sample_pivots(graph, num_pivots, seed)
    return [int(s) for s in sources]


class SSSPJob(SuperstepJob):
    """Min-dist relaxation; BFS is the weight≡1 special case."""

    name = "sssp"

    def __init__(self, graph: LinkGraph, source: int, weight_col: str | None = None,
                 sparse_threshold: float = 0.05,
                 init_dists: DataFrame | None = None):
        self.graph = graph
        self.source = source
        self.weight_col = weight_col
        # Ingress-style warm start (reference
        # docs/analytical_engine/ingress.md:1-28, same contract as
        # wcc(init_components=) / pagerank(init_ranks=)): (vid, dist)
        # from a prior run on a SUBGRAPH of this graph with the SAME
        # source (grow-only updates — every warm dist is a valid walk
        # length in the merged graph, so min-relaxation from the warm
        # state reaches the identical fixpoint, just pre-propagated).
        # NOT valid after edge deletions or weight increases.
        self.init_dists = init_dists
        self.sparse_threshold = sparse_threshold
        if weight_col is None:
            self.msg_edges = (graph.edges if graph.directed else graph.sym_edges()) \
                .select("src", "dst", F.lit(1.0).alias("w"))
        else:
            # undirected LinkGraphs store both orientations (factory
            # contract, enforced by from_oid_edges and the constructor's
            # docs), each carrying the same properties — so the stored
            # edge set already relaxes both ways; no re-mirroring
            self.msg_edges = graph.edges.select(
                "src", "dst", F.col(weight_col).cast("double").alias("w"))

    def config(self) -> dict:
        return {"algo": self.name, "source": self.source,
                "weight_col": self.weight_col}

    def init(self, spark: SparkSession):
        if self.init_dists is None:
            state = self.graph.vertices.select(
                "vid",
                F.when(F.col("vid") == self.source, F.lit(0.0))
                .otherwise(F.lit(_INF)).alias("dist"),
                (F.col("vid") == self.source).alias("changed"),
            )
            return state, {"frontier": 1}
        warm = self.init_dists.select(
            "vid", F.col("dist").cast("double").alias("wdist"))
        # vertices new to this graph (no warm row) start cold at +inf;
        # the source is pinned to 0 regardless of what the warm state
        # says. Every finite vertex re-enters the frontier once so new
        # edges incident to already-settled vertices get relaxed.
        state = (
            self.graph.vertices.select("vid")
            .join(warm.hint("shuffle_hash"), "vid", "left")
            .select(
                "vid",
                F.when(F.col("vid") == self.source, F.lit(0.0))
                .otherwise(F.coalesce("wdist", F.lit(_INF))).alias("dist"),
            )
            .withColumn("changed", F.col("dist") < F.lit(_INF))
        )
        return state, {"frontier": self.graph.num_vertices}

    def step(self, state: DataFrame, step_no: int, scalars: dict):
        # broadcast of the aggregated relax table is gated on BOTH the
        # frontier count and the previous step's observed message volume:
        # a tiny frontier of hubs can still emit O(V) distinct dsts, and
        # a >8GB broadcast fails the job outright.
        thr = self.sparse_threshold * self.graph.num_vertices
        sparse = (scalars["frontier"] < thr
                  and scalars.get("msgs", scalars["frontier"])
                  < min(thr, BROADCAST_CAP_ROWS))
        hint = "broadcast" if sparse else "shuffle_hash"
        frontier = state.filter(F.col("changed")).select("vid", "dist").hint(hint)
        relax = (
            self.msg_edges.join(frontier, self.msg_edges["src"] == frontier["vid"])
            .select("dst", (F.col("dist") + F.col("w")).alias("nd"))
            .groupBy("dst").agg(F.min("nd").alias("nd"))
            .hint(hint)
        )
        obs = Observation()
        new_state = (
            state.join(relax, state["vid"] == relax["dst"], "left")
            .select(
                state["vid"],
                F.least(state["dist"], F.coalesce("nd", state["dist"])).alias("dist"),
                F.coalesce(F.col("nd") < state["dist"], F.lit(False)).alias("changed"),
                F.col("nd").isNotNull().alias("_rcv"),
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


def sssp(graph: LinkGraph, source: int, weight_col: str | None = None,
         runner: SuperstepRunner | None = None, resume: bool = False,
         init_dists: DataFrame | None = None) -> DataFrame:
    """Single-source shortest paths → (vid, dist); unreachable = Infinity.

    ``init_dists``: optional (vid, dist) warm start from a previous run
    on a subgraph of this graph with the same source (Ingress-style,
    reference docs/analytical_engine/ingress.md) — identical fixpoint,
    fewer supersteps."""
    job = SSSPJob(graph, source, weight_col=weight_col,
                  init_dists=init_dists)
    runner = runner or SuperstepRunner(graph.spark)
    state, _ = runner.run(job, resume=resume)
    return state.select("vid", "dist")


class SSSPPathJob(SSSPJob):
    """SSSP carrying predecessor pointers — the shortest-path TREE of
    gs::SSSPPath (/root/reference/analytical_engine/apps/sssp/
    sssp_path.h:30-131, output lines = [predecessor, node, dist]).
    Predecessor ties break to the smallest parent vid (the reference
    keeps arrival order — nondeterministic; we fix it)."""

    name = "sssp_path"

    def step(self, state: DataFrame, step_no: int, scalars: dict):
        # broadcast of the aggregated relax table is gated on BOTH the
        # frontier count and the previous step's observed message volume:
        # a tiny frontier of hubs can still emit O(V) distinct dsts, and
        # a >8GB broadcast fails the job outright.
        thr = self.sparse_threshold * self.graph.num_vertices
        sparse = (scalars["frontier"] < thr
                  and scalars.get("msgs", scalars["frontier"])
                  < min(thr, BROADCAST_CAP_ROWS))
        hint = "broadcast" if sparse else "shuffle_hash"
        frontier = state.filter(F.col("changed")).select("vid", "dist").hint(hint)
        relax = (
            self.msg_edges.join(frontier, self.msg_edges["src"] == frontier["vid"])
            .select("dst",
                    F.struct((F.col("dist") + F.col("w")).alias("nd"),
                             F.col("src").alias("par")).alias("cand"))
            .groupBy("dst").agg(F.min("cand").alias("cand"))
            .hint(hint)
        )
        obs = Observation()
        better = F.col("cand.nd") < state["dist"]
        new_state = (
            state.join(relax, state["vid"] == relax["dst"], "left")
            .select(
                state["vid"],
                F.when(better, F.col("cand.nd")).otherwise(state["dist"]).alias("dist"),
                F.when(better, F.col("cand.par")).otherwise(state["parent"]).alias("parent"),
                F.coalesce(better, F.lit(False)).alias("changed"),
                F.col("cand").isNotNull().alias("_rcv"),
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

    def init(self, spark: SparkSession):
        state, scalars = super().init(spark)
        return state.select("vid", "dist", F.lit(None).cast("long").alias("parent"),
                            "changed"), scalars


def sssp_path(graph: LinkGraph, source: int, weight_col: str | None = None,
              runner: SuperstepRunner | None = None) -> DataFrame:
    """Shortest-path tree → (vid, dist, parent); parent NULL at the
    source and unreached vertices."""
    job = SSSPPathJob(graph, source, weight_col=weight_col)
    runner = runner or SuperstepRunner(graph.spark)
    state, _ = runner.run(job)
    return state.select("vid", "dist", "parent")


def bfs(graph: LinkGraph, source: int,
        runner: SuperstepRunner | None = None) -> DataFrame:
    """BFS depth from source → (vid, depth); unreachable = -1."""
    d = sssp(graph, source, weight_col=None, runner=runner)
    return d.select(
        "vid",
        F.when(F.col("dist") == float("inf"), F.lit(-1))
        .otherwise(F.col("dist")).cast("long").alias("depth"),
    )


class MSBFSJob(SuperstepJob):
    """Multi-source BFS over (source, vid) pair-state — the engine's
    building block for closeness centrality and all-pairs shortest path
    length (reference apps/apsp/all_pairs_shortest_path_length.h:30-144
    runs one BFS per source; here all sources advance in one superstep
    loop, a cross-source frontier batched into the same shuffle)."""

    name = "msbfs"

    def __init__(self, graph: LinkGraph, sources: list[int], reverse: bool = False):
        self.graph = graph
        # dedupe: duplicate sources would seed duplicate depth-0 pair
        # rows that survive to the final state and overcount r in
        # closeness/eccentricity aggregates
        self.sources = sorted({int(s) for s in sources})
        self.reverse = reverse
        e = graph.edges if graph.directed else graph.sym_edges()
        if reverse and graph.directed:
            e = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        self.msg_edges = e

    def config(self) -> dict:
        return {"algo": self.name, "sources": self.sources, "reverse": self.reverse}

    def init(self, spark: SparkSession):
        src_df = spark.createDataFrame(
            [(int(s),) for s in self.sources], "source LONG"
        )
        state = src_df.select(
            "source", F.col("source").alias("vid"), F.lit(0).alias("depth")
        )
        return state, {"frontier": len(self.sources), "depth": 0}

    def step(self, state: DataFrame, step_no: int, scalars: dict):
        # frontier = pairs discovered at the previous depth
        frontier = state.filter(F.col("depth") == step_no - 1).select("source", "vid")
        nxt = (
            self.msg_edges.join(frontier, self.msg_edges["src"] == frontier["vid"])
            .select("source", F.col("dst").alias("vid"))
            .distinct()
            .join(state.select("source", "vid"), ["source", "vid"], "left_anti")
            .select("source", "vid", F.lit(step_no).alias("depth"))
        )
        obs = Observation()
        new_state = state.unionByName(
            nxt.observe(obs, F.count(F.lit(1)).alias("c"))
        )

        def finalize(st: DataFrame):
            grew = obs.get["c"] or 0
            return {"frontier": int(grew), "depth": step_no}, grew == 0

        return new_state, finalize


def msbfs(graph: LinkGraph, sources: list[int], reverse: bool = False,
          runner: SuperstepRunner | None = None) -> DataFrame:
    """(source, vid, depth) for every reached pair."""
    runner = runner or SuperstepRunner(graph.spark)
    state, _ = runner.run(MSBFSJob(graph, sources, reverse=reverse))
    return state


def all_pairs_shortest_path_length(graph: LinkGraph,
                                   sources: list[int] | str | None = "all",
                                   runner: SuperstepRunner | None = None) -> DataFrame:
    """(source, vid, depth) — reference all_pairs_shortest_path_length
    (yaml:220). All-pairs IS the operator's contract, so the default stays
    ``"all"`` (O(V²) pair state — small graphs only); pass a landmark
    sample for the scale path."""
    return msbfs(graph, resolve_sources(graph, sources), runner=runner)


def closeness_centrality(graph: LinkGraph, sources: list[int] | None = None,
                         wf_improved: bool = True,
                         runner: SuperstepRunner | None = None) -> DataFrame:
    """Closeness via multi-source BFS, Wasserman-Faust corrected
    (reference apps/centrality/closeness/closeness_centrality.h:30-143
    follows NetworkX: cc(v) = ((r-1)/totsp) * ((r-1)/(n-1)) where r =
    vertices that can REACH v, computed over incoming paths; on
    undirected graphs in/out coincide). Here each listed source
    contributes its distances; centrality is computed for the sources'
    reachable sets over the sym view when undirected.

    ``sources=None`` samples pivots (scores for those vertices only);
    ``sources="all"`` is the exact small-graph mode."""
    n = graph.num_vertices
    # directed: BFS along REVERSED edges from v gives d(u → v), the
    # incoming distances NX closeness uses
    d = msbfs(graph, resolve_sources(graph, sources), reverse=True,
              runner=runner)
    agg = d.groupBy("source").agg(
        F.sum("depth").alias("totsp"), F.count("*").alias("r")
    )
    cc = agg.select(
        F.col("source").alias("vid"),
        F.when(
            (F.col("totsp") > 0) & (F.lit(n) > 1),
            ((F.col("r") - 1) / F.col("totsp"))
            * (((F.col("r") - 1) / F.lit(float(n - 1))) if wf_improved else F.lit(1.0)),
        ).otherwise(F.lit(0.0)).alias("closeness"),
    )
    return cc


def eccentricity(graph: LinkGraph, sources: list[int] | str | None = None,
                 runner: SuperstepRunner | None = None) -> DataFrame:
    """(vid, ecc) — max finite BFS depth from each listed source over the
    stored direction (sym view when undirected). ``sources=None`` samples
    pivots; ``"all"`` is the exact small-graph mode."""
    d = msbfs(graph, resolve_sources(graph, sources), runner=runner)
    return d.groupBy(F.col("source").alias("vid")).agg(
        F.max("depth").alias("ecc"))


def path_expand(graph: LinkGraph, sources: list[int], min_hops: int = 1,
                max_hops: int = 2, mode: str = "vertex") -> DataFrame:
    """GIE PathExpand (reference: the EdgeExpand/PathExpand physical
    operators of the interactive engine,
    /root/reference/interactive_engine/executor/ir/core — PathExpand is
    EdgeExpand iterated with a hop range).

    ``mode="vertex"``: (source, vid, hops) — vertices whose BFS distance
    from the source lies in [min_hops, max_hops] (GIE's default
    shortest-distance expansion; one msbfs, all sources batched).
    ``mode="path"``: (path array<long>) — simple paths of length in the
    range, breadth-batched like ``all_simple_paths``: a growing-frontier
    ``FixpointJob`` whose state is every path found so far, and each hop
    extends the paths the previous hop added.
    """
    if mode == "vertex":
        runner = SuperstepRunner(graph.spark)
        state, _ = runner.run(MSBFSJob(graph, sources),
                              max_steps=max_hops)
        return state.filter((F.col("depth") >= min_hops)
                            & (F.col("depth") <= max_hops)) \
            .select("source", "vid", F.col("depth").alias("hops"))
    if mode != "path":
        raise ValueError("mode must be 'vertex' or 'path'")
    spark = graph.spark
    edges = graph.edges.select("src", "dst").distinct()

    def step(state: DataFrame, _hop: int) -> DataFrame:
        grown = (
            state.filter(F.col("chg")).join(edges, F.col("cur") == F.col("src"))
            .filter(~F.array_contains("path", F.col("dst")))
            .select(F.concat("path", F.array("dst")).alias("path"),
                    F.col("dst").alias("cur"), F.lit(True).alias("chg")))
        return state.withColumn("chg", F.lit(False)).unionByName(grown)

    state, _ = SuperstepRunner(spark).run(FixpointJob(
        "path_expand", spark.createDataFrame(
            [([int(s)], int(s), True) for s in sources],
            "path ARRAY<BIGINT>, cur LONG, chg BOOLEAN"), step),
        max_steps=max_hops)
    return state.filter(F.size("path") - 1 >= max(min_hops, 1)).select("path")


def diameter_approx(graph: LinkGraph, num_pivots: int = 16,
                    seed: int = 42) -> int:
    """Lower-bound diameter estimate: max eccentricity over `num_pivots`
    hash-sampled pivots (the reference's flash_diameter_approx,
    /root/reference/analytical_engine/apps/flash/measurement/
    diameter_approx.h, uses BFS from sampled sources the same way)."""
    pivots = sample_pivots(graph, num_pivots, seed)
    row = eccentricity(graph, sources=pivots).agg(F.max("ecc")).first()
    return int(row[0]) if row and row[0] is not None else 0
