"""PageRank — NetworkX semantics, the north-rule flagship.

Reference: gs::PageRankNetworkX
(/root/reference/analytical_engine/apps/pagerank/pagerank_networkx.h:54-163;
python wrapper pagerank_nx(graph, alpha=0.85, max_iter=100, tol=1e-06),
python/graphscope/analytical/app/pagerank.py:96-123). Exact semantics
reproduced:

  init  : rank[v] = 1/n; deg[v] = |out(v)|;
          dangling_sum = alpha * (1/n) * |{v : deg(v)=0}|     (lines 62-85)
  step  : pre[u]  = rank[u]/deg[u] if deg>0 else rank[u]      (lines 108-115)
          base    = (1-alpha)/n + dangling_sum/n              (line 117)
          rank[v] = alpha * Σ_{u→v} pre[u] + base             (lines 118-133)
            (sum over in-edges when directed; over the symmetric
             neighborhood when undirected)
          eps     = Σ_v |rank[v] − rank_prev[v]|              (lines 135-144;
            pre[v]*deg[v] ≡ rank_prev[v] for deg>0, pre[v] for deg=0)
          dangling_sum' = alpha * Σ_{deg=0} rank[v]           (lines 142,159)
  stop  : eps < tol * n  or  step > max_iter                  (line 147)

Spark shape per superstep: one join of the (stable-partitioned) edge table
against the rank state on src + a salted sum by dst (messages), one left
join back onto the state (apply), one scalar aggregate action computing eps
and the dangling sum together (the reference's two Sum() all-reduces fused
into a single pass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from graphscope_spark.graph import LinkGraph
from graphscope_spark.runtime.salting import salted_sum
from graphscope_spark.runtime.superstep import SuperstepJob, SuperstepRunner


class PageRankJob(SuperstepJob):
    name = "pagerank"

    def __init__(self, graph: LinkGraph, alpha: float = 0.85,
                 max_iter: int = 100, tol: float = 1e-6, salt: int = 0,
                 init_ranks: DataFrame | None = None,
                 weight_col: str | None = None):
        self.graph = graph
        self.alpha = alpha
        self.max_iter = max_iter
        self.tol = tol
        self.salt = salt
        # weight_col: NX-parity weighted PageRank (nx.pagerank weights by
        # 'weight' by default) — out-strength replaces out-degree and a
        # vertex's share splits w/Σw per edge. None keeps the pinned
        # unweighted plan byte-for-byte (no extra column rides the join).
        self.weight_col = weight_col
        # Ingress-style warm start (reference
        # docs/analytical_engine/ingress.md:1-28 — memoization-path
        # incrementalization): seed from a previous run's (vid, rank) so a
        # slightly-changed graph re-converges in few supersteps instead of
        # from 1/n. Missing vertices (new files) start at 1/n.
        self.init_ranks = init_ranks
        # messages flow along stored edges (u→v ⇒ u's share reaches v);
        # an undirected LinkGraph already stores both directions.
        e = graph.edges if graph.directed else graph.sym_edges()
        if weight_col is not None:
            e = e.select("src", "dst",
                         F.col(weight_col).cast("double").alias("w"))
        self.msg_edges = e

    def config(self) -> dict:
        return {"algo": self.name, "alpha": self.alpha, "max_iter": self.max_iter,
                "tol": self.tol, "salt": self.salt,
                "weight_col": self.weight_col,
                "directed": self.graph.directed}

    def _vertex_strength(self) -> DataFrame:
        """(vid, deg) — weighted out-strength when weight_col is set
        (Σw over out-edges, 0.0 for danglers), else plain out-degree."""
        g = self.graph
        if self.weight_col is None:
            return g.out_degrees()
        s = self.msg_edges.groupBy("src").agg(F.sum("w").alias("_s"))
        return (g.vertices.select("vid")
                .join(s, g.vertices["vid"] == s["src"], "left")
                .select("vid", F.coalesce("_s", F.lit(0.0)).alias("deg")))

    def init(self, spark: SparkSession):
        g = self.graph
        n = g.num_vertices
        p = 1.0 / n
        if self.init_ranks is None:
            state = self._vertex_strength().select(
                "vid", "deg", F.lit(p).alias("rank")
            )
            dangling_vnum = state.filter(F.col("deg") == 0).count()
            dangling_sum = self.alpha * p * dangling_vnum
        else:
            prev = self.init_ranks.select("vid", F.col("rank").alias("r0"))
            state = (
                self._vertex_strength().join(prev, "vid", "left")
                .select("vid", "deg", F.coalesce("r0", F.lit(p)).alias("rank"))
            )
            dangling_sum = self.alpha * float(
                state.filter(F.col("deg") == 0).agg(F.sum("rank")).first()[0] or 0.0
            )
        scalars = {
            "n": n,
            "dangling_sum": dangling_sum,
            "eps": float("inf"),
        }
        return state, scalars

    def step(self, state: DataFrame, step_no: int, scalars: dict):
        n = scalars["n"]
        base = (1.0 - self.alpha) / n + scalars["dangling_sum"] / n

        # The state side is O(V): NEVER let it broadcast (the build is a
        # serial driver step and impossible at cluster scale) — hint a
        # shuffle-hash join instead. Both sides are hash-partitioned on the
        # join key with the graph's partition count, so the persisted edge
        # exchange is reused and only the (small) state side moves.
        contrib = state.filter(F.col("deg") > 0).select(
            "vid", (F.col("rank") / F.col("deg")).alias("c")
        ).hint("shuffle_hash")
        joined = self.msg_edges.join(
            contrib, self.msg_edges["src"] == contrib["vid"])
        if self.weight_col is None:
            msgs = joined.select("dst", "c", "src")
        else:
            # per-edge share: rank · w / strength
            msgs = joined.select(
                "dst", (F.col("c") * F.col("w")).alias("c"), "src")
        # groupBy-sum gets map-side partial combine from Catalyst (the
        # reference's remote-combine); salt>0 additionally spreads a hub
        # dst's *reduce* work over `salt` sub-keys.
        sums = salted_sum(msgs, "dst", "c", salt=self.salt, salt_source="src")

        # the reference's two Sum() all-reduces (eps + dangling rank,
        # pagerank_networkx.h:135-146) ride along the state materialization
        # as observed metrics — no separate aggregation pass over the
        # state (the materialization itself is still several Spark jobs
        # under AQE: ~4 per superstep in perfbench's traced run)
        obs = Observation()
        new_state = (
            state.join(sums.hint("shuffle_hash"), state["vid"] == sums["dst"], "left")
            .select(
                state["vid"],
                state["deg"],
                (F.lit(self.alpha) * F.coalesce(F.col("c"), F.lit(0.0)) + F.lit(base)).alias("rank"),
                state["rank"].alias("prev"),
            )
            .observe(
                obs,
                F.sum(F.abs(F.col("rank") - F.col("prev"))).alias("eps"),
                F.sum(F.when(F.col("deg") == 0, F.col("rank")).otherwise(F.lit(0.0))).alias("drank"),
            )
            .drop("prev")
        )

        def finalize(st: DataFrame):
            row = obs.get  # filled by the runner's materialization action
            eps = float(row["eps"] or 0.0)
            sc = {
                "n": n,
                "dangling_sum": self.alpha * float(row["drank"] or 0.0),
                "eps": eps,
            }
            return sc, eps < self.tol * n or step_no > self.max_iter

        return new_state, finalize


class PPRJob(SuperstepJob):
    """Personalized PageRank — FLASH semantics (reference
    analytical_engine/apps/flash/ranking/ppr.h:40-72): undirected (EU)
    message flow, teleport mass 0.5 pinned to the source:

      val_0[v]  = 1 if v == source else 0
      val_t[v]  = 0.5 · Σ_{u ∈ N(v)} val_{t-1}[u]/deg(u)
                  + (0.5 if v == source else 0)

    for ``max_iters`` fixed rounds; deg = symmetric-neighborhood degree.
    """

    name = "ppr"

    def __init__(self, graph: LinkGraph, source: int, max_iters: int = 10):
        self.graph = graph
        self.source = source
        self.max_iters = max_iters
        self.msg_edges = graph.sym_edges()

    def config(self) -> dict:
        return {"algo": self.name, "source": self.source,
                "max_iters": self.max_iters}

    def init(self, spark: SparkSession):
        deg = self.msg_edges.groupBy(F.col("src").alias("vid")) \
            .agg(F.count("*").alias("deg"))
        state = (
            self.graph.vertices.select("vid").join(deg, "vid", "left")
            .select("vid", F.coalesce("deg", F.lit(0)).alias("deg"),
                    F.when(F.col("vid") == self.source, F.lit(1.0))
                    .otherwise(F.lit(0.0)).alias("rank"))
        )
        return state, {}

    def step(self, state: DataFrame, step_no: int, scalars: dict):
        contrib = state.filter(F.col("deg") > 0).select(
            "vid", (F.col("rank") / F.col("deg")).alias("c")
        ).hint("shuffle_hash")
        sums = (
            self.msg_edges.join(contrib, self.msg_edges["src"] == contrib["vid"])
            .groupBy("dst").agg(F.sum("c").alias("c"))
        )
        new_state = (
            state.join(sums.hint("shuffle_hash"), state["vid"] == sums["dst"], "left")
            .select(
                state["vid"], state["deg"],
                (F.lit(0.5) * F.coalesce(F.col("c"), F.lit(0.0))
                 + F.when(state["vid"] == self.source, F.lit(0.5))
                 .otherwise(F.lit(0.0))).alias("rank"),
            )
        )

        def finalize(st: DataFrame):
            return {}, step_no >= self.max_iters

        return new_state, finalize


def ppr(graph: LinkGraph, source: int, max_iters: int = 10,
        runner: SuperstepRunner | None = None) -> DataFrame:
    """Personalized PageRank from ``source`` → (vid, rank)."""
    runner = runner or SuperstepRunner(graph.spark)
    state, _ = runner.run(PPRJob(graph, source, max_iters=max_iters),
                          max_steps=max_iters + 1)
    return state.select("vid", "rank")


class ArticleRankJob(SuperstepJob):
    """ArticleRank — FLASH semantics (reference
    analytical_engine/apps/flash/ranking/articlerank.h:42-74): directed
    out-edge (ED) message flow, out-degree damped by the GLOBAL average
    out-degree:

      val_0[v] = 0
      val_t[v] = damping · Σ_{u→v} val_{t-1}[u]/(outdeg(u) + avg_outdeg)
                 + 1 − damping

    for ``max_iters`` fixed rounds.
    """

    name = "articlerank"

    def __init__(self, graph: LinkGraph, max_iters: int = 10,
                 damping: float = 0.85):
        self.graph = graph
        self.max_iters = max_iters
        self.damping = damping

    def config(self) -> dict:
        return {"algo": self.name, "max_iters": self.max_iters,
                "damping": self.damping}

    def init(self, spark: SparkSession):
        g = self.graph
        avg = g.num_edges / g.num_vertices
        state = g.out_degrees().select(
            "vid", "deg", F.lit(0.0).alias("rank"))
        return state, {"avg_deg": avg}

    def step(self, state: DataFrame, step_no: int, scalars: dict):
        avg = scalars["avg_deg"]
        contrib = state.select(
            "vid", (F.col("rank") / (F.col("deg") + F.lit(avg))).alias("c")
        ).hint("shuffle_hash")
        edges = self.graph.edges.select("src", "dst")
        sums = (
            edges.join(contrib, edges["src"] == contrib["vid"])
            .groupBy("dst").agg(F.sum("c").alias("c"))
        )
        new_state = (
            state.join(sums.hint("shuffle_hash"), state["vid"] == sums["dst"], "left")
            .select(
                state["vid"], state["deg"],
                (F.lit(self.damping) * F.coalesce(F.col("c"), F.lit(0.0))
                 + F.lit(1.0 - self.damping)).alias("rank"),
            )
        )

        def finalize(st: DataFrame):
            return {"avg_deg": avg}, step_no >= self.max_iters

        return new_state, finalize


def articlerank(graph: LinkGraph, max_iters: int = 10, damping: float = 0.85,
                runner: SuperstepRunner | None = None) -> DataFrame:
    """ArticleRank → (vid, rank)."""
    runner = runner or SuperstepRunner(graph.spark)
    state, _ = runner.run(ArticleRankJob(graph, max_iters=max_iters,
                                         damping=damping),
                          max_steps=max_iters + 1)
    return state.select("vid", "rank")


def pagerank(
    graph: LinkGraph,
    alpha: float = 0.85,
    max_iter: int = 100,
    tol: float = 1e-6,
    salt: int = 0,
    runner: SuperstepRunner | None = None,
    resume: bool = False,
    init_ranks: DataFrame | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Run PageRank to convergence; returns (vid, rank).

    ``weight_col`` names an edge-weight column for NX-parity weighted
    PageRank (share per edge = rank·w/Σw); None = unweighted."""
    job = PageRankJob(graph, alpha=alpha, max_iter=max_iter, tol=tol, salt=salt,
                      init_ranks=init_ranks, weight_col=weight_col)
    runner = runner or SuperstepRunner(graph.spark)
    state, _ = runner.run(job, max_steps=max_iter + 1, resume=resume)
    return state.select("vid", "rank")


class PageRankPushJob(SuperstepJob):
    """Residual (delta) push PageRank — the reference's ``pagerank_push`` /
    ``pagerank_push_opt`` communication variants (registry
    coordinator/gscoordinator/builtin/app/.gs_conf.yaml:9-16; the pull
    NX-semantics engine is pagerank_networkx.h). Instead of every vertex
    recomputing its rank from all in-neighbors each round, vertices hold a
    RESIDUAL ``r`` and an ESTIMATE ``p``; a round retires each active
    residual (r > theta) into ``p`` and pushes ``alpha·r/deg`` along
    out-edges. Mass conservation gives p → exact NX PageRank:
    p* = (1−alpha)/n · Σ_k (alpha·Mᵀ)^k 1.

    Why a separate operator at 100 TB: the per-round join keys on the
    ACTIVE set only, which shrinks geometrically — late rounds touch a
    vanishing fraction of the edge table where the pull variant always
    pays the full |E| shuffle. Dangling residual pushed in round i is
    distributed uniformly in round i+1 (a one-round pipeline register,
    same carry the pull job uses), so no round needs an extra pass.

    Result rank = p + r (remaining residual folded in), so the truncation
    error is bounded by the unretired mass; with theta=0 and k rounds the
    output is exactly the k-term Neumann sum — deterministic, which is
    what the contract oracle unrolls.
    """

    name = "pagerank_push"

    def __init__(self, graph: LinkGraph, alpha: float = 0.85,
                 theta: float = 1e-9, max_rounds: int = 100, salt: int = 0):
        self.graph = graph
        self.alpha = alpha
        self.theta = theta
        self.max_rounds = max_rounds
        self.salt = salt
        self.msg_edges = graph.edges if graph.directed else graph.sym_edges()

    def config(self) -> dict:
        return {"algo": self.name, "alpha": self.alpha, "theta": self.theta,
                "max_rounds": self.max_rounds, "salt": self.salt,
                "directed": self.graph.directed}

    def init(self, spark: SparkSession):
        g = self.graph
        n = g.num_vertices
        state = g.out_degrees().select(
            "vid", "deg", F.lit(0.0).alias("p"),
            F.lit((1.0 - self.alpha) / n).alias("r"))
        return state, {"n": n, "dangling_carry": 0.0, "n_active": n}

    def step(self, state: DataFrame, step_no: int, scalars: dict):
        n = scalars["n"]
        base_d = self.alpha * scalars["dangling_carry"] / n
        active = F.col("r") > self.theta

        # push along out-edges from the ACTIVE frontier only — the join's
        # state side shrinks with the frontier while the cached edge
        # partitioning is reused (shuffle_hash, never broadcast O(V))
        contrib = state.filter(active & (F.col("deg") > 0)).select(
            "vid", (F.lit(self.alpha) * F.col("r") / F.col("deg")).alias("c")
        ).hint("shuffle_hash")
        msgs = self.msg_edges.join(
            contrib, self.msg_edges["src"] == contrib["vid"]
        ).select("dst", "c", "src")
        sums = salted_sum(msgs, "dst", "c", salt=self.salt, salt_source="src")

        obs = Observation()
        new_state = (
            state.join(sums.hint("shuffle_hash"), state["vid"] == sums["dst"], "left")
            .select(
                state["vid"], state["deg"],
                (F.col("p") + F.when(active, F.col("r")).otherwise(F.lit(0.0))).alias("p"),
                (F.when(active, F.lit(0.0)).otherwise(F.col("r"))
                 + F.coalesce(F.col("c"), F.lit(0.0)) + F.lit(base_d)).alias("r"),
                F.when(active & (state["deg"] == 0), state["r"])
                .otherwise(F.lit(0.0)).alias("_dang"),
            )
            .observe(obs,
                     F.sum(F.col("_dang")).alias("dang"),
                     F.sum((F.col("r") > self.theta).cast("long")).alias("nact"))
            .drop("_dang")
        )

        def finalize(st: DataFrame):
            row = obs.get
            dang = float(row["dang"] or 0.0)
            nact = int(row["nact"] or 0)
            sc = {"n": n, "dangling_carry": dang, "n_active": nact}
            done = (nact == 0 and dang == 0.0) or step_no >= self.max_rounds
            return sc, done

        return new_state, finalize


def pagerank_push(graph: LinkGraph, alpha: float = 0.85, theta: float = 1e-9,
                  max_rounds: int = 100, salt: int = 0,
                  runner: SuperstepRunner | None = None) -> DataFrame:
    """Residual-push PageRank → (vid, rank); rank = estimate + residual."""
    job = PageRankPushJob(graph, alpha=alpha, theta=theta,
                          max_rounds=max_rounds, salt=salt)
    runner = runner or SuperstepRunner(graph.spark)
    state, _ = runner.run(job, max_steps=max_rounds + 1)
    return state.select("vid", (F.col("p") + F.col("r")).alias("rank"))
