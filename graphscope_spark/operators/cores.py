"""K-core decomposition: k-core membership, k-shell, core numbers.

Reference semantics:
- kcore: gs::KCore (/root/reference/analytical_engine/apps/kcore/kcore.h:40-130):
  iterative peel on the undirected view — repeatedly remove vertices with
  current degree < k (each removal decrements its neighbors' degrees)
  until stable; result = surviving vertices (the k-core).
- kshell: gs::KShell (/root/reference/analytical_engine/apps/kshell/kshell.h):
  vertices in the k-core but not the (k+1)-core.
- core numbers (NetworkX core_number): max k such that v is in the k-core —
  computed by ascending peel phases; every vertex removed while peeling
  with threshold k gets core number k-1... (phase semantics below: a
  vertex surviving the k-peel but not the (k+1)-peel has core k).

Spark shape: the peel is a ``FixpointJob`` — each step one degree
aggregation and two joins over the remaining edge set; the
frontier-style optimization
(only neighbors of removed vertices change degree) is kept implicitly by
AQE since the removed set shrinks fast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.graph import LinkGraph
from graphscope_spark.runtime.superstep import (FixpointJob, SuperstepRunner,
                                                free_truncated)


def _peel(edges: DataFrame, k: int) -> DataFrame:
    """Remove vertices with degree < k from the symmetric simple view
    ``edges`` until stable; returns the runner's final state (src, dst,
    chg), every row kept. Each step recounts degrees over the rows the
    previous step kept and flags ``chg`` on an edge with an endpoint
    below k. The init state is a new plan over ``edges`` (usually the
    graph-cached ``und_edges``), so the runner never unpersists it."""
    def step(state: DataFrame, step_no: int) -> DataFrame:
        live = state.filter(~F.col("chg")).select("src", "dst")
        deg = live.groupBy("src").agg(F.count("*").alias("deg"))
        return (
            live.join(deg.select("src", F.col("deg").alias("sdeg")), "src")
            .join(deg.select(F.col("src").alias("dst"),
                             F.col("deg").alias("ddeg")), "dst")
            .select("src", "dst",
                    ((F.col("sdeg") < k) | (F.col("ddeg") < k)).alias("chg"))
        )

    state, _ = SuperstepRunner(edges.sparkSession).run(FixpointJob(
        "kcore_peel", edges.select("src", "dst", F.lit(False).alias("chg")),
        step))
    return state


def _cached(df: DataFrame) -> DataFrame:
    """``df`` persisted and materialized, so the caller releases it with
    a plain ``unpersist()`` and the inputs it was built from can go."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


def kcore(graph: LinkGraph, k: int) -> DataFrame:
    """Vertices of the k-core → (vid). The 0-core is every vertex
    (isolated vertices included), matching ``core_numbers`` which
    assigns them core 0. The result is a materialized cache (the peel's
    state is freed), released with ``unpersist()``."""
    if k <= 0:
        return _cached(graph.vertices.select("vid"))
    state = _peel(graph.und_edges(), k)
    out = _cached(state.select(F.col("src").alias("vid")).distinct())
    free_truncated(state)
    return out


def kshell(graph: LinkGraph, k: int) -> DataFrame:
    """Vertices with core number exactly k → (vid); a materialized cache,
    released with ``unpersist()``."""
    core_k = kcore(graph, k)
    core_k1 = kcore(graph, k + 1)
    out = _cached(core_k.join(core_k1, "vid", "left_anti"))
    core_k.unpersist()
    core_k1.unpersist()
    return out


def onion_layers(graph: LinkGraph) -> DataFrame:
    """(vid, layer) — onion-layer ordering (reference gs::OnionFlash,
    /root/reference/analytical_engine/apps/flash/core/
    onion-layer-ordering.h:43-95): after the core-number fixpoint,
    initialize d(v) = #neighbors with core ≥ core(v); round i assigns
    layer i to every unranked vertex with d ≤ core, then unranked
    SAME-core neighbors of newly ranked vertices decrement d by the
    count ranked (the reference's check ``d.core == s.core && rank == -1``).
    """
    core_state = _core_state(graph)
    cores = core_state.select("vid", F.col("c").alias("core"))
    und = graph.und_edges()  # graph-lifetime cached; do not persist/unpersist
    cs = cores.select(F.col("vid").alias("src"), F.col("core").alias("score"))
    cd = cores.select(F.col("vid").alias("dst"), F.col("core").alias("dcore"))
    d0 = (
        und.join(cs, "src").join(cd, "dst")
        .filter(F.col("score") >= F.col("dcore"))
        .groupBy(F.col("dst").alias("vid")).agg(F.count("*").alias("d"))
    )
    init = (cores.join(d0, "vid", "left")
            .select("vid", "core", F.coalesce("d", F.lit(0)).alias("d"),
                    F.lit(-1).alias("layer")))

    def step(state: DataFrame, step_no: int) -> DataFrame:
        newly = state.filter((F.col("layer") == -1) & (F.col("d") <= F.col("core"))) \
            .select("vid", F.col("core").alias("ncore"))
        cnt = (
            und.join(newly.withColumnRenamed("vid", "src"), "src")
            .groupBy(F.col("dst").alias("vid"), F.col("ncore"))
            .agg(F.count("*").alias("dec"))
        )
        layer = (F.when(F.col("_n").isNotNull(), F.lit(step_no - 1))
                 .otherwise(state["layer"]))
        return (
            state
            .join(newly.select("vid").withColumn("_n", F.lit(True)), "vid", "left")
            .join(cnt, (state["vid"] == cnt["vid"])
                  & (state["core"] == cnt["ncore"]), "left")
            .select(
                state["vid"], state["core"],
                (state["d"] - F.when((state["layer"] == -1)
                                     & F.col("_n").isNull(),
                                     F.coalesce("dec", F.lit(0)))
                 .otherwise(F.lit(0))).alias("d"),
                layer.alias("layer"), (layer == -1).alias("chg"),
            )
        )

    state, scalars = SuperstepRunner(graph.spark).run(
        FixpointJob("onion_layers", init, step), max_steps=100_000)
    free_truncated(core_state)
    if scalars["changed"]:
        raise RuntimeError("onion_layers did not terminate")
    return state.select("vid", "layer")


def _h_index(nbr: DataFrame) -> DataFrame:
    """(vid, h) — h-index of each vertex's ``cnb`` multiset, WITHOUT a
    per-vertex window sort (a degree-d hub would funnel d rows into ONE
    window partition every round — a straggler at scale). Instead:
    histogram the capped neighbor values (map-side partial agg collapses
    hub fan-in; ``cnb`` ≤ c(v) so the histogram has ≤ c(v)+1 buckets),
    then fold the descending histogram JVM-side using the identity
    h = max over entries of min(bucket, cumulative_count)."""
    hist = nbr.groupBy("vid", "cnb").agg(F.count("*").alias("cnt"))
    acc0 = F.struct(F.lit(0).cast("long").alias("cum"),
                    F.lit(0).cast("long").alias("best"))
    return (
        hist.groupBy("vid")
        .agg(F.reverse(F.array_sort(F.collect_list(
            F.struct(F.col("cnb"), F.col("cnt"))))).alias("hs"))
        .select(
            "vid",
            F.aggregate(
                "hs", acc0,
                lambda acc, x: F.struct(
                    (acc["cum"] + x["cnt"]).alias("cum"),
                    F.greatest(
                        acc["best"],
                        F.least(x["cnb"].cast("long"),
                                acc["cum"] + x["cnt"])).alias("best")),
            )["best"].cast("int").alias("h"),
        )
    )


def core_number_job(graph: LinkGraph) -> FixpointJob:
    """The h-index core-number fixpoint as a runner job over state
    (vid, c, chg); see ``core_numbers``."""
    und = graph.und_edges()  # graph-lifetime cached; do not persist/unpersist
    deg = und.groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("c"))
    init = (graph.vertices.select("vid").join(deg, "vid", "left")
            .select("vid", F.coalesce("c", F.lit(0)).alias("c")))

    def step(state: DataFrame, step_no: int) -> DataFrame:
        nbr = (
            und.join(state.select(F.col("vid").alias("src"),
                                  F.col("c").alias("cs")), "src")
            .join(state.select(F.col("vid").alias("dst"),
                               F.col("c").alias("cd")), "dst")
            .select(F.col("dst").alias("vid"),
                    F.least("cs", "cd").alias("cnb"))
        )
        newc = F.least("c", F.coalesce("h", F.lit(0)))
        return (state.join(_h_index(nbr), "vid", "left")
                .select("vid", newc.alias("c"), (newc != F.col("c")).alias("chg")))

    return FixpointJob("core_numbers", init, step)


def _core_state(graph: LinkGraph) -> DataFrame:
    """Run ``core_number_job`` to convergence; returns the runner's final
    state (a ``truncate`` result)."""
    state, scalars = SuperstepRunner(graph.spark).run(
        core_number_job(graph), max_steps=10_000)
    if scalars["changed"]:
        raise RuntimeError("core_numbers did not converge")
    return state


def core_numbers(graph: LinkGraph) -> DataFrame:
    """(vid, core) for every vertex.

    Computed as the h-index fixpoint (Lü et al. 2016, the same local
    update FLASH's densest/onion apps iterate): start from the degree,
    repeatedly set c(v) = min(c(v), h-index of neighbors' c) until
    stable — converges to EXACTLY the peel decomposition's core numbers
    in a handful of rounds regardless of core depth. The previous
    ascending-peel implementation ran one peel loop PER core level
    (~1000 sequential Spark jobs on a dense 1000-vertex co-purchase
    graph); the fixpoint replaces that with O(rounds) joins."""
    return _core_state(graph).select("vid", F.col("c").alias("core"))


def degeneracy(graph: LinkGraph) -> int:
    """Graph degeneracy = max core number (reference flash_degeneracy,
    apps/flash/core/degeneracy-ordering.h:42-87 — the FLASH app runs the
    same h-index core fixpoint ``core_numbers`` uses, then reports
    max(core) as the degeneracy)."""
    row = core_numbers(graph).agg(F.max("core").alias("m")).first()
    return int(row["m"] or 0)
