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

Spark shape: the peel loop is degree-recompute + filter — each round one
aggregation over the remaining edge set; the frontier-style optimization
(only neighbors of removed vertices change degree) is kept implicitly by
AQE since the removed set shrinks fast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.graph import LinkGraph
from graphscope_spark.runtime.superstep import Truncator, free_truncated, truncate


def _peel(edges: DataFrame, k: int, spark, t: Truncator | None = None) -> DataFrame:
    """Remove vertices with degree < k until stable; returns the surviving
    symmetric edge set. ``edges`` must be the symmetric simple view.

    One driver action per round: the degree table is persisted and a
    single aggregate yields both the total and surviving vertex counts
    (the old two-``count()`` form doubled the job count of the whole
    ascending-peel ``core_numbers`` loop).

    The incoming ``edges`` (usually the graph-lifetime cached
    ``und_edges`` view) is used as-is — persisting/unpersisting it here
    would evict the shared cache for every later operator on the graph;
    pruned rounds are checkpointed by the Truncator, which also reclaims
    each superseded round's blocks."""
    t = t or Truncator()
    while True:
        deg = edges.groupBy("src").agg(F.count("*").alias("deg")).persist(
            StorageLevel.MEMORY_AND_DISK)
        row = deg.agg(
            F.count("*").alias("tot"),
            F.sum((F.col("deg") >= k).cast("long")).alias("kept")).first()
        if (row["tot"] or 0) == (row["kept"] or 0):
            deg.unpersist()
            return edges
        keep = deg.filter(F.col("deg") >= k).select("src")
        pruned = (
            edges.join(keep, "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )
        pruned = t(pruned, "peel_edges")
        deg.unpersist()
        edges = pruned


def kcore(graph: LinkGraph, k: int) -> DataFrame:
    """Vertices of the k-core → (vid). The 0-core is every vertex
    (isolated vertices included), matching ``core_numbers`` which
    assigns them core 0."""
    if k <= 0:
        return graph.vertices.select("vid")
    surv = _peel(graph.und_edges(), k, graph.spark)
    return surv.select(F.col("src").alias("vid")).distinct()


def kshell(graph: LinkGraph, k: int) -> DataFrame:
    """Vertices with core number exactly k → (vid)."""
    core_k = kcore(graph, k)
    core_k1 = kcore(graph, k + 1)
    return core_k.join(core_k1, "vid", "left_anti")


def onion_layers(graph: LinkGraph) -> DataFrame:
    """(vid, layer) — onion-layer ordering (reference gs::OnionFlash,
    /root/reference/analytical_engine/apps/flash/core/
    onion-layer-ordering.h:43-95): after the core-number fixpoint,
    initialize d(v) = #neighbors with core ≥ core(v); round i assigns
    layer i to every unranked vertex with d ≤ core, then unranked
    SAME-core neighbors of newly ranked vertices decrement d by the
    count ranked (the reference's check ``d.core == s.core && rank == -1``).
    """
    t = Truncator()
    cores = truncate(core_numbers(graph))
    und = graph.und_edges()  # graph-lifetime cached; do not persist/unpersist
    cs = cores.select(F.col("vid").alias("src"), F.col("core").alias("score"))
    cd = cores.select(F.col("vid").alias("dst"), F.col("core").alias("dcore"))
    ce = und.join(cs, "src").join(cd, "dst").persist(StorageLevel.MEMORY_AND_DISK)
    d0 = (
        ce.filter(F.col("score") >= F.col("dcore"))
        .groupBy(F.col("dst").alias("vid")).agg(F.count("*").alias("d"))
    )
    state = t(
        cores.join(d0, "vid", "left")
        .select("vid", "core", F.coalesce("d", F.lit(0)).alias("d"),
                F.lit(-1).alias("layer")),
        "state")
    i = 0
    while True:
        newly = state.filter((F.col("layer") == -1) & (F.col("d") <= F.col("core"))) \
            .select("vid", F.col("core").alias("ncore"))
        cnt = (
            und.join(newly.withColumnRenamed("vid", "src"), "src")
            .groupBy(F.col("dst").alias("vid"), F.col("ncore"))
            .agg(F.count("*").alias("dec"))
        )
        new_state = (
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
                F.when(F.col("_n").isNotNull(), F.lit(i))
                .otherwise(state["layer"]).alias("layer"),
            )
        )
        new_state = t(new_state, "state")
        remaining = new_state.filter(F.col("layer") == -1).count()
        state = new_state
        i += 1
        if remaining == 0:
            break
        if i > 100_000:
            raise RuntimeError("onion_layers did not terminate")
    ce.unpersist()
    free_truncated(cores)
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
    t = Truncator()
    und = graph.und_edges()  # graph-lifetime cached; do not persist/unpersist
    deg = und.groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("c"))
    state = t(
        graph.vertices.select("vid").join(deg, "vid", "left")
        .select("vid", F.coalesce("c", F.lit(0)).alias("c")), "state")
    rounds = 0
    while True:
        rounds += 1
        if rounds > 10_000:
            raise RuntimeError("core_numbers did not converge")
        nbr = (
            und.join(state.select(F.col("vid").alias("src"),
                                  F.col("c").alias("cs")), "src")
            .join(state.select(F.col("vid").alias("dst"),
                               F.col("c").alias("cd")), "dst")
            .select(F.col("dst").alias("vid"),
                    F.least("cs", "cd").alias("cnb"))
        )
        h = _h_index(nbr)
        new_state = (
            state.join(h, "vid", "left")
            .select("vid",
                    F.least("c", F.coalesce("h", F.lit(0))).alias("c"),
                    (F.least("c", F.coalesce("h", F.lit(0))) != F.col("c"))
                    .alias("chg"))
        )
        new_state = t(new_state, "state")
        changed = new_state.agg(F.sum(F.col("chg").cast("long"))).first()[0] or 0
        state = new_state.drop("chg")
        if changed == 0:
            break
    out = truncate(state.select("vid", F.col("c").alias("core")))
    t.close()
    return out


def degeneracy(graph: LinkGraph) -> int:
    """Graph degeneracy = max core number (reference flash_degeneracy,
    apps/flash/core/degeneracy-ordering.h:42-87 — the FLASH app runs the
    same h-index core fixpoint ``core_numbers`` uses, then reports
    max(core) as the degeneracy)."""
    row = core_numbers(graph).agg(F.max("core").alias("m")).first()
    return int(row["m"] or 0)
