"""Path sampling + simple-path enumeration.

Reference:
- sampling_path: in-repo app exercised by the reference CI
  (/root/reference/analytical_engine/test/app_tests.sh:246-264) —
  sample fixed-length paths from the graph. Here: deterministic seeded
  random walks — each walk picks its next edge by
  xxhash64(seed, walk_id, step) % degree, so results are reproducible at
  any parallelism (Spark-side, one join per step, no RNG state).
- all_simple_paths (/root/reference/analytical_engine/apps/simple_path/
  all_simple_paths.h:30-279, registry yaml:278): enumerate all simple
  paths source→target up to a cutoff. Here: breadth-wise frontier of
  partial paths held in an array column; one join + array_contains
  filter per depth (the reference recurses per-vertex; the DataFrame
  form batches the whole frontier per depth).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.graph import LinkGraph, assign_dense_ids
from graphscope_spark.runtime.superstep import (FixpointJob, SuperstepRunner,
                                                free_truncated, truncate)


def sampling_path(graph: LinkGraph, num_paths: int = 100, length: int = 3,
                  seed: int = 42) -> DataFrame:
    """(walk_id, path: array<long>) — `num_paths` seeded random walks of
    up to `length` edges (walks stop early at sinks)."""
    spark = graph.spark
    # adjacency with a per-source neighbor index for deterministic choice
    # (per-src window only — partitions by src, never a global sort)
    adj = graph.edges.select("src", "dst").distinct()
    adj = adj.withColumn(
        "nbr_idx",
        F.row_number().over(Window.partitionBy("src").orderBy("dst")) - 1,
    )
    deg = adj.groupBy("src").agg(F.count("*").alias("deg"))
    adj = truncate(adj.join(deg, "src")).persist(StorageLevel.MEMORY_AND_DISK)

    n = graph.num_vertices
    # dense 0..n-1 vertex ranks via the two-level per-partition numbering
    # (same primitive as the vid map build — no global window)
    ranked = assign_dense_ids(
        graph.vertices.select("vid"), "vid", graph.num_partitions, vid_col="rn")
    starts = (
        spark.range(num_paths)
        .select(F.col("id").alias("walk_id"))
        .join(ranked,
              F.pmod(F.xxhash64(F.col("walk_id") + seed), F.lit(n)) == F.col("rn"))
        .select("walk_id", F.array("vid").alias("path"), F.col("vid").alias("cur"))
    )

    def step(state: DataFrame, s: int) -> DataFrame:
        # each walk matches at most one adjacency row (its chosen
        # neighbor); a walk at a sink is carried unchanged (chg False)
        choice = F.pmod(F.xxhash64(F.col("walk_id") + seed, F.lit(s + 6)),
                        F.col("deg"))
        return (
            state.join(adj, (state["cur"] == adj["src"])
                       & (adj["nbr_idx"] == choice), "left")
            .select("walk_id",
                    F.when(F.col("dst").isNull(), F.col("path"))
                    .otherwise(F.concat("path", F.array("dst"))).alias("path"),
                    F.coalesce("dst", "cur").alias("cur"),
                    F.col("dst").isNotNull().alias("chg"))
        )

    state, _ = SuperstepRunner(spark).run(
        FixpointJob("sampling_path", starts, step), max_steps=length)
    free_truncated(adj)
    adj.unpersist()
    return state.select("walk_id", "path")


def all_simple_paths(graph: LinkGraph, source: int, target: int,
                     cutoff: int = 5) -> DataFrame:
    """(path: array<long>) — every simple path source→target with ≤
    `cutoff` edges. A growing-frontier ``FixpointJob``: the state holds
    every partial path found so far, and a step extends the paths the
    previous step added, except those that reached the target."""
    spark = graph.spark
    edges = graph.edges.select("src", "dst").distinct() \
        .persist(StorageLevel.MEMORY_AND_DISK)

    def step(state: DataFrame, _depth: int) -> DataFrame:
        grown = (
            state.filter(F.col("chg") & (F.col("cur") != target))
            .join(edges, F.col("cur") == F.col("src"))
            .filter(~F.array_contains("path", F.col("dst")))
            .select(F.concat("path", F.array("dst")).alias("path"),
                    F.col("dst").alias("cur"), F.lit(True).alias("chg")))
        return state.withColumn("chg", F.lit(False)).unionByName(grown)

    state, _ = SuperstepRunner(spark).run(FixpointJob(
        "all_simple_paths", spark.createDataFrame(
            [([int(source)], int(source), True)],
            "path ARRAY<BIGINT>, cur LONG, chg BOOLEAN"), step),
        max_steps=cutoff)
    edges.unpersist()
    return state.filter((F.col("cur") == target) & (F.size("path") > 1)) \
        .select("path")


_PORTABLE_P = 2147483647  # 2^31 - 1: keeps every product below 2^52 (no ANSI overflow)


def _portable_rank_hash(seed: int, hop: int):
    """Deterministic per-edge rank hash both Spark and ANSI SQL can
    compute exactly: all operands reduced mod 2^31-1 before the multiply
    so products stay < 2^52 (Spark 4 runs ANSI mode — BIGINT overflow
    raises).  Collisions are fine: callers always tie-break by dst."""
    p = F.lit(_PORTABLE_P)
    return F.pmod(
        F.pmod(F.col("src"), p) * 48271
        + F.pmod(F.col("dst"), p) * 16807
        + F.lit(hop) * 69621 + F.lit(seed), p)


def neighbor_sample(graph: LinkGraph, seeds, fanouts=(10, 5),
                    seed: int = 42, hash_fn: str = "fast") -> DataFrame:
    """(hop, src, dst) — GraphSAGE-style layered neighbor sampling for
    GNN mini-batch training: hop 0 samples ≤ fanouts[0] out-neighbors of
    each seed, hop 1 samples ≤ fanouts[1] out-neighbors of each hop-0
    frontier vertex, and so on (the reference scopes its learning engine
    out of the analytical core, but this is the data-prep op a
    GraphScope-learning user runs upstream of training; semantics follow
    the standard layered-fanout sampler).

    Deterministic at any parallelism: neighbors of each (src, hop) are
    ranked by a hash of (seed, hop, src, dst) with a dst tie-break and
    the top `fanout` kept — a per-src window (shuffle on src, no global
    sort), so re-running at 1000 executors yields byte-identical blocks.
    ``hash_fn='fast'`` ranks with JVM xxhash64 (the scale path);
    ``'portable'`` uses a mod-2^31 LCG mix so an external engine can
    replay the exact sample (the oracle path — same convention as
    functions/dedup.py's hash_fn).

    ``seeds``: list of vids, or a one-column DataFrame. The frontier of
    each hop is the distinct sampled-neighbor set (revisits across hops
    allowed, as in standard samplers). The hops are a growing-frontier
    ``FixpointJob``: the state holds every sampled (hop, src, dst) row
    plus the seeds as hop -1 rows, and a hop expands the rows the
    previous hop added.
    """
    if hash_fn not in ("fast", "portable"):
        raise ValueError("hash_fn must be 'fast' or 'portable'")
    spark = graph.spark
    edges = graph.edges.select("src", "dst").distinct()
    if isinstance(seeds, DataFrame):
        seeds = seeds.select(F.col(seeds.columns[0]).cast("long").alias("dst"))
    else:
        seeds = spark.createDataFrame([(int(s),) for s in seeds], "dst LONG")
    init = seeds.distinct().select(F.lit(-1).alias("hop"),
                                   F.lit(None).cast("long").alias("src"),
                                   "dst", F.lit(True).alias("chg"))

    def step(state: DataFrame, s: int) -> DataFrame:
        hop = s - 1
        if hash_fn == "fast":
            h = F.xxhash64(F.lit(seed), F.lit(hop), F.col("src"), F.col("dst"))
        else:
            h = _portable_rank_hash(seed, hop)
        frontier = state.filter(F.col("chg")).select(
            F.col("dst").alias("src")).distinct()
        sampled = (
            edges.join(frontier, "src")
            .withColumn("_rk", F.row_number().over(
                Window.partitionBy("src").orderBy(h.asc(), F.col("dst").asc())))
            .filter(F.col("_rk") <= fanouts[hop])
            .select(F.lit(hop).alias("hop"), "src", "dst", F.lit(True).alias("chg"))
        )
        return state.withColumn("chg", F.lit(False)).unionByName(sampled)

    state, _ = SuperstepRunner(spark).run(
        FixpointJob("neighbor_sample", init, step), max_steps=len(fanouts))
    return state.filter(F.col("hop") >= 0).select("hop", "src", "dst")
