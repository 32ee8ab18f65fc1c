"""node2vec-style second-order biased random walks.

The walk corpus an embedding pipeline feeds to skip-gram training.
Extends the reference's sampling family (``sampling_path``, exercised
by /root/reference/analytical_engine/test/app_tests.sh:246-264; its
learning engine samples neighborhoods for the same purpose but is out
of the analytical scope) with the node2vec bias (Grover & Leskovec,
KDD 2016): from ``cur`` with predecessor ``prev``, a candidate ``x``
weighs 1/p if x == prev, 1 if x is a neighbor of prev, else 1/q.

Determinism without RNG state: weights are INTEGERS
(``round(scale/p)``, ``scale``, ``round(scale/q)``) and the pick is
``R mod total_weight`` landing in a candidate's cumulative-sum range,
with R a 60-bit hash of (walk_id, step, seed). No floats anywhere, so
results are identical at any parallelism and — in ``hash_fn="sha2"``
mode — replayable exactly by any SQL engine (the contract oracle
unrolls the same joins/windows in DuckDB).

Scale shape (one superstep per step, like PageRank):
- frontier ⋈ out-adjacency on ``cur`` (adjacency pre-partitioned by
  src, persisted once);
- LEFT join against the symmetric edge set on (prev, candidate) for
  the distance-1 test — key-only columns;
- per-walk cumulative-sum window (partition = walk_id, partition size
  = out-degree of cur);
- the steps are a fixed-depth ``FixpointJob`` on ``SuperstepRunner``
  (lineage truncated every step); a walk at a sink is carried unchanged
  (``chg`` false) instead of silently vanishing from the inner join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.functions.dedup import _hash60
from graphscope_spark.graph import LinkGraph
from graphscope_spark.runtime.superstep import FixpointJob, SuperstepRunner


def _pick_hash(step: int, seed: int, hash_fn: str):
    return _hash60(F.concat_ws(
        ":", F.col("walk_id").cast("string"), F.lit(str(step)),
        F.lit(str(seed))), hash_fn)


def node2vec_walks(graph: LinkGraph, length: int = 4, p: float = 1.0,
                   q: float = 1.0, seed: int = 42, scale: int = 1000,
                   hash_fn: str = "xxhash64") -> DataFrame:
    """(walk_id, path: array<long>) — one walk per vertex, up to
    ``length`` edges, second-order (p, q)-biased; stops early at sinks.

    ``p``/``q`` are quantized to integer weights at 1/``scale``
    resolution (exact for the usual 0.25/0.5/1/2/4 grid). The no-prev
    sentinel is -1, so vertex ids must be non-negative (true for every
    LinkGraph built through the dense vid map; asserted here for raw
    edge frames)."""
    w_ret = max(1, round(scale / p))
    w_far = max(1, round(scale / q))
    w_mid = scale

    min_vid = graph.vertices.agg(F.min("vid")).first()[0]
    if min_vid is not None and min_vid < 0:
        raise ValueError("node2vec_walks requires non-negative vertex "
                         "ids (-1 is the no-prev sentinel); remap via "
                         "LinkGraph.from_oid_edges")

    adj = (graph.edges.select("src", "dst").distinct()
           .repartition(graph.num_partitions, "src")
           .persist(StorageLevel.MEMORY_AND_DISK))
    nbr = (graph.sym_edges().select(F.col("src").alias("_p"),
                                    F.col("dst").alias("_x"))
           .distinct()
           .repartition(graph.num_partitions, "_p")
           .persist(StorageLevel.MEMORY_AND_DISK))

    init = graph.vertices.select(
        F.col("vid").alias("walk_id"),
        F.lit(-1).cast("long").alias("prev"),
        F.col("vid").alias("cur"),
        F.array(F.col("vid")).alias("path"))

    cum_w = (Window.partitionBy("walk_id").orderBy("dst")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tot_w = Window.partitionBy("walk_id")

    def step(state: DataFrame, s: int) -> DataFrame:
        cand = (state.join(adj.hint("shuffle_hash"),
                           state["cur"] == adj["src"])
                .select("walk_id", "prev", "cur", "path", "dst"))
        cand = cand.join(
            nbr.hint("shuffle_hash"),
            (cand["prev"] == nbr["_p"]) & (cand["dst"] == nbr["_x"]),
            "left")
        w = (F.when(F.col("prev") < 0, F.lit(w_mid))
             .when(F.col("dst") == F.col("prev"), F.lit(w_ret))
             .when(F.col("_x").isNotNull(), F.lit(w_mid))
             .otherwise(F.lit(w_far)).cast("long"))
        cand = cand.select(
            "walk_id", "cur", "path", "dst", w.alias("_w"))
        cand = cand.select(
            "*",
            F.sum("_w").over(cum_w).alias("_cum"),
            F.sum("_w").over(tot_w).alias("_tot"))
        r = _pick_hash(s - 1, seed, hash_fn) % F.col("_tot")
        picked = cand.filter((r >= F.col("_cum") - F.col("_w"))
                             & (r < F.col("_cum")))
        stuck = state.join(adj, state["cur"] == adj["src"], "left_anti")
        return picked.select(
            "walk_id",
            F.col("cur").alias("prev"),
            F.col("dst").alias("cur"),
            F.concat("path", F.array("dst")).alias("path"),
            F.lit(True).alias("chg"),
        ).unionByName(stuck.withColumn("chg", F.lit(False)))

    try:
        state, _ = SuperstepRunner(graph.spark).run(
            FixpointJob("node2vec_walks", init, step), max_steps=length)
        return state.select("walk_id", "path")
    finally:
        adj.unpersist()
        nbr.unpersist()


def skipgram_pairs(walks: DataFrame, window: int = 2,
                   path_col: str = "path") -> DataFrame:
    """(center, context, cnt) — skip-gram training pairs from walk
    paths: for every position i and offset 1..window emit both
    directions, then aggregate counts. This is the corpus a
    word2vec-style embedding trainer consumes downstream of
    ``node2vec_walks``.

    Pure array expressions build the per-walk pair list (no self-join,
    no UDF); one explode + one (center, context) aggregate — the only
    shuffle, key width two longs."""
    path = F.col(path_col)
    n = F.size(path)
    fwd = F.when(n >= 2, F.flatten(F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: F.transform(
            F.sequence(i + 1, F.least(i + window, n - 1)),
            lambda j: F.struct(F.element_at(path, i + 1).alias("center"),
                               F.element_at(path, j + 1).alias("context"))),
    ))).otherwise(F.array().cast("array<struct<center:long,context:long>>"))
    pairs = (walks.select(F.explode(fwd).alias("pr"))
             .select("pr.center", "pr.context"))
    both = pairs.unionByName(
        pairs.select(F.col("context").alias("center"),
                     F.col("center").alias("context")))
    return both.groupBy("center", "context").agg(F.count("*").alias("cnt"))
