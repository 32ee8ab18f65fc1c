"""Incremental algorithms over an edge stream (Ingress-style memoization).

The Ingress memoization story for WCC (reference
docs/analytical_engine/ingress.md: re-run from previous state instead
of from scratch) mapped onto Structured Streaming: per micro-batch of
new edges, merge the components they touch and persist the label table.

Per batch (foreachBatch):
  1. load the previous (vid, comp) state (parquet; comp = min vid of
     the component — the same labels batch ``wcc`` produces);
  2. relabel the batch edges' endpoints with their current comp
     (unseen vertices label themselves);
  3. HashMin fixpoint (the shared ``hashmin`` of operators/wcc.py)
     over the COMPONENT-link graph only — one row per distinct
     (comp_a, comp_b) pair in the batch, radically smaller than the
     accumulated edge set;
  4. apply the comp→comp mapping to the state, union new vertices,
     write back (crash-safe versioned publish — see ``_PublishedDir``).

Invariant (tested): after any prefix of batches the state equals batch
``wcc`` on the union of all edges seen — labels included, because
min-label merging composes.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphscope_spark.operators.wcc import hashmin
from graphscope_spark.runtime.superstep import free_truncated


class _PublishedDir:
    """Crash-safe single-table parquet state: versioned directories plus
    an atomically-replaced CURRENT pointer file.

    ``publish`` writes the new table into a fresh ``v_<n>`` directory,
    fsyncs a pointer file naming it, atomically renames the pointer over
    CURRENT (POSIX rename is atomic), and only then deletes the previous
    version. A crash at ANY point leaves CURRENT referring to a complete
    table — the naive rmtree(live); os.replace(tmp, live) swap has a
    window where a kill destroys the entire state (the live directory is
    gone, the checkpoint says the batch committed, and the state is
    never rebuilt)."""

    def __init__(self, root: str):
        self.root = root
        self._cur = os.path.join(root, "CURRENT")

    def path(self) -> str | None:
        if not os.path.exists(self._cur):
            return None
        with open(self._cur) as f:
            name = f.read().strip()
        p = os.path.join(self.root, name)
        return p if name and os.path.exists(p) else None

    def publish(self, df: DataFrame) -> None:
        os.makedirs(self.root, exist_ok=True)
        prev = self.path()
        n = (int(os.path.basename(prev).split("_")[1]) + 1) if prev else 0
        new = os.path.join(self.root, f"v_{n}")
        if os.path.exists(new):  # leftover from a crashed attempt
            shutil.rmtree(new)
        df.write.mode("overwrite").parquet(new)
        tmp_ptr = self._cur + ".tmp"
        with open(tmp_ptr, "w") as f:
            f.write(os.path.basename(new))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp_ptr, self._cur)
        if prev and os.path.exists(prev):
            shutil.rmtree(prev)


class IncrementalWCC:
    """foreachBatch sink maintaining a (vid, comp) parquet state.

    Replay-safe without batch-id bookkeeping: min-label merging is
    idempotent (re-merging already-merged edges is a no-op), so an
    at-least-once redelivery of a batch converges to the same state."""

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.state_dir = state_dir
        self._state = _PublishedDir(os.path.join(state_dir, "labels"))

    # ---- state io ---------------------------------------------------------

    def labels(self) -> DataFrame:
        p = self._state.path()
        if p is not None:
            return self.spark.read.parquet(p)
        return self.spark.createDataFrame([], "vid LONG, comp LONG")

    def _write(self, df: DataFrame) -> None:
        self._state.publish(df)

    # ---- the merge --------------------------------------------------------

    def process_batch(self, batch: DataFrame, batch_id: int | None = None) -> None:
        e = batch.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        if e.isEmpty():
            return
        state = self.labels()
        # current labels for the batch endpoints; unseen → own vid
        ids = e.select(F.col("src").alias("vid")).union(
            e.select(F.col("dst").alias("vid"))).distinct()
        lab = (
            ids.join(state, "vid", "left")
            .select("vid", F.coalesce("comp", F.col("vid")).alias("comp"))
        )
        le = (
            e.join(lab.withColumnRenamed("vid", "src")
                   .withColumnRenamed("comp", "cs"), "src")
            .join(lab.withColumnRenamed("vid", "dst")
                  .withColumnRenamed("comp", "cd"), "dst")
            .select(F.col("cs").alias("src"), F.col("cd").alias("dst"))
            .filter(F.col("src") != F.col("dst")).distinct()
        )
        # HashMin over the component-link graph (tiny). try/finally: a
        # failed batch must still free m's blocks — a long-running sink
        # would otherwise leak them on every streaming retry
        pairs = le.unionByName(le.select(F.col("dst").alias("src"),
                                         F.col("src").alias("dst")))
        m = hashmin(pairs, lab.select(F.col("comp").alias("vid")).distinct()
                    .select("vid", F.col("vid").alias("comp")))
        try:
            mapping = m.filter(F.col("vid") != F.col("comp")).select(
                F.col("vid").alias("comp"), F.col("comp").alias("root"))
            new_state = (
                state.unionByName(
                    lab.join(state.select("vid"), "vid", "left_anti"))
                .join(mapping, "comp", "left")
                .select("vid", F.coalesce("root", F.col("comp")).alias("comp"))
            )
            self._write(new_state)  # materializes before m's blocks are freed
        finally:
            free_truncated(m)

    # ---- streaming entry --------------------------------------------------

    def attach(self, edge_stream: DataFrame, checkpoint_dir: str,
               trigger_available_now: bool = True):
        """writeStream with this sink; returns the StreamingQuery."""
        w = edge_stream.writeStream.foreachBatch(self.process_batch) \
            .option("checkpointLocation", checkpoint_dir)
        if trigger_available_now:
            w = w.trigger(availableNow=True)
        return w.start()


class IncrementalPageRank:
    """foreachBatch sink maintaining converged PageRank over the edges
    seen so far, restarted warm from the previous batch's ranks.

    The Ingress memoization story for PageRank (reference
    docs/analytical_engine/ingress.md: monotonic/accumulative
    incrementalization — re-run from the memoized state rather than
    from 1/n): per micro-batch the new edges are appended to the edge
    store, and the solver converges on the union graph seeded with the
    previous fixpoint (``pagerank(init_ranks=...)``). The fixpoint is a
    contraction (damping alpha < 1), so the warm start reaches the SAME
    answer as a cold run — in far fewer supersteps when a batch touches
    a small fraction of the graph (the common streaming regime). The
    per-batch superstep count is recorded in ``iterations_history`` so
    the saving is observable.

    State layout under ``state_dir``: ``edges/batch_<id>/`` (one
    atomically-renamed parquet directory per micro-batch — the batch id
    keys the append, so an at-least-once foreachBatch REPLAY is a no-op
    instead of double-counting every redelivered edge) and ``ranks/``
    (a crash-safe ``_PublishedDir`` of the converged (vid, rank) table).
    """

    def __init__(self, spark: SparkSession, state_dir: str,
                 alpha: float = 0.85, tol: float = 1e-6,
                 max_iter: int = 100, num_partitions: int | None = None):
        self.spark = spark
        self.state_dir = state_dir
        self.alpha, self.tol, self.max_iter = alpha, tol, max_iter
        self.num_partitions = num_partitions
        self._edges = os.path.join(state_dir, "edges")
        self._ranks = _PublishedDir(os.path.join(state_dir, "ranks"))
        self.iterations_history: list[int] = []

    def ranks(self) -> DataFrame | None:
        p = self._ranks.path()
        return self.spark.read.parquet(p) if p is not None else None

    def _batch_dirs(self) -> list[str]:
        if not os.path.isdir(self._edges):
            return []
        return sorted(
            os.path.join(self._edges, d) for d in os.listdir(self._edges)
            if d.startswith("batch_") and not d.endswith(".tmp"))

    def edges(self) -> DataFrame | None:
        dirs = self._batch_dirs()
        return self.spark.read.parquet(*dirs) if dirs else None

    def _append_edges(self, e: DataFrame, batch_id: int | None) -> bool:
        """Record the batch's edges under a batch-id-keyed directory.
        Returns False when this batch id is already fully recorded (a
        foreachBatch replay) — PageRank is NOT idempotent under edge
        re-append (each duplicate doubles that edge's weight forever),
        which is exactly what the batch_id parameter exists to prevent.
        Manual callers without an id get the next sequential slot (no
        replay protection — there is nothing to key it on)."""
        if batch_id is None:
            taken = {int(os.path.basename(d).split("_")[1])
                     for d in self._batch_dirs()}
            batch_id = max(taken) + 1 if taken else 0
        bdir = os.path.join(self._edges, f"batch_{int(batch_id)}")
        if os.path.exists(bdir):
            return False
        tmp = bdir + ".tmp"
        if os.path.exists(tmp):  # crashed earlier attempt
            shutil.rmtree(tmp)
        e.write.mode("overwrite").parquet(tmp)
        os.replace(tmp, bdir)  # atomic: replay sees all-or-nothing
        return True

    def process_batch(self, batch: DataFrame, batch_id: int | None = None) -> None:
        from graphscope_spark.graph import LinkGraph
        from graphscope_spark.operators.pagerank import PageRankJob
        from graphscope_spark.runtime.superstep import SuperstepRunner

        e = batch.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        if e.isEmpty():
            return
        # a replay's edges are dropped by the batch-id key; the solve
        # below always re-runs — it reads the FULL edge store, so it is
        # idempotent, and the published ranks could be one batch stale
        # if the previous attempt crashed between the edge commit and
        # the rank publish
        self._append_edges(e, batch_id)
        g = LinkGraph(self.spark, self.edges(),
                      num_partitions=self.num_partitions)
        try:
            # PageRankJob's init_ranks path left-joins onto the vertex set
            # and coalesces unseen vertices to 1/n — new vertices enter
            # cold, and the alpha-contraction washes the carried scale out
            # within tol
            init = self.ranks()
            runner = SuperstepRunner(self.spark)
            job = PageRankJob(g, alpha=self.alpha, max_iter=self.max_iter,
                              tol=self.tol, init_ranks=init)
            state, _ = runner.run(job, max_steps=self.max_iter + 1)
            self.iterations_history.append(len(runner.history))
            self._ranks.publish(state.select("vid", "rank"))
        finally:
            g.unpersist_all()

    def attach(self, edge_stream: DataFrame, checkpoint_dir: str,
               trigger_available_now: bool = True):
        """writeStream with this sink; returns the StreamingQuery."""
        w = edge_stream.writeStream.foreachBatch(self.process_batch) \
            .option("checkpointLocation", checkpoint_dir)
        if trigger_available_now:
            w = w.trigger(availableNow=True)
        return w.start()
