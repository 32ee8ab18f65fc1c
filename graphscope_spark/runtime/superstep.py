"""Superstep runtime: the engine's equivalent of the PIE worker loop.

Reference lifecycle (SURVEY.md §3): ``DefaultWorker::Query`` runs
``ctx.Init → PEval → while(!messages.ToTerminate()) IncEval`` with MPI
barriers between supersteps (reference
analytical_engine/core/worker/default_worker.h:88-135). Here PEval is the
job's ``init``, each IncEval is one ``step`` whose shuffle is the barrier,
and termination is the boolean the step computes from its scalar
aggregations (the reference's ``Sum(eps, total)`` all-reduce ≡ one Spark
action).

What Spark adds that the reference never needed (SURVEY.md §7.3 risk #1):
an iterative DataFrame loop grows its logical plan without bound, so the
runner persists each state, unpersists the previous one, and every
``checkpoint_every`` steps writes the state to Parquet and re-reads it —
truncating lineage — together with a JSON manifest capturing loop-carried
scalars and per-partition metrics (rows + xxhash64 checksum + timing). The
manifest makes a killed job resumable mid-iteration (north-rule
requirement; replaces vineyard persistence, reference
grape_instance.cc:302-306).

Both loop styles truncate through one primitive, ``truncate``: an eager
``localCheckpoint`` whose block RDD is read off the checkpointed plan (a
``LogicalRDD``) and freed by ``free_truncated`` once superseded, since
``DataFrame.unpersist()`` never frees localCheckpoint blocks. Its one
choice is what the truncated plan keeps:

* ``keep_partitioning=True`` (the runner): plain ``localCheckpoint``
  keeps ``outputPartitioning``, so the next step's joins against the
  src-partitioned edge cache stay exchange-free (guarded by
  tests/test_plan_quality.py). Runner steps are shallow, so the child
  statistics the LogicalRDD carries do not compound measurably.
* ``keep_partitioning=False`` (``Truncator`` driver loops): the carried
  statistics are reset by rebuilding the DataFrame over the same blocks
  with ``internalCreateDataFrame``. Spark's size-only estimator
  multiplies child ``sizeInBytes`` through joins as arbitrary-precision
  integers, so a loop whose state plan has J joins grows the carried
  stat's bit-length ~J-fold per round (observed: 0.4 s -> 200 s per
  Louvain round on a 120-vertex graph, 7 GB driver RSS, in
  ``BigInteger.multiply`` under ``SizeInBytesOnlyStatsPlanVisitor``).
  The rebuilt plan loses ``outputPartitioning``.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# Absolute row cap for sparse-mode broadcast of an aggregated message
# table: the relative (threshold * |V|) gate alone lets a 5%-of-2B-vertex
# message set through, and wide-register states (ANF) hit the 8 GB
# broadcast hard limit well before narrow ones. Jobs gate on
# min(threshold * V, BROADCAST_CAP_ROWS).
BROADCAST_CAP_ROWS = 8_000_000


class SuperstepJob:
    """Base class for iterative algorithms.

    Subclasses implement:
      ``init(spark) -> (state_df, scalars)``        — PEval
      ``step(state_df, step_no, scalars) -> (state_df, finalize)``
                                                     — IncEval
    where ``finalize(materialized_state) -> (scalars, converged)`` runs the
    step's scalar aggregations (the reference's ``Sum()`` all-reduces,
    pagerank_networkx.h:146) *after* the runner has materialized the new
    state — so each superstep computes its pipeline exactly once: the
    runner's lineage-truncating localCheckpoint is the only pass over the
    join/agg plan, and the convergence aggregate reads the cached blocks.

    ``scalars`` is a JSON-serializable dict of loop-carried values (e.g.
    PageRank's dangling_sum / eps — reference pagerank_networkx.h:94,146).
    The runner owns persistence, lineage truncation, checkpoint manifests,
    and resume.
    """

    name: str = "job"

    def init(self, spark: SparkSession):  # pragma: no cover - interface
        raise NotImplementedError

    def step(self, state: DataFrame, step_no: int, scalars: dict):  # pragma: no cover
        raise NotImplementedError

    def config(self) -> dict:
        """Hashable config dict; stored in the manifest so a resume can
        refuse mismatched parameters."""
        return {}


def truncate(df: DataFrame, keep_partitioning: bool = False) -> DataFrame:
    """Eagerly materialize ``df`` and cut its lineage (module docstring:
    ``keep_partitioning`` vs. stats reset). The result carries the
    checkpoint's block RDD in ``_gs_blocks`` for ``free_truncated``."""
    ckpt = df.localCheckpoint(eager=True)
    jdf = ckpt._jdf
    blocks = jdf.queryExecution().logical().rdd()
    if not keep_partitioning:
        spark = df.sparkSession
        ckpt = DataFrame(spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False), spark)
    ckpt._gs_blocks = blocks
    return ckpt


def free_truncated(df: DataFrame | None) -> None:
    """Free the block RDD a ``truncate`` call created. Only call once the
    data is provably dead: a freed block cannot be recomputed."""
    blocks = getattr(df, "_gs_blocks", None)
    if blocks is not None:
        blocks.unpersist(False)
        df._gs_blocks = None


class Truncator:
    """Per-slot ``truncate`` for driver loops.

    ``t(df, slot)`` truncates ``df`` (materializing it, which may read
    the slot's previous checkpoint) and THEN frees the slot's previous
    checkpoint, so a loop keeps at most one live state per slot. Call
    ``close()`` once the final results have been consumed (or copied out
    by a further ``truncate``)."""

    def __init__(self):
        self._live: dict[str, DataFrame] = {}

    def __call__(self, df: DataFrame, slot: str = "state") -> DataFrame:
        out = truncate(df)
        free_truncated(self._live.get(slot))
        self._live[slot] = out
        return out

    def free(self, slot: str) -> None:
        """Free a slot's live checkpoint now (data provably dead)."""
        free_truncated(self._live.pop(slot, None))

    def close(self) -> None:
        for df in self._live.values():
            free_truncated(df)
        self._live.clear()


@dataclass
class StepMetrics:
    step: int
    wall_ms: float
    scalars: dict
    checkpointed: bool = False


class SuperstepRunner:
    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str | None = None,
        checkpoint_every: int = 5,
    ):
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.checkpoint_every = max(1, checkpoint_every)
        self.history: list[StepMetrics] = []

    # ---- manifest helpers --------------------------------------------------

    def _manifest_path(self, step: int) -> str:
        return os.path.join(self.checkpoint_dir, f"step_{step:05d}", "manifest.json")

    def _state_path(self, step: int) -> str:
        return os.path.join(self.checkpoint_dir, f"step_{step:05d}", "state")

    def _write_checkpoint(self, job: SuperstepJob, state: DataFrame, step: int,
                          scalars: dict, prev_ckpt: int | None) -> DataFrame:
        spath = self._state_path(step)
        state.write.mode("overwrite").parquet(spath)
        reloaded = self.spark.read.parquet(spath).persist(StorageLevel.MEMORY_AND_DISK)

        cols = [F.col(c) for c in reloaded.columns]
        # bit_xor is order-independent and cannot overflow (ANSI mode is
        # on by default in Spark 4; sum(xxhash64) overflows long).
        rows = (
            reloaded.groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.count("*").alias("rows"),
                 F.bit_xor(F.xxhash64(*cols)).alias("checksum"))
            .collect()
        )
        per_part = [
            {"pid": r["pid"], "rows": r["rows"], "checksum": str(r["checksum"])}
            for r in sorted(rows, key=lambda r: r["pid"])
        ]

        manifest = {
            "algo": job.name,
            "step": step,
            "state_path": spath,
            "scalars": scalars,
            "config": job.config(),
            "input_checkpoint": (
                self._state_path(prev_ckpt) if prev_ckpt is not None else None
            ),
            "per_partition": per_part,
            "wrote_at": time.time(),
        }
        mpath = self._manifest_path(step)
        os.makedirs(os.path.dirname(mpath), exist_ok=True)
        with open(mpath, "w") as f:
            json.dump(manifest, f, indent=1)
        with open(os.path.join(self.checkpoint_dir, "LATEST"), "w") as f:
            f.write(str(step))
        return reloaded

    def latest_checkpoint(self) -> dict | None:
        if not self.checkpoint_dir:
            return None
        latest = os.path.join(self.checkpoint_dir, "LATEST")
        if not os.path.exists(latest):
            return None
        with open(latest) as f:
            step = int(f.read().strip())
        with open(self._manifest_path(step)) as f:
            return json.load(f)

    # ---- the loop ------------------------------------------------------------

    def run(
        self,
        job: SuperstepJob,
        max_steps: int = 1_000_000,
        resume: bool = False,
        on_step: Callable[[StepMetrics], None] | None = None,
    ) -> tuple[DataFrame, dict]:
        """Run ``job`` to convergence (or ``max_steps``). With
        ``resume=True`` and a readable manifest, restart from the last
        checkpointed superstep instead of ``init``."""
        self.history = []
        start_step = 0
        last_ckpt: int | None = None

        manifest = self.latest_checkpoint() if resume else None
        if manifest is not None:
            if manifest["config"] != job.config():
                raise ValueError(
                    f"resume config mismatch: checkpoint {manifest['config']} "
                    f"!= job {job.config()}"
                )
            state = self.spark.read.parquet(manifest["state_path"]).persist(
                StorageLevel.MEMORY_AND_DISK)
            scalars = manifest["scalars"]
            start_step = manifest["step"]
            last_ckpt = manifest["step"]
        else:
            state, scalars = job.init(self.spark)
            state = state.persist(StorageLevel.MEMORY_AND_DISK)

        converged = scalars.get("converged", False)
        step_no = start_step
        while not converged and step_no < max_steps:
            step_no += 1
            t0 = time.perf_counter()
            raw_state, finalize = job.step(state, step_no, scalars)

            # Truncate lineage EVERY superstep: the new state's logical
            # plan references the old state several times (contrib +
            # apply join), so without truncation analysis cost grows
            # ~3^k with iteration k (SURVEY.md §7.3 risk #1). The
            # checkpoint materializes the plan ONCE; the job's finalize
            # then computes its scalar aggregates from the blocks.
            new_state = truncate(raw_state, keep_partitioning=True)
            scalars, converged = finalize(new_state)
            # the previous state is a checkpoint (blocks) or the persisted
            # init/reloaded frame (Dataset cache)
            free_truncated(state)
            state.unpersist()
            state = new_state

            checkpointed = False
            if self.checkpoint_dir and (
                converged or step_no % self.checkpoint_every == 0
            ):
                scalars = dict(scalars, converged=bool(converged))
                ckpt_state = self._write_checkpoint(job, state, step_no, scalars, last_ckpt)
                free_truncated(state)
                state = ckpt_state
                last_ckpt = step_no
                checkpointed = True

            m = StepMetrics(
                step=step_no,
                wall_ms=(time.perf_counter() - t0) * 1000.0,
                scalars={k: v for k, v in scalars.items()},
                checkpointed=checkpointed,
            )
            self.history.append(m)
            if on_step:
                on_step(m)

        return state, scalars
