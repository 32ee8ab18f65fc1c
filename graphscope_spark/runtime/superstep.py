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
runner truncates each state (the init's included), frees the previous one,
and every ``checkpoint_every`` steps writes the state to Parquet and
re-reads it, together with a JSON manifest capturing loop-carried
scalars and per-partition metrics (rows + xxhash64 checksum + timing). The
manifest makes a killed job resumable mid-iteration (north-rule
requirement; replaces vineyard persistence, reference
grape_instance.cc:302-306). The manifest and the ``LATEST`` pointer are
replaced atomically (temp file + ``os.replace``), so a crash mid-write
leaves the previous checkpoint resumable.

There is one loop style: every iterative operator runs its supersteps on
``SuperstepRunner``, most as a ``FixpointJob``. A driver loop whose
rounds each run runner jobs (scc's peel passes, msf's Borůvka rounds,
Louvain's levels) is a plain Python loop that holds its per-round frames
with the same primitive the runner uses, ``truncate``: an eager
``localCheckpoint`` whose block RDD is read off the checkpointed plan (a
``LogicalRDD``) and freed by ``free_truncated`` once superseded, since
``DataFrame.unpersist()`` never frees localCheckpoint blocks. The
``LogicalRDD`` is rebuilt without the statistics it carries from the
child plan: Spark's size-only estimator multiplies child ``sizeInBytes``
through joins as arbitrary-precision integers, so a carried estimate
compounds every round (observed: 0.4 s -> 200 s per Louvain round on a
120-vertex graph in ``BigInteger.multiply``; a 3-join core-number step
did not finish in 6 minutes on a 3000-vertex graph). The rebuilt plan
falls back to ``defaultSizeInBytes`` and keeps whatever
``outputPartitioning`` the checkpoint reports: ``hashpartitioning``
with AQE off, which keeps the next step's joins against the
src-partitioned edge cache exchange-free (tests/test_plan_quality.py),
but ``UnknownPartitioning`` under AQE, ``build_session``'s default, so
the state is re-exchanged every step.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from functools import reduce
from operator import xor
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
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


class FixpointJob(SuperstepJob):
    """Live-row fixpoint: ``step(state, step_no)`` returns the next state
    with a boolean ``chg`` column (kept, so a step can use it as its
    frontier) marking a row still live: changed this round, or not yet
    decided. The job converges once no row is live; the count (scalar
    ``changed``) is observed on the runner's one materialization. A loop's
    second slot is a filter on ``chg``: a growing frontier (rows reached
    this round), a shrinking set (rows dropped this round; the next step
    reads ``~chg``) or a fixed-depth sweep (rows written; ``max_steps``)."""

    def __init__(self, name: str, init_state: DataFrame,
                 step: Callable[[DataFrame, int], DataFrame]):
        self.name = name
        self.init_state = init_state
        self._step = step

    def config(self) -> dict:
        return {"algo": self.name}

    def init(self, spark: SparkSession):
        return self.init_state, {"changed": -1}

    def step(self, state: DataFrame, step_no: int, scalars: dict):
        obs = Observation()
        new_state = self._step(state, step_no).observe(
            obs, F.sum(F.col("chg").cast("long")).alias("c"))

        def finalize(st: DataFrame):
            changed = int(obs.get["c"] or 0)
            return {"changed": changed}, changed == 0

        return new_state, finalize


def truncate(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and cut its lineage; the plan keeps the
    checkpoint's partitioning but not its statistics (module docstring).
    The result carries the checkpoint's block RDD in ``_gs_blocks`` for
    ``free_truncated``."""
    spark = df.sparkSession
    jss, jvm = spark._jsparkSession, spark._jvm
    lrdd = df.localCheckpoint(eager=True)._jdf.queryExecution().logical()
    none = jvm.scala.Option.apply(None)
    plan = lrdd.copy(lrdd.output(), lrdd.rdd(), lrdd.outputPartitioning(),
                     lrdd.outputOrdering(), lrdd.isStreaming(), lrdd.stream(),
                     jss, none, none)
    out = DataFrame(jvm.org.apache.spark.sql.classic.Dataset.ofRows(jss, plan), spark)
    out._gs_blocks = lrdd.rdd()
    return out


def free_truncated(df: DataFrame | None) -> None:
    """Free the block RDD a ``truncate`` call created. Only call once the
    data is provably dead: a freed block cannot be recomputed."""
    blocks = getattr(df, "_gs_blocks", None)
    if blocks is not None:
        blocks.unpersist(False)
        df._gs_blocks = None


def _replace_file(path: str, text: str) -> None:
    """Write ``text`` to ``path`` atomically: a crash mid-write leaves the
    previous file (or none), never a truncated one."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _digest(df: DataFrame) -> tuple:
    """(rows, checksum) aggregates. bit_xor of xxhash64 is order-independent
    and cannot overflow (ANSI mode is on in Spark 4; sum(xxhash64) overflows
    long), so the XOR of per-partition checksums is the whole-state one."""
    return (F.count("*").alias("rows"),
            F.bit_xor(F.xxhash64(*map(F.col, df.columns))).alias("checksum"))


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

        rows = reloaded.groupBy(F.spark_partition_id().alias("pid")) \
            .agg(*_digest(reloaded)).collect()
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
        _replace_file(mpath, json.dumps(manifest, indent=1))
        _replace_file(os.path.join(self.checkpoint_dir, "LATEST"), str(step))
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
        checkpointed superstep instead of ``init``; a state whose rows or
        checksum differ from the manifest raises ``ValueError``."""
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
            # else a same-session writer's cached copy stands in for the files
            self.spark.catalog.refreshByPath(manifest["state_path"])
            state = self.spark.read.parquet(manifest["state_path"]).persist(
                StorageLevel.MEMORY_AND_DISK)
            parts = manifest["per_partition"]
            want = (sum(p["rows"] for p in parts),
                    reduce(xor, (int(p["checksum"]) for p in parts), 0))
            got = state.agg(*_digest(state)).first()
            if (got["rows"], got["checksum"] or 0) != want:
                state.unpersist()
                raise ValueError(
                    f"corrupted checkpoint {manifest['state_path']}: (rows, "
                    f"checksum) {tuple(got)} != manifest's {want}")
            scalars = manifest["scalars"]
            start_step = manifest["step"]
            last_ckpt = manifest["step"]
        else:
            # materialized like every later state: a first step reading a
            # lazy cache several times runs it under AQE as many more jobs
            state, scalars = job.init(self.spark)
            state = truncate(state)

        converged = scalars.get("converged", False)
        step_no = start_step
        try:
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
                new_state = truncate(raw_state)
                scalars, converged = finalize(new_state)
                # the previous state is a checkpoint (blocks) or the persisted
                # reloaded frame (Dataset cache)
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
        except BaseException:
            # a failed step must not strand the live state's blocks (a
            # streaming sink retries batches; each retry would leak them)
            free_truncated(state)
            state.unpersist()
            raise

        if not self.history and manifest is not None:
            # a resume from a converged checkpoint: return a truncate
            # result, as every run does
            out = truncate(state)
            state.unpersist()
            state = out
        return state, scalars
