"""Spans around calls into the engine, with Spark job, stage and task
figures read from outside the program.

A disabled ``Tracer`` only reads the clock: it tags no job group and makes
no status-store call. An enabled one tags each span's Spark jobs with
``setJobGroup`` and, when the span ends, reads them back from
``statusTracker`` and the JVM ``AppStatusStore`` (``lastStageAttempt``,
``taskSummary``), which work with the Spark UI disabled. Everything the
tracer itself spends is added to ``overhead_s``.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0


@dataclass
class StageFigures:
    """Sums over the completed (not skipped) stages of a set of jobs."""
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    shuffle_mb: float = 0.0
    shuffle_records: int = 0
    spill_mb: float = 0.0
    task_skew: float = 1.0  # max/median task time in the heaviest stage


@dataclass
class Span:
    name: str
    wall_s: float = 0.0
    figures: StageFigures | None = None
    # (epoch end, wall ms) of each superstep, filled by step_hook
    steps: list = field(default_factory=list)
    # jobs and stages per superstep, split by job submission time
    step_jobs: list = field(default_factory=list)
    step_stages: list = field(default_factory=list)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.overhead_s = 0.0
        self._n = 0

    @contextmanager
    def span(self, name: str):
        sp = Span(name)
        if not self.enabled:
            t0 = time.perf_counter()
            yield sp
            sp.wall_s = time.perf_counter() - t0
            return
        o0 = time.perf_counter()
        self._n += 1
        group = f"perfbench-{self._n}-{name}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        self.overhead_s += t0 - o0
        try:
            yield sp
        finally:
            sp.wall_s = time.perf_counter() - t0
            o1 = time.perf_counter()
            sc.setJobGroup(f"perfbench-idle-{self._n}", "idle")
            self._read(sp, group)
            self.overhead_s += time.perf_counter() - o1

    def step_hook(self, sp: Span):
        """``on_step`` callback for ``SuperstepRunner.run`` recording when
        each superstep ended; used to split the span's jobs by step."""
        def hook(m):
            if self.enabled:
                sp.steps.append((time.time(), m.wall_ms))
        return hook

    # ---- reading Spark's status store ------------------------------------

    def _read(self, sp: Span, group: str) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        job_ids = sorted(tracker.getJobIdsForGroup(group))
        fig = StageFigures()
        seen: set[int] = set()
        heaviest = (-1.0, None)
        job_stages = []
        for j in job_ids:
            info = tracker.getJobInfo(j)
            sids = list(info.stageIds) if info is not None else []
            n_done = 0
            for sid in sids:
                if sid in seen:
                    continue
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue
                seen.add(sid)
                n_done += 1
                run_ms = float(sd.executorRunTime())
                fig.exec_run_s += run_ms / 1000.0
                fig.exec_cpu_s += sd.executorCpuTime() / 1e9
                fig.shuffle_mb += sd.shuffleWriteBytes() / MB
                fig.shuffle_records += int(sd.shuffleWriteRecords())
                fig.spill_mb += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
                if run_ms > heaviest[0]:
                    heaviest = (run_ms, (sid, sd.attemptId()))
            job_stages.append((j, n_done))
        if heaviest[1] is not None:
            fig.task_skew = self._skew(store, *heaviest[1])
        sp.figures = fig
        if sp.steps:
            self._split_by_step(sp, store, job_stages)

    def _skew(self, store, sid: int, attempt: int) -> float:
        gw = self.spark.sparkContext._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = store.taskSummary(sid, attempt, q)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        return float(run.apply(1)) / max(float(run.apply(0)), 1.0)

    def _split_by_step(self, sp: Span, store, job_stages) -> None:
        ends = [e for e, _ in sp.steps]
        first_start = ends[0] - sp.steps[0][1] / 1000.0
        jobs = [0] * len(ends)
        stages = [0] * len(ends)
        for j, n_stages in job_stages:
            t = store.job(j).submissionTime()
            if not t.isDefined():
                continue
            sub = t.get().getTime() / 1000.0
            if sub < first_start:
                continue  # the job's init (PEval) work
            k = next((i for i, e in enumerate(ends) if sub <= e), len(ends) - 1)
            jobs[k] += 1
            stages[k] += n_stages
        sp.step_jobs, sp.step_stages = jobs, stages

    # ---- storage ------------------------------------------------------------

    def storage_mb(self) -> float:
        """Memory plus disk held by persisted RDDs right now."""
        o0 = time.perf_counter()
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / MB
        self.overhead_s += time.perf_counter() - o0
        return mb


def merge(figs) -> StageFigures:
    """Sum the figures of several spans (skew: the largest)."""
    out = StageFigures(task_skew=0.0)
    for f in figs:
        out.exec_run_s += f.exec_run_s
        out.exec_cpu_s += f.exec_cpu_s
        out.shuffle_mb += f.shuffle_mb
        out.shuffle_records += f.shuffle_records
        out.spill_mb += f.spill_mb
        out.task_skew = max(out.task_skew, f.task_skew)
    return out
