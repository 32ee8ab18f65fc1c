"""Mid-iteration checkpoint/resume e2e — the north rule's "resumable from
checkpoint with per-partition lineage + metrics" requirement, exercised
end-to-end: a run killed after K supersteps resumes from the parquet
checkpoint (fresh runner — nothing carried in memory) and converges to
the exact state an uninterrupted run reaches."""
from __future__ import annotations

import json
import os

import pytest

from graphscope_spark import LinkGraph
from tests.conftest import power_law_graph


def _graph(spark):
    vertices, edges = power_law_graph(n=400, m=1600, seed=9)
    return LinkGraph(
        spark, spark.createDataFrame(edges, "src LONG, dst LONG"),
        vertices=spark.createDataFrame([(v,) for v in vertices], "vid LONG"),
        num_partitions=4)


def test_pagerank_resume_equals_uninterrupted(spark, tmp_path):
    from graphscope_spark.operators.pagerank import PageRankJob
    from graphscope_spark.runtime.superstep import SuperstepRunner

    g = _graph(spark)
    ckpt = str(tmp_path / "pr_ckpt")

    # interrupted run: checkpoint every 3 steps, stop after 6 supersteps
    r1 = SuperstepRunner(spark, checkpoint_dir=ckpt, checkpoint_every=3)
    job = PageRankJob(g, alpha=0.85, max_iter=100, tol=1e-9)
    r1.run(job, max_steps=6)
    man = r1.latest_checkpoint()
    assert man["step"] == 6 and man["config"]["algo"] == "pagerank"
    # per-partition lineage: each checkpoint manifest records partition
    # rows + checksums and links its predecessor checkpoint
    assert len(man["per_partition"]) > 0
    assert all("rows" in p and "checksum" in p for p in man["per_partition"])
    assert man["input_checkpoint"] and os.path.exists(
        os.path.dirname(man["input_checkpoint"]))

    # resume with a FRESH runner and a fresh job object
    r2 = SuperstepRunner(spark, checkpoint_dir=ckpt, checkpoint_every=3)
    state, scalars = r2.run(
        PageRankJob(g, alpha=0.85, max_iter=100, tol=1e-9), resume=True)
    assert r2.history[0].step == 7  # continued, not restarted

    # uninterrupted control
    r3 = SuperstepRunner(spark)
    want, wscal = r3.run(PageRankJob(g, alpha=0.85, max_iter=100, tol=1e-9))

    got = {r["vid"]: r["rank"] for r in state.select("vid", "rank").collect()}
    ref = {r["vid"]: r["rank"] for r in want.select("vid", "rank").collect()}
    assert set(got) == set(ref)
    assert all(abs(got[v] - ref[v]) < 1e-12 for v in ref)
    # identical superstep count overall (6 + resumed == uninterrupted)
    assert 6 + len(r2.history) == len(r3.history)
    g.unpersist_all()


class _DiesOnWrite:
    """A file opened for writing whose first write raises: a crash while
    the step number goes into LATEST."""

    def __init__(self, f):
        self._f = f

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self._f.close()
        return False

    def write(self, text):
        raise OSError("injected crash while writing LATEST")


def test_resume_after_crash_mid_latest_write(spark, tmp_path, monkeypatch):
    """A crash while LATEST is being written must leave the previous
    checkpoint resumable: the run resumes from it and reaches the values
    and superstep count of an uninterrupted run."""
    import builtins

    from graphscope_spark.operators.pagerank import PageRankJob
    from graphscope_spark.runtime import superstep
    from graphscope_spark.runtime.superstep import SuperstepRunner

    g = _graph(spark)
    ckpt = str(tmp_path / "pr_crash")
    latest_writes = []

    def crashing_open(path, mode="r", *args, **kwargs):
        f = builtins.open(path, mode, *args, **kwargs)
        if "w" in mode and os.path.basename(path).startswith("LATEST"):
            latest_writes.append(path)
            if len(latest_writes) == 2:  # the step-4 checkpoint
                return _DiesOnWrite(f)
        return f

    monkeypatch.setattr(superstep, "open", crashing_open, raising=False)
    r1 = SuperstepRunner(spark, checkpoint_dir=ckpt, checkpoint_every=2)
    with pytest.raises(OSError, match="injected crash"):
        r1.run(PageRankJob(g, alpha=0.85, max_iter=100, tol=1e-9))
    assert len(r1.history) == 3  # steps 1-3 done; step 4 died in LATEST
    monkeypatch.undo()

    r2 = SuperstepRunner(spark, checkpoint_dir=ckpt, checkpoint_every=2)
    state, _ = r2.run(
        PageRankJob(g, alpha=0.85, max_iter=100, tol=1e-9), resume=True)
    assert r2.history[0].step == 3  # resumed from the step-2 checkpoint

    r3 = SuperstepRunner(spark)
    want, _ = r3.run(PageRankJob(g, alpha=0.85, max_iter=100, tol=1e-9))
    got = {r["vid"]: r["rank"] for r in state.select("vid", "rank").collect()}
    ref = {r["vid"]: r["rank"] for r in want.select("vid", "rank").collect()}
    assert set(got) == set(ref)
    assert all(abs(got[v] - ref[v]) < 1e-12 for v in ref)
    assert 2 + len(r2.history) == len(r3.history)
    g.unpersist_all()


def test_core_numbers_resume_equals_uninterrupted(spark, tmp_path):
    """A former driver-loop operator resumes mid-run like PageRank: the
    core-number fixpoint stopped after 2 steps continues from its
    checkpoint to the rows and step count of an uninterrupted run."""
    from graphscope_spark.operators.cores import core_number_job
    from graphscope_spark.runtime.superstep import SuperstepRunner

    g = _graph(spark)
    ckpt = str(tmp_path / "core_ckpt")
    r1 = SuperstepRunner(spark, checkpoint_dir=ckpt, checkpoint_every=2)
    r1.run(core_number_job(g), max_steps=2)
    assert r1.latest_checkpoint()["step"] == 2

    r2 = SuperstepRunner(spark, checkpoint_dir=ckpt, checkpoint_every=2)
    state, scalars = r2.run(core_number_job(g), resume=True)
    assert r2.history[0].step == 3 and scalars["changed"] == 0

    r3 = SuperstepRunner(spark)
    want, _ = r3.run(core_number_job(g))
    assert len(r3.history) > 2  # the first run really stopped mid-fixpoint
    assert 2 + len(r2.history) == len(r3.history)
    got = {r["vid"]: r["c"] for r in state.select("vid", "c").collect()}
    ref = {r["vid"]: r["c"] for r in want.select("vid", "c").collect()}
    assert got == ref
    g.unpersist_all()


def test_resume_config_mismatch_refuses(spark, tmp_path):
    from graphscope_spark.operators.pagerank import PageRankJob
    from graphscope_spark.runtime.superstep import SuperstepRunner

    g = _graph(spark)
    ckpt = str(tmp_path / "pr_ckpt2")
    r1 = SuperstepRunner(spark, checkpoint_dir=ckpt, checkpoint_every=2)
    r1.run(PageRankJob(g, alpha=0.85, max_iter=100, tol=1e-9), max_steps=2)
    r2 = SuperstepRunner(spark, checkpoint_dir=ckpt)
    with pytest.raises(ValueError, match="config mismatch"):
        r2.run(PageRankJob(g, alpha=0.5, max_iter=100, tol=1e-9), resume=True)
    g.unpersist_all()


@pytest.mark.parametrize("keep_state", [False, True])
def test_checkpoint_partition_checksums_detect_corruption(spark, tmp_path,
                                                          keep_state):
    """The per-partition checksums in the manifest are real: their row
    counts add up to the checkpointed parquet, and a resume from a state
    file with one value changed (same row count) is refused, also in the
    session that wrote it while its returned state is still cached."""
    import shutil

    from pyspark.sql import functions as F

    from graphscope_spark.operators.wcc import WCCJob
    from graphscope_spark.runtime.superstep import SuperstepRunner

    g = _graph(spark)
    ckpt = str(tmp_path / "wcc_ckpt")
    r = SuperstepRunner(spark, checkpoint_dir=ckpt, checkpoint_every=1)
    state, _ = r.run(WCCJob(g), max_steps=2)
    if not keep_state:
        state.unpersist()  # as after a crash: no cached copy of the parquet
    man = r.latest_checkpoint()
    spath = man["state_path"]
    total_rows = sum(p["rows"] for p in man["per_partition"])
    assert total_rows == spark.read.parquet(spath).count()

    # rewrite the state with one component label changed
    top = spark.read.parquet(spath).agg(F.max("vid")).first()[0]
    bad = str(tmp_path / "bad_state")
    spark.read.parquet(spath).withColumn(
        "comp", F.when(F.col("vid") == top, F.col("comp") + 1)
        .otherwise(F.col("comp"))).write.parquet(bad)
    shutil.rmtree(spath)
    shutil.move(bad, spath)
    assert spark.read.parquet(spath).count() == total_rows

    r2 = SuperstepRunner(spark, checkpoint_dir=ckpt, checkpoint_every=1)
    with pytest.raises(ValueError, match="corrupted"):
        r2.run(WCCJob(g), resume=True)
    assert r2.history == []
    g.unpersist_all()
    state.unpersist()
