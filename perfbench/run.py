"""North-rule pipeline benchmark: corpus → Arrow-UDF import extraction →
import graph → PageRank, WCC, CDLP and triangles, driven through the public
API exactly as a user would, on the session ``build_session`` configures.

Usage (from the repository root)::

    python3 perfbench/run.py --workload import-small --seed 7 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all              # every workload, both modes
    python3 perfbench/run.py --workload import-small --smoke --trace 1

``--trace 0`` measures the end-to-end metrics with tracing off. ``--trace 1``
is a separate run: one traced pass, then the corpus and graph steps timed one
by one, then two session restarts; it reports the per-layer metrics
(``perfbench/spec.json`` names every metric, its unit, and which end-to-end
metric it should move on which workload). Each run prints one line per
metric (value, unit, sample count) and, as its last line, one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``. Every pass is
checked against ``perfbench/oracle.py`` outside the timed regions.

Only ``SPARK_GRAFT_CPUS`` (default: the CPUs this process may use) and
``SPARK_DRIVER_MEM`` (default 4g) are set for the program; Spark's scratch
space, Python and JVM temporary files and checkpoints go under
``.perfbench_work/`` in the checkout, which is removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

T_PROCESS = time.perf_counter()

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((HERE / "spec.json").read_text())
SETUPS = 3          # session set-ups in a traced run (cold, then restarts)
UDF_BATCH = 65536   # build_session's spark.sql.execution.arrow.maxRecordsPerBatch


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=[*SPEC["workloads"], "all"])
    p.add_argument("--seed", type=int, default=None,
                   help="corpus seed (default: the workload's recorded seed)")
    p.add_argument("--seconds", type=float, default=20.0,
                   help="measure whole passes until this much time is used "
                        "(at least one pass)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--files", type=int, default=None,
                   help="corpus size in files (default: the workload's)")
    p.add_argument("--smoke", action="store_true",
                   help="tiny corpus and one pass, for the benchmark's tests")
    return p.parse_args(argv)


def prepare_env(work: Path) -> int:
    """Point every scratch path into ``work`` and set the two overrides the
    benchmark allows itself. Must run before the JVM starts."""
    for d in ("local", "tmp", "ckpt"):
        (work / d).mkdir(parents=True, exist_ok=True)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [f"-Djava.io.tmpdir={work / 'tmp'}", "-XX:-UsePerfData",
         os.environ.get("JAVA_TOOL_OPTIONS", "")]).strip()
    sys.path.insert(0, str(ROOT))
    return cpus


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def dir_mb(path: Path) -> float:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) / (1024.0 * 1024.0)


def log(msg: str) -> None:
    print(f"perfbench: {msg} at {time.perf_counter() - T_PROCESS:.1f} s", file=sys.stderr)


def noop(df) -> None:
    """Execute ``df`` fully into Spark's no-op sink."""
    df.write.format("noop").mode("overwrite").save()


class Samples(dict):
    """metric name → list of per-pass values."""

    def add(self, name: str, value: float) -> None:
        self.setdefault(name, []).append(float(value))


class Bench:
    def __init__(self, args, work: Path, cpus: int):
        import bench as root_bench  # the repository's noise probes
        from pyspark import SparkContext

        from spans import Tracer

        self.args = args
        self.work = work
        self.cpus = cpus
        self.wl = SPEC["workloads"][args.workload]
        self.seed = self.wl["seed"] if args.seed is None else args.seed
        self.files = args.files or (self.wl["smoke_files"] if args.smoke else self.wl["files"])
        self.files_per_repo = self.wl["files_per_repo"]
        self.probes = root_bench
        self.SparkContext = SparkContext
        self.spark = None
        self.tracer = Tracer(None, enabled=bool(args.trace))
        self.e2e = Samples()
        self.layer = Samples()
        self.attempted = 0
        self.failed = 0
        self.expected = None         # oracle answers over the engine's vids
        self.expected_edges = None   # the oracle's (src_oid, dst_oid) set
        self.graph = None            # checkpoint-resume: built during set-up
        self.storage_base = 0.0      # storage held before that graph
        self.corpus_pdf = None       # the corpus rows, for the oracle
        self.setups = []

    # ---- session -----------------------------------------------------------

    def _start(self):
        """Stop the current session, if any, then ``build_session`` and run
        the first pandas-UDF batch; returns (start, built, warm) times."""
        from graphscope_spark import build_session
        from graphscope_spark.corpus import synthesize_corpus

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        spark = build_session()
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        noop(synthesize_corpus(spark, n_files=self.cpus, seed=self.seed))
        self.spark = spark
        self.tracer.spark = spark
        return t0, t1, time.perf_counter()

    def add_setup_sample(self, first: bool) -> None:
        t0, t1, t2 = self._start()
        if first:
            t0 = T_PROCESS
        self.layer.add("session.start_s", t1 - t0)
        self.layer.add("session.udf_warm_s", t2 - t1)
        self.setups.append(t2 - t0)

    def set_up(self) -> None:
        """The run's session set-up, from process start to the first
        pandas-UDF batch; on checkpoint-resume, then the graph build."""
        self.add_setup_sample(first=True)
        setup = self.setups[0]
        if self.args.workload == "checkpoint-resume":
            self.storage_base = self.tracer.storage_mb()
            self.graph, sp = self.build_graph()
            self.e2e.add("graph_build_s", sp.wall_s)
            setup += sp.wall_s
        self.e2e.add("setup_s", setup)

    def restarts(self) -> None:
        """Traced runs only, after the measurement: further set-ups, each a
        stop and a fresh ``build_session`` in the same JVM, so the session
        layer is reported as a median and the cold set-up's extra cost
        (JVM launch, first imports) as a difference."""
        for _ in range(SETUPS - 1):
            self.add_setup_sample(first=False)
        self.layer.add("session.cold_penalty_s",
                       self.setups[0] - statistics.median(self.setups[1:]))

    def close(self) -> None:
        """Stop Spark, then the JVM, and wait for it to exit."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = self.SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        self.SparkContext._gateway = None
        self.SparkContext._jvm = None

    def jvm_pid(self) -> int:
        return self.SparkContext._gateway.proc.pid

    # ---- the program under test ---------------------------------------------

    def corpus(self):
        from graphscope_spark.corpus import synthesize_corpus
        return synthesize_corpus(self.spark, n_files=self.files,
                                 files_per_repo=self.files_per_repo, seed=self.seed)

    def build_graph(self):
        from graphscope_spark.corpus import build_import_graph
        with self.tracer.span("graph.build") as sp:
            g = build_import_graph(self.spark, self.corpus())
            g.num_vertices, g.num_edges
        return g, sp

    def run_job(self, op: str, job, span: str | None = None, **kw):
        from graphscope_spark.runtime.superstep import SuperstepRunner
        runner = SuperstepRunner(self.spark, **kw.pop("runner", {}))
        with self.tracer.span(span or f"op.{op}") as sp:
            state, _ = runner.run(job, on_step=self.tracer.step_hook(sp), **kw)
        return state, runner.history, sp

    def pipeline_pass(self) -> dict:
        """import-small: one pass from the corpus to PageRank, WCC and
        triangle results. Only traced runs add CDLP: it would lengthen every
        untraced run by about 8 s (about 85 s instead of 75 s on 4 cores),
        and a comparison of two commits makes dozens of untraced runs."""
        from graphscope_spark.operators.cdlp import CDLPJob
        from graphscope_spark.operators.pagerank import PageRankJob
        from graphscope_spark.operators.triangles import triangles
        from graphscope_spark.operators.wcc import WCCJob

        out = {}
        t0 = time.perf_counter()
        g, out["build"] = self.build_graph()
        out["graph"] = g
        out["pagerank"] = self.run_job("pagerank", PageRankJob(g, alpha=0.85, tol=1e-6))
        out["wcc"] = self.run_job("wcc", WCCJob(g))
        if self.tracer.enabled:
            out["cdlp"] = self.run_job("cdlp", CDLPJob(g, max_round=10), max_steps=10)
        with self.tracer.span("op.triangles") as sp:
            tri = triangles(g).toPandas()
            tri["tricnt"].sum()
        out["triangles"] = (tri, sp)
        out["pipeline_s"] = time.perf_counter() - t0
        return out

    def kill_and_resume(self, op: str, make_job, kill_at: int) -> dict:
        """Run ``op`` with a checkpoint every step, stop it after step
        ``kill_at`` (the simulated kill), then resume to the fixpoint with a
        fresh runner."""
        ckpt = self.work / "ckpt" / op
        shutil.rmtree(ckpt, ignore_errors=True)
        runner_kw = {"checkpoint_dir": str(ckpt), "checkpoint_every": 1}
        t0 = time.perf_counter()
        killed = self.run_job(op, make_job(), runner=runner_kw, max_steps=kill_at)
        t1 = time.perf_counter()
        call_epoch = time.time()
        resumed = self.run_job(op, make_job(), span=f"op.{op}.resume",
                               runner=runner_kw, resume=True)
        t2 = time.perf_counter()
        return {"killed": killed, "resumed": resumed, "op_s": t2 - t0,
                "resume_s": t2 - t1, "call_epoch": call_epoch,
                "ckpt_mb": dir_mb(ckpt), "kill_at": kill_at}

    def resume_pass(self) -> dict:
        """checkpoint-resume: PageRank killed mid-run and resumed, on the
        graph built during set-up. Only traced runs add the same for WCC,
        which lengthens an untraced run by about 9 s (see pipeline_pass)."""
        from graphscope_spark.operators.pagerank import PageRankJob
        from graphscope_spark.operators.wcc import WCCJob

        g, exp = self.graph, self.expected
        t0 = time.perf_counter()
        out = {"graph": g}
        out["pagerank"] = self.kill_and_resume(
            "pagerank", lambda: PageRankJob(g, alpha=0.85, tol=1e-6),
            max(1, exp.pagerank_steps // 2))
        if self.tracer.enabled:
            out["wcc"] = self.kill_and_resume(
                "wcc", lambda: WCCJob(g), max(1, exp.wcc_steps // 2))
        out["pipeline_s"] = time.perf_counter() - t0
        return out

    # ---- correctness (outside every timed region) ---------------------------

    def load_expected_edges(self) -> None:
        from oracle import expected_import_edges
        pdf = self.corpus().select("repo", "path", "lang", "content").toPandas()
        self.expected_edges, _ = expected_import_edges(
            pdf["repo"], pdf["path"], pdf["lang"], pdf["content"])
        self.corpus_pdf = pdf

    def check_graph(self, g) -> bool:
        """The engine's vertex map and edge set equal the oracle's graph;
        (re)computes the oracle answers over the engine's vids."""
        import numpy as np

        from oracle import expected_answers

        self.attempted += 1
        edges = self.expected_edges
        v = g.vertices.select("vid", "oid").toPandas()
        e = g.edges.select("src", "dst").toPandas()
        n = len(v)
        vid = dict(zip(v["oid"], v["vid"].astype(int)))
        want_oids = {o for pair in edges for o in pair}
        ok = (set(vid) == want_oids and sorted(vid.values()) == list(range(n))
              and len(e) == len(edges)
              and set(zip(e["src"].astype(int), e["dst"].astype(int)))
              == {(vid[a], vid[b]) for a, b in edges})
        if not ok:
            self.failed += 1
            print("perfbench: import graph differs from the oracle's", file=sys.stderr)
            return False
        src = np.array([vid[a] for a, _ in sorted(edges)], dtype=np.int64)
        dst = np.array([vid[b] for _, b in sorted(edges)], dtype=np.int64)
        exp = self.expected
        if exp is None or exp.n != n or not (np.array_equal(exp.src, src)
                                             and np.array_equal(exp.dst, dst)):
            self.expected = expected_answers(n, src, dst)
        return True

    def _check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: {name} differs from the oracle", file=sys.stderr)

    def _by_vid(self, state, col: str):
        import numpy as np
        pdf = state.select("vid", col).toPandas()
        out = np.zeros(self.expected.n, dtype=pdf[col].dtype)
        out[pdf["vid"].to_numpy()] = pdf[col].to_numpy()
        return out if len(pdf) == self.expected.n else None

    def check_results(self, res: dict, graph_ok: bool) -> None:
        import numpy as np
        exp = self.expected
        ops = [op for op in ("pagerank", "wcc", "cdlp", "triangles") if op in res]
        if not graph_ok:  # nothing to compare against: every result fails
            self.attempted += len(ops)
            self.failed += len(ops)
            return
        if self.args.workload == "import-small":
            state, hist, _ = res["pagerank"]
            rank = self._by_vid(state, "rank")
            self._check("pagerank", rank is not None and len(hist) == exp.pagerank_steps
                        and np.allclose(rank, exp.pagerank, rtol=1e-6, atol=1e-12))
            comp = self._by_vid(res["wcc"][0], "comp")
            self._check("wcc", comp is not None and np.array_equal(comp, exp.wcc))
            if "cdlp" in res:
                label = self._by_vid(res["cdlp"][0], "label")
                self._check("cdlp", label is not None and np.array_equal(label, exp.cdlp))
            tri = res["triangles"][0]
            got = np.zeros(exp.n, dtype=np.int64)
            got[tri["vid"].to_numpy()] = tri["tricnt"].to_numpy()
            self._check("triangles", len(tri) == exp.n and np.array_equal(got, exp.triangles))
            return
        # checkpoint-resume: the resumed state equals the uninterrupted run
        for op, col, want, steps in (("pagerank", "rank", exp.pagerank, exp.pagerank_steps),
                                     ("wcc", "comp", exp.wcc, exp.wcc_steps)):
            if op not in ops:
                continue
            r = res[op]
            got = self._by_vid(r["resumed"][0], col)
            same = got is not None and (np.allclose(got, want, rtol=1e-6, atol=1e-12)
                                        if op == "pagerank" else np.array_equal(got, want))
            self._check(f"{op} resumed", same and len(r["killed"][1]) == r["kill_at"]
                        and r["kill_at"] + len(r["resumed"][1]) == steps)

    # ---- metrics --------------------------------------------------------------

    def record_e2e(self, res: dict) -> None:
        e = self.e2e
        e.add("pipeline_s", res["pipeline_s"])
        if self.args.workload == "import-small":
            e.add("graph_build_s", res["build"].wall_s)
            _, pr_hist, pr_sp = res["pagerank"]
            e.add("pagerank_s", pr_sp.wall_s)
            e.add("pagerank_iters_per_s", len(pr_hist) / pr_sp.wall_s)
            e.add("wcc_s", res["wcc"][2].wall_s)
            e.add("triangles_s", res["triangles"][1].wall_s)
        else:
            pr = res["pagerank"]
            e.add("pagerank_s", pr["op_s"])
            e.add("pagerank_iters_per_s",
                  (len(pr["killed"][1]) + len(pr["resumed"][1])) / pr["op_s"])
            e.add("resume_s", pr["resume_s"])

    def record_layers(self, res: dict) -> None:
        """Per-layer figures of one traced pass."""
        from spans import merge

        L, cores = self.layer, self.cpus
        ops = (["pagerank", "wcc", "cdlp"] if self.args.workload == "import-small"
               else ["pagerank", "wcc"])
        for op in ops:
            if self.args.workload == "import-small":
                _, hist, sp = res[op]
                spans, wall = [sp], sp.wall_s
            else:
                r = res[op]
                hist = r["killed"][1] + r["resumed"][1]
                spans = [r["killed"][2], r["resumed"][2]]
                wall = r["op_s"]
            ms = [m.wall_ms for m in hist]
            p = f"superstep.{op}."
            L.add(p + "steps", len(hist))
            L.add(p + "step_ms_p50", statistics.median(ms))
            L.add(p + "floor_ms", min(ms))
            L.add(p + "first_step_ms", ms[0])
            L.add(p + "jobs_per_step", statistics.median([j for s in spans for j in s.step_jobs]))
            L.add(p + "stages_per_step", statistics.median([j for s in spans for j in s.step_stages]))
            fig = merge(s.figures for s in spans)
            L.add(p + "busy_frac", fig.exec_run_s / (wall * cores))
            self.op_figures(op, fig)
            if op == "wcc":
                L.add("operators.wcc.active_vertex_steps",
                      self.expected.n + sum(m.scalars["frontier"] for m in hist))
        if self.args.workload == "import-small":
            tri, sp = res["triangles"]
            self.op_figures("triangles", sp.figures)
            L.add("operators.triangles.busy_frac", sp.figures.exec_run_s / (sp.wall_s * cores))
            L.add("operators.triangles.wedges", self.expected.wedges)
            L.add("operators.triangles.closure_ratio",
                  int(self.expected.triangles.sum()) / 3 / max(1, self.expected.wedges))
        else:
            prs, wcs = res["pagerank"], res["wcc"]
            ms = [m.wall_ms for r in (prs, wcs) for m in r["killed"][1] + r["resumed"][1]]
            L.add("superstep.ckpt_step_ms_p50", statistics.median(ms))
            L.add("superstep.ckpt_bytes_mb", prs["ckpt_mb"] + wcs["ckpt_mb"])
            load = 0.0
            for r in (prs, wcs):
                # from the resume call to the start of its first superstep
                steps = r["resumed"][2].steps
                first = steps[0][0] - steps[0][1] / 1000.0 if steps else time.time()
                load += first - r["call_epoch"]
            L.add("superstep.resume_load_s", load)
            L.add("superstep.resume_steps", len(prs["resumed"][1]) + len(wcs["resumed"][1]))

    def op_figures(self, op: str, fig) -> None:
        p = f"operators.{op}."
        self.layer.add(p + "shuffle_mb", fig.shuffle_mb)
        self.layer.add(p + "shuffle_records", fig.shuffle_records)
        self.layer.add(p + "spill_mb", fig.spill_mb)
        self.layer.add(p + "exec_cpu_s", fig.exec_cpu_s)
        self.layer.add(p + "task_skew", fig.task_skew)

    def layer_probes(self) -> None:
        """corpus and graph layers, each call timed on its own: intermediates
        are persisted by the benchmark so every span covers one step."""
        from pyspark.sql import functions as F

        from graphscope_spark.corpus import extract_imports, ingest, resolve_edges
        from graphscope_spark.graph import LinkGraph, assign_dense_ids
        from spans import merge

        tr, L = self.tracer, self.layer
        corpus = self.corpus().persist()
        with tr.span("corpus.synthesize") as s1:
            noop(corpus)
        files = ingest(corpus).persist()
        with tr.span("corpus.extract") as s2:
            noop(files)
        edges = resolve_edges(files).persist()
        with tr.span("corpus.resolve") as s3:
            noop(edges)
        oids = edges.select(F.col("src_oid").alias("oid")).distinct().union(
            edges.select(F.col("dst_oid").alias("oid")).distinct())
        aux = []
        parts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        with tr.span("graph.vertexmap") as g1:
            noop(assign_dense_ids(oids, "oid", parts, aux=aux))
        with tr.span("graph.partition") as g2:
            g = LinkGraph.from_oid_edges(self.spark, edges)
            g.num_vertices, g.num_edges
        with tr.span("graph.views") as g3:
            for view in (g.sym_edges(), g.und_edges(), g.oriented_edges(), g.out_degrees()):
                view.count()
        per_part = [r["n"] for r in g.edges.groupBy(F.spark_partition_id().alias("p"))
                    .agg(F.count("*").alias("n")).collect()]
        n_edges = g.num_edges
        for df in (*aux, edges, files, corpus):
            df.unpersist()
        g.unpersist_all()

        pdf = self.corpus_pdf
        t0 = time.perf_counter()
        tokens = 0
        for i in range(0, len(pdf), UDF_BATCH):
            out = extract_imports.func(pdf["content"].iloc[i:i + UDF_BATCH],
                                       pdf["lang"].iloc[i:i + UDF_BATCH])
            tokens += int(out.map(len).sum())
        L.add("corpus.udf_compute_s", time.perf_counter() - t0)

        L.add("corpus.synthesize_s", s1.wall_s)
        L.add("corpus.extract_s", s2.wall_s)
        L.add("corpus.resolve_s", s3.wall_s)
        L.add("corpus.import_tokens", tokens)
        L.add("corpus.edges_resolved", n_edges)
        L.add("corpus.resolve_ratio", n_edges / max(1, tokens))
        cf = merge(s.figures for s in (s1, s2, s3))
        L.add("corpus.exec_cpu_s", cf.exec_cpu_s)
        L.add("corpus.shuffle_mb", cf.shuffle_mb)
        L.add("graph.vertexmap_s", g1.wall_s)
        L.add("graph.partition_s", g2.wall_s)
        L.add("graph.views_s", g3.wall_s)
        L.add("graph.edge_balance", max(per_part) / (sum(per_part) / len(per_part)))
        gf = merge(s.figures for s in (g1, g2, g3))
        L.add("graph.shuffle_mb", gf.shuffle_mb)
        L.add("graph.exec_cpu_s", gf.exec_cpu_s)

    # ---- the run ---------------------------------------------------------------

    def one_pass(self) -> float:
        """One measured pass, its checks, then release of everything it
        cached; returns the pass's wall time."""
        run_pass = self.pipeline_pass if self.args.workload == "import-small" else self.resume_pass
        traced = self.tracer.enabled
        storage0 = self.tracer.storage_mb() if traced else 0.0
        self.tracer.overhead_s = 0.0
        res = run_pass()
        log(f"pass done in {res['pipeline_s']:.1f} s")
        graph_ok = self.check_graph(res["graph"]) if self.args.workload == "import-small" else True
        self.check_results(res, graph_ok)
        log("pass checked")
        self.record_e2e(res)
        if traced:
            self.record_layers(res)
            base = storage0 if self.graph is None else self.storage_base
            self.layer.add("graph.cached_mb", self.tracer.storage_mb() - base)
        if self.args.workload == "import-small":
            res["graph"].unpersist_all()
        wall = res["pipeline_s"]
        del res
        gc.collect()
        if traced:
            self.layer.add("superstep.leaked_mb", self.tracer.storage_mb() - storage0)
        return wall

    def run(self) -> None:
        self.set_up()
        log("set-up done")
        self.load_expected_edges()
        if self.graph is not None:
            self.check_setup_graph()
        log("oracle inputs ready")
        steal0 = self.probes._cpu_stat()
        rtts = [self.probes._loopback_rtt_us()]
        t_start = time.perf_counter()
        if self.args.trace:
            self.one_pass()
            self.layer.add("trace.overhead_s", self.tracer.overhead_s)
            self.layer_probes()
        else:
            walls = []
            while True:
                walls.append(self.one_pass())
                used = time.perf_counter() - t_start
                if self.args.smoke or used + statistics.median(walls) > self.args.seconds:
                    break
        log("measurement done")
        rtts.append(self.probes._loopback_rtt_us())
        steal1 = self.probes._cpu_stat()
        self.layer.add("box.steal_frac", (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]))
        self.layer.add("box.rtt_us", statistics.median(rtts))
        jvm = vm_hwm_mb(self.jvm_pid())
        self.layer.add("session.jvm_peak_rss_mb", jvm)
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        self.e2e.add("peak_rss_mb", jvm + py)
        if self.graph is not None:
            self.graph.unpersist_all()
        if self.args.trace:
            self.restarts()

    def check_setup_graph(self) -> None:
        """checkpoint-resume builds its graph once, so it is checked once."""
        if not self.check_graph(self.graph):
            raise RuntimeError("import graph differs from the oracle's")


# ---- reporting ------------------------------------------------------------------

def metric_table(workload: str, trace: int) -> list[dict]:
    return [m for m in SPEC["per_layer" if trace else "end_to_end"]
            if workload in m["workloads"]]


def gated(trace: int) -> list[dict]:
    """Metrics in the final JSON line: those every workload reports."""
    every = set(SPEC["workloads"])
    return [m for m in SPEC["per_layer" if trace else "end_to_end"]
            if set(m["workloads"]) >= every and m.get("json", True)]


def report(bench: Bench | None, args, error: str | None) -> int:
    """Print one line per metric, then the JSON result line; returns the
    exit code."""
    samples = {}
    if bench is not None:
        samples = dict(bench.layer if args.trace else bench.e2e)
        if not args.trace:
            samples["failed_frac"] = [bench.failed / max(1, bench.attempted)]
    print(f"# perfbench workload={args.workload} trace={args.trace} "
          f"seed={bench.seed if bench else args.seed} files={bench.files if bench else '?'}")
    for m in metric_table(args.workload, args.trace):
        vals = samples.get(m["name"], [])
        value = f"{statistics.median(vals):.6f}" if vals else "missing"
        print(f"{m['name']:<40} {value:>16} {m['unit']:<6} n={len(vals)}")
    metrics = {m["name"]: {"value": statistics.median(samples[m["name"]]), "unit": m["unit"]}
               for m in gated(args.trace) if samples.get(m["name"])}
    attempted = bench.attempted if bench else 0
    failed = bench.failed if bench else 0
    correct = (error is None and attempted > 0 and failed == 0
               and len(metrics) == len(gated(args.trace)))
    print(json.dumps({"correct": correct, "attempted": max(1, attempted),
                      "failed": failed if attempted else 1, "metrics": metrics}))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload, untraced then traced, each in its own process."""
    rc = 0
    for w in SPEC["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", w,
                   "--seconds", str(args.seconds), "--trace", str(trace)]
            if args.seed is not None:
                cmd += ["--seed", str(args.seed)]
            if args.smoke:
                cmd.append("--smoke")
            rc |= subprocess.run(cmd).returncode
    return rc


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    if not (ROOT / "graphscope_spark" / "__init__.py").is_file():
        print(f"perfbench: no graphscope_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    cpus = prepare_env(work)
    bench, error = None, None
    try:
        bench = Bench(args, work, cpus)
        bench.run()
    except Exception:
        error = traceback.format_exc()
        print(error, file=sys.stderr)
    finally:
        if bench is not None:
            bench.close()
            log("JVM stopped")
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run still uses it
    return report(bench, args, error)


if __name__ == "__main__":
    sys.exit(main())
