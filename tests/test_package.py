"""Packaging: the spark-submit --py-files path (north-rule ship shape)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_zip_contains_package(tmp_path):
    sys.path.insert(0, str(ROOT / "scripts"))
    from make_package import build

    out = build(str(tmp_path))
    names = zipfile.ZipFile(out).namelist()
    assert "graphscope_spark/__init__.py" in names
    assert "graphscope_spark/operators/pagerank.py" in names
    assert all(n.endswith(".py") for n in names)


def test_spark_submit_py_files(tmp_path, spark):
    """Run wcc via spark-submit --py-files on a freshly built zip — the
    exact deployment shape the north rule requires."""
    sys.path.insert(0, str(ROOT / "scripts"))
    from make_package import build

    zip_path = build(str(tmp_path))
    edges = tmp_path / "edges.parquet"
    spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], "src LONG, dst LONG"
    ).coalesce(1).write.parquet(str(edges))
    out = tmp_path / "out"
    env = dict(os.environ)
    proc = subprocess.run(
        ["spark-submit", "--master", "local[2]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--conf", "spark.ui.enabled=false",
         "--py-files", zip_path, str(ROOT / "scripts" / "run_algo.py"),
         "--algo", "wcc", "--edges", str(edges), "--output", str(out)],
        capture_output=True, text=True, timeout=240, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    meta = json.loads(proc.stdout.strip().splitlines()[-1])
    assert meta["rows"] == 5


def test_run_algo_graphar_input(tmp_path, spark):
    """run_algo --graphar: the spark-submit surface accepts a GraphAr
    archive as input (load_graphar path), mirroring the reference's
    save_to/load_from graphar lifecycle."""
    sys.path.insert(0, str(ROOT / "scripts"))
    import run_algo

    from graphscope_spark.graph import LinkGraph
    from graphscope_spark.graphar import save_graphar

    g = LinkGraph(spark, spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], "src LONG, dst LONG"),
        vertices=spark.createDataFrame([(i,) for i in range(5)], "vid LONG"),
        num_partitions=2)
    yml = save_graphar(g, str(tmp_path / "gar"), vertex_chunk_size=4,
                       edge_chunk_size=4)
    out = str(tmp_path / "out2")
    rc = run_algo.main(["--algo", "wcc", "--graphar", yml, "--output", out])
    assert rc == 0
    comp = {r["vid"]: r["comp"] for r in spark.read.parquet(out).collect()}
    assert comp == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3}
    g.unpersist_all()


def test_lineage_truncation_lives_in_superstep_runtime():
    """localCheckpoint, the persistent-RDD registry and the stats-reset
    plan rebuild (``ofRows``) are used only by the runtime's one truncation primitive:
    a second reclamation path once diffed the registry and unpersisted
    the graph's own caches along with its checkpoint blocks."""
    pkg = ROOT / "graphscope_spark"
    allowed = {"graphscope_spark/runtime/superstep.py"}
    for token in ("localCheckpoint(", "getPersistentRDDs",
                  "ofRows("):
        users = {p.relative_to(ROOT).as_posix() for p in pkg.rglob("*.py")
                 if token in p.read_text()}
        assert users <= allowed, f"{token} used outside the runtime: {users}"


def test_hand_written_truncator_loops_only_shrink():
    """Ratchet on the hand-written ``Truncator()`` loops still outside
    ``SuperstepRunner``: a new iterative operator runs on the runner (a
    ``FixpointJob`` or ``SuperstepJob``) instead of adding one."""
    pkg = ROOT / "graphscope_spark"
    n = sum(p.read_text().count("Truncator()") for p in pkg.rglob("*.py"))
    assert n <= 13, f"{n} Truncator() loops; move new loops onto the runner"
