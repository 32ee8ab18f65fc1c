"""Tests of the benchmark itself: its metric list, its oracles, and a
tiny-corpus smoke run of every workload in both modes.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import random
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import oracle  # noqa: E402
import run  # noqa: E402
from tests import oracles as reference  # noqa: E402


def test_benchmark_json_matches_spec():
    bj = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert bj["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in bj["workloads"]] == list(run.SPEC["workloads"])
    for w in bj["workloads"]:
        assert w["why"] == run.SPEC["workloads"][w["name"]]["why"]
    for key, trace in (("end_to_end", 0), ("per_layer", 1)):
        want = [(m["name"], m["unit"], m["better"]) for m in run.gated(trace)]
        assert [(m["name"], m["unit"], m["better"]) for m in bj[key]] == want
    bounds = {m["name"]: m["bound"] for m in bj["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def _graph(seed=5, n=60, m=180):
    rnd = random.Random(seed)
    edges = set()
    while len(edges) < m:
        u, v = int(n * rnd.random() ** 2), rnd.randrange(n)
        if u != v:
            edges.add((u, v))
    edges = sorted(edges)
    return (n, np.array([a for a, _ in edges]), np.array([b for _, b in edges]),
            list(range(n)), edges)


def test_oracles_agree_with_the_reference_oracles():
    n, src, dst, vertices, edges = _graph()
    got = oracle.expected_answers(n, src, dst)
    rank, steps = reference.pagerank_oracle(vertices, edges)
    assert got.pagerank_steps == steps
    assert np.allclose(got.pagerank, [rank[v] for v in vertices], rtol=1e-9)
    assert list(got.wcc) == [reference.wcc_oracle(vertices, edges)[v] for v in vertices]
    sym = edges + [(b, a) for a, b in edges]
    labels = reference.cdlp_oracle(vertices, sym)
    assert list(got.cdlp) == [labels[v] for v in vertices]
    tri = reference.triangles_oracle(vertices, edges)
    assert list(got.triangles) == [tri[v] for v in vertices]


def test_expected_import_edges_resolves_every_dialect():
    repos = ["repo_0", "repo_0", "repo_1", "repo_1"]
    paths = ["src/mod_0.py", "src/mod_1.c", "src/mod_0.java", "src/mod_1.py"]
    langs = ["python", "c", "java", "python"]
    contents = ["# h\nimport mod_1\nimport os\n",
                '// h\n#include "mod_0.h"\n#include "repo_1/mod_0.h"\n',
                "// h\nimport repo_1.mod_1;\nimport repo_0.mod_1;\n",
                "# h\nfrom repo_0.mod_0 import thing\nimport mod_1\n"]
    edges, tokens = oracle.expected_import_edges(repos, paths, langs, contents)
    assert tokens == 8
    assert edges == {
        ("repo_0/src/mod_0.py", "repo_0/src/mod_1.c"),
        ("repo_0/src/mod_1.c", "repo_0/src/mod_0.py"),
        ("repo_0/src/mod_1.c", "repo_1/src/mod_0.java"),
        ("repo_1/src/mod_0.java", "repo_1/src/mod_1.py"),
        ("repo_1/src/mod_0.java", "repo_0/src/mod_1.c"),
        ("repo_1/src/mod_1.py", "repo_0/src/mod_0.py"),
    }


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(run.SPEC["workloads"]))
def test_smoke_run_emits_every_metric(workload, trace):
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--smoke",
         "--trace", str(trace), "--seed", "3"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert p.returncode == 0, p.stderr[-3000:]
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    table = {ln.split()[0]: ln.split()[1:] for ln in lines[:-1] if not ln.startswith("#")}
    for m in run.metric_table(workload, trace):
        value, unit, count = table[m["name"]]
        assert value != "missing" and unit == m["unit"] and count != "n=0", m["name"]
    if trace == 0:
        assert float(table["failed_frac"][0]) == 0.0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == \
        {m["name"]: m["unit"] for m in run.gated(trace)}
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())


def test_refuses_to_run_without_the_program():
    """A directory holding only BENCHMARK.json and perfbench/ fails fast."""
    bare = ROOT / ".perfbench_work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(HERE, bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "import-small",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=bare, capture_output=True, text=True, timeout=120)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        if not any(bare.parent.iterdir()):
            bare.parent.rmdir()
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
