"""Corpus synthesis + ingest + edge resolution (north-rule input path)."""

from __future__ import annotations

import hashlib
import re

from graphscope_spark.corpus import (
    _gen_file,
    build_import_graph,
    ingest,
    resolve_edges,
    synthesize_corpus,
)
from graphscope_spark.operators.pagerank import pagerank

from tests.oracles import pagerank_oracle
from tests.test_plan_quality import _formatted

N_FILES = 200
FILES_PER_REPO = 25


def _local_corpus():
    return [
        _gen_file(i // FILES_PER_REPO, i % FILES_PER_REPO, FILES_PER_REPO, 42)
        for i in range(N_FILES)
    ]


def _oracle_edges(rows):
    """Independent pure-Python import resolver (regex over content)."""
    mods = {}
    for repo, path, _, _, _ in rows:
        m = re.match(r".*/([\w\-]+)\.\w+$", path)
        mods[(repo, m.group(1))] = f"{repo}/{path}"
    edges = set()
    for repo, path, _, lang, content in rows:
        src = f"{repo}/{path}"
        for line in content.splitlines():
            tok = None
            if lang == "python":
                m = re.match(r"^import\s+([\w\.]+)|^from\s+([\w\.]+)\s+import\b", line)
                tok = (m.group(1) or m.group(2)) if m else None
            elif lang == "c":
                m = re.match(r'^#include\s+"([^"]+)"', line)
                tok = m.group(1) if m else None
            elif lang == "java":
                m = re.match(r"^import\s+([\w\.]+)\s*;", line)
                tok = m.group(1) if m else None
            if not tok:
                continue
            tok = re.sub(r"\.h$", "", tok).replace("/", ".")
            if tok.startswith(repo + "."):
                tok = tok[len(repo) + 1:]
            parts = tok.split(".")
            trepo = parts[0] if re.match(r"^repo_\d+$", parts[0]) and len(parts) > 1 else repo
            tmod = parts[-1]
            dst = mods.get((trepo, tmod))
            if dst and dst != src:
                edges.add((src, dst))
    return edges


def test_corpus_deterministic_and_shaped(spark):
    c = synthesize_corpus(spark, n_files=N_FILES, files_per_repo=FILES_PER_REPO)
    rows = sorted(c.collect())
    assert len(rows) == N_FILES
    assert c.columns == ["repo", "path", "commit", "lang", "content"]
    # distributed generation == local pure-function generation, regardless
    # of partitioning (scale-independence of the generator)
    local = sorted(_local_corpus())
    assert [tuple(r) for r in rows] == local
    c2 = synthesize_corpus(spark, n_files=N_FILES, files_per_repo=FILES_PER_REPO,
                           num_partitions=3)
    assert sorted(tuple(r) for r in c2.collect()) == local


def test_ingest_sha256_invariant(spark):
    c = synthesize_corpus(spark, n_files=N_FILES, files_per_repo=FILES_PER_REPO)
    files = ingest(c).collect()
    assert len(files) == N_FILES
    expect = {
        f"{repo}/{path}": hashlib.sha256(content.encode()).hexdigest()
        for repo, path, _, _, content in _local_corpus()
    }
    for r in files:
        assert r["sha256"] == expect[r["oid"]], r["oid"]
        assert isinstance(r["imports"], list)
    # hub structure: mod_0 of each repo is imported by most repo-mates
    assert any(len(r["imports"]) > 0 for r in files)


def test_resolve_edges_matches_oracle(spark):
    c = synthesize_corpus(spark, n_files=N_FILES, files_per_repo=FILES_PER_REPO)
    got = {
        (r["src_oid"], r["dst_oid"]) for r in resolve_edges(ingest(c)).collect()
    }
    want = _oracle_edges(_local_corpus())
    assert got == want
    assert len(got) > N_FILES  # dense enough to be a real graph


def test_import_graph_pagerank(spark):
    c = synthesize_corpus(spark, n_files=N_FILES, files_per_repo=FILES_PER_REPO)
    g = build_import_graph(spark, c, num_partitions=8)
    # edge provenance: sha256 present on resolved edges
    oid_of = {r["vid"]: r["oid"] for r in g.vertices.collect()}
    vids = set(oid_of)
    edges = [(r["src"], r["dst"]) for r in g.edges.collect()]
    ranks = {r["vid"]: r["rank"] for r in pagerank(g).collect()}
    want, _ = pagerank_oracle(sorted(vids), edges)
    assert len(ranks) == len(want)
    for v, r in ranks.items():
        assert abs(r - want[v]) < 1e-6, (v, oid_of[v], r, want[v])


def test_build_path_runs_the_extract_udf_once(spark):
    """An inner explode of the UDF's array lets the optimizer infer
    ``size(imports) > 0`` on its input, a second ArrowEvalPython of the
    same UDF over every file."""
    c = synthesize_corpus(spark, n_files=N_FILES, files_per_repo=FILES_PER_REPO)
    plan = _formatted(resolve_edges(ingest(c)))
    assert plan.split("\n(1)")[0].count("ArrowEvalPython") == 1, plan


def test_import_graph_plans_cut_the_corpus_lineage(spark):
    """The graph's base tables are leaf plans: no cache or operator plan
    built on them carries the corpus pipeline, whose full text AQE would
    render again on every plan update."""
    from graphscope_spark.operators.triangles import triangles

    c = synthesize_corpus(spark, n_files=N_FILES, files_per_repo=FILES_PER_REPO)
    g = build_import_graph(spark, c, num_partitions=4)
    for name, df in (("edges", g.edges), ("vertices", g.vertices),
                     ("triangles", triangles(g))):
        plan = _formatted(df)
        for node in ("MapInPandas", "ArrowEvalPython"):
            assert node not in plan, f"{name} plan carries {node}:\n{plan}"
    g.unpersist_all()
