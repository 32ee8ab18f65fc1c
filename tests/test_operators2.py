"""Traversal / centrality / cores / clustering vs pure-Python oracles."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from graphscope_spark import (
    LinkGraph,
    avg_clustering,
    bfs,
    closeness_centrality,
    core_numbers,
    degree_centrality,
    eigenvector_centrality,
    hits,
    katz_centrality,
    kcore,
    kshell,
    lcc,
    sssp,
    transitivity,
)
from tests import oracles


@pytest.fixture(scope="module")
def g(spark, small_graph):
    vertices, edges = small_graph
    vdf = spark.createDataFrame([(v,) for v in vertices], "vid LONG")
    edf = spark.createDataFrame(edges, "src LONG, dst LONG")
    return LinkGraph(spark, edf, vertices=vdf, directed=True, num_partitions=4)


@pytest.fixture(scope="module")
def wg(spark, small_graph):
    """Weighted variant: deterministic integer weights."""
    vertices, edges = small_graph
    rnd = random.Random(7)
    wedges = [(u, v, float(rnd.randint(1, 10))) for u, v in edges]
    vdf = spark.createDataFrame([(v,) for v in vertices], "vid LONG")
    edf = spark.createDataFrame(wedges, "src LONG, dst LONG, weight DOUBLE")
    return LinkGraph(spark, edf, vertices=vdf, directed=True, num_partitions=4), wedges


def test_bfs(g, small_graph):
    vertices, edges = small_graph
    got = {r["vid"]: r["depth"] for r in bfs(g, source=0).collect()}
    want = oracles.bfs_oracle(vertices, edges, 0)
    assert got == want


def test_sssp_weighted(wg, small_graph):
    vertices, _ = small_graph
    graph, wedges = wg
    got = {r["vid"]: r["dist"] for r in sssp(graph, source=0, weight_col="weight").collect()}
    want = oracles.sssp_oracle(vertices, wedges, 0)
    assert got == want


def test_degree_centrality(g, small_graph):
    vertices, edges = small_graph
    n = len(vertices)
    from collections import Counter

    od = Counter(u for u, _ in edges)
    idg = Counter(v for _, v in edges)
    got = {r["vid"]: r["centrality"] for r in degree_centrality(g, "both").collect()}
    for v in vertices:
        assert abs(got[v] - (od[v] + idg[v]) / (n - 1)) < 1e-12


def test_eigenvector(g, small_graph):
    vertices, edges = small_graph
    got = {r["vid"]: r["centrality"] for r in eigenvector_centrality(g).collect()}
    want = oracles.eigenvector_oracle(vertices, edges)
    assert len(got) == len(want)
    for v in vertices:
        assert abs(got[v] - want[v]) < 1e-6, v


def test_katz(g, small_graph):
    vertices, edges = small_graph
    got = {r["vid"]: r["centrality"] for r in katz_centrality(g).collect()}
    want = oracles.katz_oracle(vertices, edges)
    for v in vertices:
        assert abs(got[v] - want[v]) < 1e-6, v


def test_hits(g, small_graph):
    vertices, edges = small_graph
    res = {r["vid"]: (r["hub"], r["auth"]) for r in hits(g).collect()}
    hub, auth = oracles.hits_oracle(vertices, edges)
    for v in vertices:
        assert abs(res[v][0] - hub[v]) < 1e-6, ("hub", v)
        assert abs(res[v][1] - auth[v]) < 1e-6, ("auth", v)


def test_core_numbers_kcore_kshell(g, small_graph):
    vertices, edges = small_graph
    want = oracles.core_number_oracle(vertices, edges)
    got = {r["vid"]: r["core"] for r in core_numbers(g).collect()}
    assert got == want
    kmax = max(want.values())
    # the (kmax+1)-core is empty: its peel drops every edge
    for k in range(1, kmax + 2):
        in_kcore = {r["vid"] for r in kcore(g, k).collect()}
        assert in_kcore == {v for v, c in want.items() if c >= k}, k
    shell = {r["vid"] for r in kshell(g, kmax - 1).collect()}
    assert shell == {v for v, c in want.items() if c == kmax - 1}


def test_lcc_and_global_coefficients(g, small_graph):
    vertices, edges = small_graph
    tri = oracles.triangles_oracle(vertices, edges)
    from collections import defaultdict

    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    deg = {v: len(adj[v]) for v in vertices}
    got = {r["vid"]: r["lcc"] for r in lcc(g).collect()}
    for v in vertices:
        want = 2.0 * tri[v] / (deg[v] * (deg[v] - 1)) if deg[v] >= 2 else 0.0
        assert abs(got[v] - want) < 1e-12, v
    want_avg = sum(
        2.0 * tri[v] / (deg[v] * (deg[v] - 1)) if deg[v] >= 2 else 0.0
        for v in vertices
    ) / len(vertices)
    assert abs(avg_clustering(g) - want_avg) < 1e-12
    n_tri = sum(tri.values()) // 3
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    assert abs(transitivity(g) - (3.0 * n_tri / wedges)) < 1e-12


def test_closeness_sampled(g, small_graph):
    vertices, edges = small_graph
    sources = vertices[:20]
    got = {r["vid"]: r["closeness"]
           for r in closeness_centrality(g, sources=sources).collect()}
    want = oracles.closeness_oracle(vertices, edges)
    for v in sources:
        assert abs(got[v] - want[v]) < 1e-12, v


def test_eccentricity_and_diameter(spark, tiny_graph):
    from graphscope_spark.operators.traversal import diameter_approx, eccentricity
    from graphscope_spark import LinkGraph

    vertices, edges = tiny_graph
    g = LinkGraph(spark, spark.createDataFrame(edges, "src LONG, dst LONG"),
                  vertices=spark.createDataFrame([(v,) for v in vertices], "vid LONG"),
                  num_partitions=2)
    ecc = {r["vid"]: r["ecc"] for r in eccentricity(g, sources=vertices).collect()}
    want = {}
    for s in vertices:
        depth = oracles.bfs_oracle(vertices, edges, s)
        want[s] = max(d for d in depth.values() if d >= 0)
    assert ecc == want
    assert diameter_approx(g, num_pivots=len(vertices)) == max(want.values())
