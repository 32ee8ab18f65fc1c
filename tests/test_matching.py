"""MIS / matching / covers / dominating set / directed-triangle variants /
densest subgraph / onion layers — structural oracles + brute force."""

from __future__ import annotations

import itertools
import random
from collections import defaultdict

import pytest

from graphscope_spark import LinkGraph
from tests.conftest import power_law_graph


def _mk(spark, vertices, edges, parts=4):
    return LinkGraph(
        spark, spark.createDataFrame(edges, "src LONG, dst LONG"),
        vertices=spark.createDataFrame([(v,) for v in vertices], "vid LONG"),
        num_partitions=parts)


@pytest.fixture(scope="module")
def g50(spark):
    vertices, edges = power_law_graph(n=50, m=200, seed=17, with_dangling=False)
    g = _mk(spark, vertices, edges)
    und = defaultdict(set)
    for u, v in edges:
        if u != v:
            und[u].add(v)
            und[v].add(u)
    return g, vertices, edges, und


def _sim_mis(vertices, und):
    """Synchronous rule of ``mis``: each round every undecided vertex
    whose (deg, vid) is below all undecided neighbours' joins the set,
    and the winners' neighbours are excluded."""
    r = {v: (len(und[v]), v) for v in vertices}
    undecided, sel = set(vertices), set()
    while undecided:
        winners = {v for v in undecided
                   if all(r[v] < r[u] for u in und[v] & undecided)}
        sel |= winners
        undecided -= winners | {u for w in winners for u in und[w]}
    return {v: v in sel for v in vertices}


def _sim_matching(vertices, und):
    """Synchronous rule of ``maximal_matching``: every unmatched vertex
    proposes to its max-id unmatched neighbour; mutual proposals match."""
    mate = dict.fromkeys(vertices)
    while True:
        un = {v for v in vertices if mate[v] is None}
        props = {v: max(und[v] & un) for v in un if und[v] & un}
        mutual = {v: p for v, p in props.items() if props.get(p) == v}
        if not mutual:
            return mate
        mate.update(mutual)


def _sim_onion(vertices, und):
    """The rule in the ``onion_layers`` docstring, on peel-order core
    numbers."""
    deg, alive, core, k = {v: len(und[v]) for v in vertices}, set(vertices), {}, 0
    while alive:
        v = min(alive, key=lambda x: (deg[x], x))
        k = max(k, deg[v])
        core[v] = k
        alive.remove(v)
        for u in und[v] & alive:
            deg[u] -= 1
    d = {v: sum(1 for u in und[v] if core[u] >= core[v]) for v in vertices}
    layer, i = {}, 0
    while len(layer) < len(vertices):
        newly = {v for v in vertices if v not in layer and d[v] <= core[v]}
        for v in vertices:
            if v not in layer and v not in newly:
                d[v] -= sum(1 for u in und[v] & newly if core[u] == core[v])
        layer.update(dict.fromkeys(newly, i))
        i += 1
    return layer


def test_mis(spark, g50):
    from graphscope_spark import mis

    g, vertices, edges, und = g50
    got = {r["vid"]: r["in_mis"] for r in mis(g).collect()}
    sel = {v for v, m in got.items() if m}
    # independent
    for v in sel:
        assert not (und[v] & sel), v
    # maximal: every non-member has a member neighbor
    for v in vertices:
        if v not in sel:
            assert und[v] & sel, v
    # deterministic, and exactly the synchronous (deg, vid) rule
    got2 = {r["vid"]: r["in_mis"] for r in mis(g).collect()}
    assert got == got2
    assert got == _sim_mis(vertices, und)


def test_maximal_matching_and_edge_cover(spark, g50):
    from graphscope_spark import maximal_matching, min_edge_cover

    g, vertices, edges, und = g50
    mm = {r["vid"]: r["mate"] for r in maximal_matching(g).collect()}
    assert mm == _sim_matching(vertices, und)
    matched = {v for v, m in mm.items() if m is not None}
    for v in matched:
        assert mm[mm[v]] == v  # symmetric
        assert mm[v] in und[v]  # real edge
    # maximal: no edge between two unmatched vertices
    for v in vertices:
        if v not in matched and und[v]:
            assert all(u in matched for u in und[v]), v
    cover = {(r["src"], r["dst"]) for r in min_edge_cover(g).collect()}
    covered = {x for e in cover for x in e}
    for u, v in cover:
        assert v in und[u]
    for v in vertices:
        if und[v]:  # every non-isolated vertex covered
            assert v in covered, v
    # size = |MM| + #unmatched non-isolated (reference min-edge-cover.h:85-90)
    n_unmatched = sum(1 for v in vertices if v not in matched and und[v])
    assert len(cover) == len(matched) // 2 + n_unmatched


def test_min_vertex_cover(spark, g50):
    from graphscope_spark import min_vertex_cover

    g, vertices, edges, und = g50
    cov = {r["vid"] for r in min_vertex_cover(g).collect()}
    for u, v in edges:
        if u != v:
            assert u in cov or v in cov, (u, v)
    assert len(cov) < len(vertices)  # non-trivial


def test_min_dominating_set(spark, g50):
    from graphscope_spark import min_dominating_set

    g, vertices, edges, und = g50
    ds = {r["vid"] for r in min_dominating_set(g).collect()}
    for v in vertices:
        assert v in ds or (und[v] & ds), v
    assert len(ds) < len(vertices)


def test_directed_triangle_variants(spark):
    from graphscope_spark import (
        acyclic_triangle_count,
        cyclic_triangle_count,
        in_triangle_count,
        out_triangle_count,
    )

    rnd = random.Random(3)
    n = 20
    edges = set()
    while len(edges) < 110:
        u, v = rnd.randrange(n), rnd.randrange(n)
        if u != v:
            edges.add((u, v))
    e = sorted(edges)
    g = _mk(spark, list(range(n)), e)
    es = set(e)
    und = defaultdict(set)
    for u, v in e:
        und[u].add(v)
        und[v].add(u)
    deg = {v: len(und[v]) for v in range(n)}

    # acyclic: ordered (s, d, x): s→d, s→x, d→x
    want_acyc = sum(1 for s, d in es for x in range(n)
                    if (s, x) in es and (d, x) in es)
    assert acyclic_triangle_count(g) == want_acyc

    # cyclic: s→d→x→s with x (deg,id)-max
    want_cyc = 0
    for s, d in es:
        for x in range(n):
            if (d, x) in es and (x, s) in es:
                kx, ks, kd = (deg[x], x), (deg[s], s), (deg[d], d)
                if kx > ks and kx > kd:
                    want_cyc += 1
    assert cyclic_triangle_count(g) == want_cyc

    # mutual pairs + common out/in neighbor
    mutual = {(a, b) for a, b in es if (b, a) in es and a < b}
    want_in = sum(1 for a, b in mutual for x in range(n)
                  if (a, x) in es and (b, x) in es)
    want_out = sum(1 for a, b in mutual for x in range(n)
                   if (x, a) in es and (x, b) in es)
    assert in_triangle_count(g) == want_in
    assert out_triangle_count(g) == want_out


def test_densest_and_onion(spark, g50):
    from graphscope_spark import core_numbers, densest_subgraph_2approx, onion_layers

    g, vertices, edges, und = g50
    cores = {r["vid"]: r["core"] for r in core_numbers(g).collect()}
    kmax = max(cores.values())
    s = {v for v, c in cores.items() if c == kmax}
    ne = sum(1 for v in s for u in und[v] if u in s)  # both endpoints
    density, sdf = densest_subgraph_2approx(g)
    assert {r["vid"] for r in sdf.collect()} == s
    assert abs(density - ne / len(s)) < 1e-9

    layers = {r["vid"]: r["layer"] for r in onion_layers(g).collect()}
    assert set(layers) == set(vertices)
    assert all(x >= 0 for x in layers.values())
    # onion refines cores: layer order consistent within each core —
    # the FIRST layer of core k vertices has remaining degree <= k
    # (sanity: every vertex got a layer and layers are deterministic)
    layers2 = {r["vid"]: r["layer"] for r in onion_layers(g).collect()}
    assert layers == layers2
    assert layers == _sim_onion(vertices, und)