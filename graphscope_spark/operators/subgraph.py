"""Subgraph counting — rectangles, diamonds, tailed triangles, 3-paths,
k-cliques.

Reference (FLASH subgraph suite, semantics reproduced exactly):
- rectangle (4-cycle) counting:
  /root/reference/analytical_engine/apps/flash/subgraph/rectangle.h:44-80 —
  wedges u–m–o with o ≻ m and o ≻ u in the global (degree, id) order;
  rectangles = Σ over endpoint pairs (u, o) of C(#wedges, 2).
- diamond counting (4-cycle + chord):
  /root/reference/analytical_engine/apps/flash/subgraph/diamond.h:46-84 —
  Σ over edges (v, o) of C(|N(v) ∩ N(o)|, 2); each diamond is counted
  once at its chord edge.
- tailed triangle:
  /root/reference/analytical_engine/apps/flash/subgraph/tailed-triangle.h:
  45-85 — Σ over undirected edges e=(u,v) of p_e·(deg u − 2) +
  p_e·(deg v − 2), halved; p_e = common-neighbor count of e.
- 3-path: /root/reference/analytical_engine/apps/flash/subgraph/3-path.h:
  42-76 — Σ over undirected edges of (deg u − 1)(deg v − 1) − p_e.
- k-clique: /root/reference/analytical_engine/apps/flash/subgraph/
  k-clique.h:44-90 — ordered enumeration over the degree-ordered
  orientation (the reference recurses per vertex; here each extension
  level is one batched join, so the whole frontier of partial cliques
  shares a shuffle).

Spark shapes: everything except rectangles reduces to the per-edge
common-neighbor count p_e, derived from the oriented triangle list (no
new joins beyond the triangle template). Rectangles enumerate ordered
wedges — fan-out bounded by deg(center)·|N⁺(center)| with |N⁺| ≤ O(√E),
the same bound the reference's per-vertex loops have.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.graph import LinkGraph
from graphscope_spark.operators.triangles import oriented_edges, triangle_list


def _edge_common_neighbors(graph: LinkGraph) -> DataFrame:
    """(lo, hi, p): per canonical undirected edge, the number of common
    neighbors — equivalently the number of triangles through the edge."""
    tris = triangle_list(graph)
    # each triangle contributes to its three edges (canonicalized lo<hi)
    edges3 = (
        tris.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .unionAll(tris.select(F.col("b").alias("x"), F.col("c").alias("y")))
        .unionAll(tris.select(F.col("a").alias("x"), F.col("c").alias("y")))
        .select(F.least("x", "y").alias("lo"), F.greatest("x", "y").alias("hi"))
    )
    p = edges3.groupBy("lo", "hi").agg(F.count("*").alias("p"))
    canon = (
        graph.und_edges().filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("lo"), F.col("dst").alias("hi"))
    )
    return canon.join(p, ["lo", "hi"], "left").select(
        "lo", "hi", F.coalesce("p", F.lit(0)).cast("long").alias("p"))


def _with_degrees(graph: LinkGraph, df: DataFrame) -> DataFrame:
    deg = graph.und_degrees()
    return (
        df.join(deg.select(F.col("vid").alias("lo"), F.col("deg").alias("dlo")), "lo")
        .join(deg.select(F.col("vid").alias("hi"), F.col("deg").alias("dhi")), "hi")
    )


def diamond_count(graph: LinkGraph) -> int:
    """Number of diamonds (4-cycles with a chord), each counted once at
    its chord: Σ_edges C(p_e, 2)."""
    pe = _edge_common_neighbors(graph)
    # sum p·(p−1) as exact longs, halve in Python — SQL "/" is double
    # division, which drops low-order bits once the sum exceeds 2^53
    row = pe.agg(F.sum(F.col("p") * (F.col("p") - 1)).alias("c")).first()
    return int(row["c"] or 0) // 2


def tailed_triangle_count(graph: LinkGraph) -> int:
    """Number of tailed triangles (triangle + pendant edge)."""
    pe = _with_degrees(graph, _edge_common_neighbors(graph))
    row = pe.agg(F.sum(
        F.col("p") * ((F.col("dlo") - 2) + (F.col("dhi") - 2))).alias("c")
    ).first()
    return int((row["c"] or 0) // 2)


def three_path_count(graph: LinkGraph) -> int:
    """Number of simple 3-edge paths (FLASH counting convention)."""
    pe = _with_degrees(graph, _edge_common_neighbors(graph))
    row = pe.agg(F.sum(
        (F.col("dlo") - 1) * (F.col("dhi") - 1) - F.col("p")).alias("c")
    ).first()
    return int(row["c"] or 0)


def rectangle_count(graph: LinkGraph) -> int:
    """Number of rectangles (chordless-or-not 4-cycles, each once)."""
    und = graph.und_edges()
    deg = graph.und_degrees()
    # global order key: (deg, vid); o ≻ m and o ≻ u
    key = lambda d, v: F.struct(F.col(d).alias("k1"), F.col(v).alias("k2"))  # noqa: E731
    m_side = (
        und.select(F.col("src").alias("m"), F.col("dst").alias("u"))
        .join(deg.select(F.col("vid").alias("m"), F.col("deg").alias("dm")), "m")
        .join(deg.select(F.col("vid").alias("u"), F.col("deg").alias("du")), "u")
    )
    o_side = (
        und.select(F.col("src").alias("m"), F.col("dst").alias("o"))
        .join(deg.select(F.col("vid").alias("m"), F.col("deg").alias("dm2")), "m")
        .join(deg.select(F.col("vid").alias("o"), F.col("deg").alias("do")), "o")
        .filter(key("do", "o") > key("dm2", "m"))  # o ≻ m
        .select("m", "o", "do")
    )
    wedges = (
        m_side.join(o_side, "m")
        .filter(key("do", "o") > key("du", "u"))  # o ≻ u (implies o != u)
        .select("u", "o")
    )
    w = wedges.groupBy("u", "o").agg(F.count("*").alias("w"))
    row = w.agg(F.sum(F.col("w") * (F.col("w") - 1)).alias("c")).first()
    return int(row["c"] or 0) // 2


def subgraph_counts(graph: LinkGraph, k: int = 4) -> dict:
    """All five FLASH subgraph-template counts sharing ONE per-edge
    common-neighbor pipeline: diamond/tailed/3-path are different sums
    over the same (lo, hi, p, dlo, dhi) table, so they ride a single
    aggregate pass instead of recomputing the triangle list per count
    (three separate pipelines fused into one)."""
    pe = _with_degrees(graph, _edge_common_neighbors(graph))
    row = pe.agg(
        F.sum(F.col("p") * (F.col("p") - 1)).alias("diamonds2"),
        F.sum(F.col("p") * ((F.col("dlo") - 2) + (F.col("dhi") - 2))).alias("tailed2"),
        F.sum((F.col("dlo") - 1) * (F.col("dhi") - 1) - F.col("p")).alias("paths"),
    ).first()
    return {
        "rectangles": rectangle_count(graph),
        "diamonds": int(row["diamonds2"] or 0) // 2,
        "tailed": int(row["tailed2"] or 0) // 2,
        "three_paths": int(row["paths"] or 0),
        f"k{k}_cliques": k_clique_count(graph, k),
    }


def _simple_directed(graph: LinkGraph) -> DataFrame:
    """Graph-lifetime cached simple directed view (one build shared by
    all four directed-triangle counts on the same graph)."""
    return graph.dir_simple_edges()


def acyclic_triangle_count(graph: LinkGraph) -> int:
    """Transitive (acyclic) directed triangles s→d, s→x, d→x — counted
    once at the top edge (reference
    apps/flash/subgraph/acyclic-triangle.h:46-70)."""
    e = _simple_directed(graph)
    n = (
        e.alias("sd")
        .join(e.alias("sx"), F.col("sd.src") == F.col("sx.src"))
        .join(e.alias("dx"), (F.col("dx.src") == F.col("sd.dst"))
              & (F.col("dx.dst") == F.col("sx.dst")))
        .count()
    )
    return n


def cyclic_triangle_count(graph: LinkGraph) -> int:
    """Cyclic directed triangles s→d→x→s, counted once at the edge whose
    missing corner x is the (degree, id)-max (reference
    apps/flash/subgraph/cyclic-triangle.h:44-75)."""
    e = _simple_directed(graph)
    deg = graph.und_degrees()
    d_s = deg.select(F.col("vid").alias("s"), F.col("deg").alias("ds"))
    d_d = deg.select(F.col("vid").alias("d"), F.col("deg").alias("dd"))
    d_x = deg.select(F.col("vid").alias("x"), F.col("deg").alias("dx"))
    tri = (
        e.select(F.col("src").alias("s"), F.col("dst").alias("d"))
        .join(e.select(F.col("src").alias("d"), F.col("dst").alias("x")), "d")
        .join(e.select(F.col("src").alias("x"), F.col("dst").alias("s")),
              ["x", "s"], "left_semi")
        .join(d_s, "s").join(d_d, "d").join(d_x, "x")
        .filter(
            (F.struct(F.col("dx").alias("k1"), F.col("x").alias("k2"))
             > F.struct(F.col("ds").alias("k1"), F.col("s").alias("k2")))
            & (F.struct(F.col("dx").alias("k1"), F.col("x").alias("k2"))
               > F.struct(F.col("dd").alias("k1"), F.col("d").alias("k2"))))
    )
    n = tri.count()
    return n


def _mutual_pairs(e: DataFrame) -> DataFrame:
    """(a, b) unordered mutual-edge pairs (a < b), both directions present."""
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return (
        e.join(rev, ["src", "dst"], "left_semi")
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
    )


def in_triangle_count(graph: LinkGraph) -> int:
    """Mutual pair {a,b} + common OUT-neighbor x (a→x, b→x) — the
    reference's "in+" pattern (apps/flash/subgraph/in-triangle.h:47-75)."""
    e = _simple_directed(graph)
    mp = _mutual_pairs(e)
    n = (
        mp.join(e.select(F.col("src").alias("a"), F.col("dst").alias("x")), "a")
        .join(e.select(F.col("src").alias("b"), F.col("dst").alias("x")),
              ["b", "x"], "left_semi")
        .count()
    )
    return n


def out_triangle_count(graph: LinkGraph) -> int:
    """Mutual pair {a,b} + common IN-neighbor x (x→a, x→b) — the
    reference's "out+" pattern (apps/flash/subgraph/out-triangle.h:47-75)."""
    e = _simple_directed(graph)
    mp = _mutual_pairs(e)
    n = (
        mp.join(e.select(F.col("dst").alias("a"), F.col("src").alias("x")), "a")
        .join(e.select(F.col("dst").alias("b"), F.col("src").alias("x")),
              ["b", "x"], "left_semi")
        .count()
    )
    return n


def cycle_plus_triangle_count(graph: LinkGraph) -> int:
    """Σ over directed edges (s, d) whose reverse edge d→s also exists of
    |in(s) ∩ out(d)| — each mutual edge contributes the number of x with
    x→s and d→x closing a directed cycle d→x→s→d on top of the
    reciprocal pair (reference
    apps/flash/subgraph/cycle-plus-triangle.h:52-79: update2 counts, per
    dense edge s→d with did ∈ s.in, the overlap of s.in and d.out)."""
    e = _simple_directed(graph)
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    mut = e.join(rev, ["src", "dst"], "left_semi") \
        .select(F.col("src").alias("s"), F.col("dst").alias("d"))
    n = (
        mut.join(e.select(F.col("dst").alias("s"), F.col("src").alias("x")), "s")
        .join(e.select(F.col("src").alias("d"), F.col("dst").alias("x")),
              ["d", "x"], "left_semi")
        .count()
    )
    return n


def densest_subgraph_2approx(graph: LinkGraph) -> tuple[float, DataFrame]:
    """(density, vertices) — the max-core subgraph, a 2-approximation of
    the densest subgraph; density = average degree inside the subgraph,
    matching the reference's GlobalRes (reference
    apps/flash/subgraph/densest-sub-2-approx.h:45-95: per-vertex core
    fixpoint, then ne/nv over the max-core set where ne counts each
    internal edge at both endpoints)."""
    from graphscope_spark.operators.cores import core_numbers

    cores = core_numbers(graph)
    kmax = cores.agg(F.max("core")).first()[0] or 0
    s = cores.filter(F.col("core") == kmax).select("vid")
    und = graph.und_edges()
    ne = (
        und.join(s.withColumnRenamed("vid", "src"), "src", "left_semi")
        .join(s.withColumnRenamed("vid", "dst"), "dst", "left_semi")
        .count()
    )
    nv = s.count()
    return (ne / nv if nv else 0.0), s


def k_clique_count(graph: LinkGraph, k: int = 4) -> int:
    """Number of k-cliques (k ≥ 3), by ordered extension over the
    degree-ordered orientation: a clique is enumerated once as its
    ascending (deg, vid)-ordered member chain. Each level extends every
    partial clique by one higher-ordered common neighbor in one batched
    join + membership verification."""
    if k < 2:
        raise ValueError("k must be >= 2")
    # oriented_edges keeps src→dst with dst ≺ src; ascending pairs are
    # (dst, src): lo → hi
    asc = oriented_edges(graph).select(
        F.col("dst").alias("lo"), F.col("src").alias("hi")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    if k == 2:
        n = asc.count()
        asc.unpersist()
        return n
    cliques = asc.select(F.array("lo", "hi").alias("members"),
                         F.col("hi").alias("last"))
    for _ in range(k - 2):
        cand = (
            cliques.join(asc.withColumnRenamed("lo", "last"), "last")
            .select("members", F.col("hi").alias("w"))
        )
        # w must be adjacent to every member except `last` (already its
        # neighbor); all members ≺ w, so the pair (m, w) is ascending
        pairs = cand.select(
            "members", "w",
            F.explode(F.slice("members", 1, F.size("members") - 1)).alias("m"))
        ok = (
            pairs.join(asc, (pairs["m"] == asc["lo"]) & (pairs["w"] == asc["hi"]),
                       "left_semi")
            .groupBy("members", "w").agg(F.count("*").alias("adj"))
            .filter(F.col("adj") == F.size("members") - 1)
        )
        cliques = ok.select(
            F.concat("members", F.array("w")).alias("members"),
            F.col("w").alias("last"))
    n = cliques.count()
    asc.unpersist()
    return n
